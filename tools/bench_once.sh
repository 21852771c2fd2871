#!/bin/bash
# One Spark-leg bench run against an arbitrary classes snapshot.
# usage: bench_once.sh <classes_dir> <cpus> <out_json> [extra env as K=V ...]
set -u
CLASSES="$1"; CPUS="$2"; OUT="$3"; shift 3
. "$(dirname "$0")/java_env.sh"
env "$@" \
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_ORACLE_WALL="${SPARK_GRAFT_ORACLE_WALL:-0}" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
java $JAVA_FLAGS -Xmx48g -Dspark.ui.enabled=false \
  -Dspark.sql.files.maxPartitionBytes=2097152 \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench
