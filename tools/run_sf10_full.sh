#!/bin/bash
# sf10 (100x, ~60M lineitem / 500k docs) FULL-surface spark-side bench.
# No DuckDB leg — the artifact is Spark-side scaling across every query.
#
# No skip list: GenScale now buckets copies into bounded clone groups with
# word-level edits across buckets, so near-dup pair output scales linearly
# and the pair-output dedup queries run at every scale.
. "$(dirname "$0")/java_env.sh"
set -x
# refuse to race a live data regeneration (round-9 post-mortem: a bench
# started during GenScale rewrite recorded every query as failed)
if pgrep -f "graft.tools.GenScale" > /dev/null; then
  echo "GenScale is running — refusing to bench against a moving sf dir" >&2
  exit 1
fi
cd /root/repo
snapshot_classes
SPARK_GRAFT_SF_DIR=/root/repo/bench-data/sf10 \
SPARK_GRAFT_ORACLE_WALL=0 \
SPARK_GRAFT_BENCH_OUT=/root/repo/BENCH_SF10_spark.json \
java $JAVA_FLAGS -Xmx80g -Dspark.ui.enabled=false -Dspark.sql.files.maxPartitionBytes=2097152 \
  -Dspark.sql.session.timeZone=UTC -cp "$SNAP:/opt/spark/jars/*" \
  graft.Bench > /tmp/sf10_bench.log 2>&1
tail -3 /tmp/sf10_bench.log
