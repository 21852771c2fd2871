#!/bin/bash
# In-engine self-consistency correctness gate at sf10 (100x): alternate
# formulations the repo proves equal at small sf, hash-compared inside
# Spark where single-node DuckDB cannot follow. Writes
# CORRECTNESS_SF10_self.json (see graft.tools.SelfCheck).
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
SPARK_GRAFT_CPUS=32 \
java $JAVA_FLAGS -Xmx64g -Dspark.ui.enabled=false -Dspark.sql.files.maxPartitionBytes=2097152 \
  -Dspark.sql.session.timeZone=UTC -cp "$SNAP:/opt/spark/jars/*" \
  graft.tools.SelfCheck /root/repo/bench-data/sf10 \
  /root/repo/CORRECTNESS_SF10_self.json > /tmp/selfcheck_sf10.log 2>&1
tail -5 /tmp/selfcheck_sf10.log
