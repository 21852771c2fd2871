#!/bin/bash
# Regenerate bench-data/sf1 and bench-data/sf10 (wiped between rounds).
# Fails loudly: a failed sf1 generation must NOT silently proceed to sf10
# and exit 0 — partial bench data would feed the correctness gates.
set -euo pipefail
. "$(dirname "$0")/java_env.sh"
set -x
cd "$GRAFT_REPO"
GEN_MEM="${GEN_MEM:-48g}"
snapshot_classes
CP="$SNAP:/opt/spark/jars/*"
java $JAVA_FLAGS -Xmx"$GEN_MEM" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.tools.GenScale /root/testdata/sf0.1 bench-data/sf1 10 \
  > /tmp/gen_sf1.log 2>&1 || { echo "sf1 generation FAILED rc=$? (see /tmp/gen_sf1.log)"; exit 1; }
echo "sf1 done"
java $JAVA_FLAGS -Xmx"$GEN_MEM" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.tools.GenScale /root/testdata/sf0.1 bench-data/sf10 100 \
  > /tmp/gen_sf10.log 2>&1 || { echo "sf10 generation FAILED rc=$? (see /tmp/gen_sf10.log)"; exit 1; }
echo "sf10 done"
