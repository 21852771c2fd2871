#!/bin/bash
# sf10 spark-side headline run: 12 representative queries at ~60M lineitem
# (no DuckDB leg — the point of this artifact is Spark-side scaling).
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
# graft.Bench over the 12 queries only; the full line goes under /tmp so
# BENCH_SELF.json is never overwritten
SPARK_GRAFT_SF_DIR="$GRAFT_REPO/bench-data/sf10" \
SPARK_GRAFT_ONLY=changelog_upsert_materialize,rowimage_orders_upsert,dedup_exact_hash,\
dedup_minhash_lsh,similarity_topk_ivf,text_token_count,\
corpus_pack_sequences,corpus_shuffle,layout_zorder_ranges,\
interval_join,asof_join_last_event,chunk_ranges_uneven \
SPARK_GRAFT_ORACLE_WALL=0 \
SPARK_GRAFT_BENCH_OUT=/tmp/graft_sf10_headline.json \
java $JAVA_FLAGS -Xmx60g -Dspark.ui.enabled=false -Dspark.sql.files.maxPartitionBytes=2097152 \
  -Dspark.sql.session.timeZone=UTC -cp "$SNAP:/opt/spark/jars/*" \
  graft.Bench 2>&1 | grep -F "[bench]"
