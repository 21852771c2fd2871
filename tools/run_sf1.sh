#!/bin/bash
# sf1 scale proof: bench (spark side), verify dump, correctness gate +
# oracle wall in ONE DuckDB pass (tools/check.py --json). Writes:
#   BENCH_SF1_spark.json  — full per-query spark bench line (oracle skipped)
#   CORRECTNESS_SF1.json  — per-query gate + per-oracle DuckDB seconds
#   BENCH_SF1.json        — combined headline artifact
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
CP="$SNAP:/opt/spark/jars/*"
SF=/root/repo/bench-data/sf1

echo "=== 1. spark bench at sf1 ==="
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_ORACLE_WALL=0 \
SPARK_GRAFT_BENCH_OUT=/root/repo/BENCH_SF1_spark.json \
java $JAVA_FLAGS -Xmx48g -Dspark.ui.enabled=false -Dspark.sql.files.maxPartitionBytes=2097152 \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench \
  > /tmp/sf1_bench.log 2>&1
tail -3 /tmp/sf1_bench.log

echo "=== 2. verify dump at sf1 ==="
SPARK_GRAFT_CPUS=16 \
java $JAVA_FLAGS -Xmx48g -Dspark.ui.enabled=false -Dspark.sql.files.maxPartitionBytes=2097152 \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Verify \
  $SF /root/repo/target/verify_sf1 > /tmp/sf1_verify.log 2>&1
tail -3 /tmp/sf1_verify.log

echo "=== 3. correctness gate + oracle wall at sf1 (single DuckDB pass) ==="
python3 tools/check.py $SF /root/repo/target/verify_sf1 \
  --oracle-timeout 1500 \
  --json /root/repo/CORRECTNESS_SF1.json > /tmp/sf1_check.log 2>&1
tail -5 /tmp/sf1_check.log

echo "=== 4. combine ==="
python3 - <<'EOF'
import json
spark = json.load(open("/root/repo/BENCH_SF1_spark.json"))
corr = json.load(open("/root/repo/CORRECTNESS_SF1.json"))
total = spark["value"]; wall = corr["oracle_wall_s"]
out = {"metric": "total", "value": round(total, 3), "unit": "sec",
       "sf": "bench-data/sf1 (~6M lineitem, 10x sf0.1)",
       "n_queries": len(spark["queries"]),
       "failed": spark.get("failed", []),
       "oracle_wall_s": wall,
       "bench_vs_baseline": round(total / wall, 4) if wall else None,
       "correctness": {"n_ok": corr["n_ok"], "n_bad": corr["n_bad"]},
       "queries": {k: round(v, 3) for k, v in spark["queries"].items()}}
with open("/root/repo/BENCH_SF1.json", "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
print("BENCH_SF1.json:", out["value"], "s vs duckdb", wall, "s =",
      out["bench_vs_baseline"])
EOF
echo "=== sf1 pipeline done ==="
