#!/bin/bash
# Same-host Spark-vs-DuckDB bench pair at one scale factor:
#   1. graft.Verify dumps the DuckDB twins (bench_oracle_sql.json)
#   2. graft.Bench times the Spark half -> bench_results/<tag>_spark.json
#   3. tools/baseline.py times the DuckDB half -> bench_results/<tag>_duckdb.json
#   4. tools/compare_bench.py prints the per-row table and the totals
# Usage: tools/bench_pair.sh <sfdir> <tag> [row,row,...]
# The optional rows list restricts both halves (SPARK_GRAFT_BENCH_ONLY);
# an empty list is rejected. Thread count: SPARK_GRAFT_CPUS (Bench) and
# the 5th baseline.py argument. Halves run one after the other with a
# pause between them; never run two benches at once (BASELINE.md).
set -euo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 2 ] || { echo "usage: $0 <sfdir> <tag> [row,row,...]" >&2; exit 2; }
sf=$1 tag=$2 rows=
if [ $# -ge 3 ]; then
  rows=$(printf '%s' "$3" | tr -d ' \n')
  [ -n "${rows//,/}" ] || { echo "bench_pair: empty rows list" >&2; exit 2; }
fi
out=$(mktemp -d)
mkdir -p bench_results
sbt -batch "runMain graft.Verify $sf $out a1_agg_global"
oracle=$out/bench_oracle_sql.json
if [ -n "$rows" ]; then
  python3 -c 'import json, sys
o = json.load(open(sys.argv[1]))
json.dump({k: o[k] for k in sys.argv[2].split(",") if k in o}, open(sys.argv[3], "w"))' \
    "$oracle" "$rows" "$out/rows_oracle.json"
  oracle=$out/rows_oracle.json
fi
env SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_BENCH_OUT="bench_results/${tag}_spark.json" \
  ${rows:+SPARK_GRAFT_BENCH_ONLY=$rows} sbt -batch 'runMain graft.Bench'
sleep 60
python3 tools/baseline.py "$sf" "$oracle" 2 > "bench_results/${tag}_duckdb.json"
python3 tools/compare_bench.py "bench_results/${tag}_spark.json" \
  "bench_results/${tag}_duckdb.json" "$tag"
