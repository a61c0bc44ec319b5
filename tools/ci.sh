#!/usr/bin/env bash
# Full verification gauntlet — every check the driver/judge runs, locally.
# Usage: tools/ci.sh [sf_dir]    (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
# spark_submit.sh launches local[$SPARK_GRAFT_CPUS]; default to this host's cores
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

echo "== 1/5 pytest (full suite) =="
python -m pytest tests/ -x -q

echo "== 2/5 perfbench self-test (APIs the benchmark's traced run calls) =="
python -m pytest perfbench/tests -q

echo "== 3/5 correctness-gate replica (tuned session) =="
python tools/check_contract.py "$SF"

echo "== 4/5 correctness-gate replica (vanilla default-config session) =="
CONTRACT_VANILLA=1 python tools/check_contract.py "$SF"

echo "== 5/5 spark-submit launch + checkpoint-resume + query probe =="
OUT=$(mktemp -d /tmp/ir_ci_idx.XXXX)
trap 'rm -rf "$OUT"' EXIT
tools/spark_submit.sh --docs 2000 --units 4 --out "$OUT" | tail -1
test -f "$OUT/index_store/CURRENT"
echo "index store committed"
# no `&& echo` after a check: set -e ignores a failure on the left of &&
before=$(cat "$OUT/index_store/CURRENT")
tools/spark_submit.sh --docs 2000 --units 4 --out "$OUT" | tail -1 \
    | grep -q '"units_built_this_run": 0'
# a resumed run that built no unit commits no snapshot either
test "$(cat "$OUT/index_store/CURRENT")" = "$before"
echo "resume no-op ok"
# 5 hits for the default analyzer's terms, which the build committed
tools/spark_submit.sh --out "$OUT" --query "def return buffer" --k 5 | tail -1 \
    | python -c '
import json, sys
got = json.load(sys.stdin)
assert len(got["hits"]) == 5
assert got["query"] == ["def", "return", "buffer"], got["query"]
store = sys.argv[1] + "/index_store"
snap = open(store + "/CURRENT").read().strip()
analyzer = json.load(open(f"{store}/{snap}/state.json"))["analyzer"]
assert analyzer == {"strategy": "code", "stem": False, "stopwords": False}, analyzer
' "$OUT"
echo "query mode ok"

echo "ALL GREEN"
