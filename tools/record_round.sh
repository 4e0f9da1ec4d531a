#!/bin/bash
# End-of-round records sequence (run each step ALONE — bench/scale
# timings assume no concurrent Spark process). Usage:
#   bash tools/record_round.sh <round>   # e.g. 8 or 08 (zero-padded
#   automatically: round 9 -> ORACLE_LOCAL_r09.txt)
# Produces/refreshes: ORACLE_LOCAL_r{N}.txt, SCALE_SWEEP_r{N}.json,
# BENCH_LOCAL_r{N}.json, PARALLELISM_r{N}.txt, PYTEST_FULL_r{N}.txt
# (the last 20 lines of the full-tier pytest run), and appends the
# dtype audit to ORACLE_VERSIONS.txt. After it finishes: regenerate the
# SCALE.md measured section via tools/gen_scale_table.py, update
# BASELINE.md via tools/gen_baseline_table.py if bench moved, and
# `wc -l` every record file before the final commit (background runs
# must not leave partial output).
#
# On ANY failure the trap deletes every output file this run created —
# a record either covers the full suite or does not exist (round 9
# died mid-script and left a partial single-SF oracle record committed
# next to the canonical tri-SF one; never again).
set -euo pipefail
cd "$(dirname "$0")/.."
N=$(printf '%02d' "$((10#${1:?round number}))")

OUTS=("ORACLE_LOCAL_r${N}.txt" "SCALE_SWEEP_r${N}.json" \
      "SCALE_SWEEP_r${N}.log" "BENCH_LOCAL_r${N}.json" \
      "BENCH_PASSES_r${N}.json" "PARALLELISM_r${N}.txt" \
      "PYTEST_FULL_r${N}.txt")
cleanup_on_fail() {
  echo "record_round.sh FAILED — deleting partial outputs: ${OUTS[*]}" >&2
  rm -f "${OUTS[@]}"
}
trap cleanup_on_fail ERR

{
  echo "=== sf0.001 ==="
  python tools/verify_oracle.py /root/testdata/sf0.001 2>&1 | grep -E '^(PASS|FAIL|[0-9]+ pass)'
  echo "=== sf0.01 ==="
  python tools/verify_oracle.py /root/testdata/sf0.01 2>&1 | grep -E '^(PASS|FAIL|[0-9]+ pass)'
  echo "=== sf0.1 ==="
  python tools/verify_oracle.py /root/testdata/sf0.1 2>&1 | grep -E '^(PASS|FAIL|[0-9]+ pass)'
} > "ORACLE_LOCAL_r${N}.txt"
tail -1 "ORACLE_LOCAL_r${N}.txt"

{
  echo "--- round ${N} dtype audit ($(date -u +%F)) ---"
  python tools/oracle_dtype_audit.py 2>&1 | tail -3
} >> ORACLE_VERSIONS.txt

python tools/scale_bench.py 2 2> "SCALE_SWEEP_r${N}.log" > "SCALE_SWEEP_r${N}.json"
python bench.py --duckdb > "BENCH_LOCAL_r${N}.json"
# raw per-pass samples live in the sidecar since r18 (the printed line
# stays small enough to survive the driver's bounded tail capture)
mv -f bench_passes_last.json "BENCH_PASSES_r${N}.json" 2>/dev/null || true
python tools/parallelism_check.py /root/testdata/sf0.01 2>&1 \
  | grep -E '^(ok|MISMATCH|[0-9]+ invariant)' > "PARALLELISM_r${N}.txt"
python tools/explain_audit.py 2>&1 | tail -1
# full tier (slow tests included) — the gate for a round of record:
# a failing suite fails the record; its tail still reaches the console
SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/ -q 2>&1 \
  | tail -20 | tee "PYTEST_FULL_r${N}.txt"

wc -l "ORACLE_LOCAL_r${N}.txt" "SCALE_SWEEP_r${N}.json" \
      "BENCH_LOCAL_r${N}.json" "PARALLELISM_r${N}.txt" \
      "PYTEST_FULL_r${N}.txt"
