#!/usr/bin/env bash
# One-command standing verify recipe (README "Standing verify recipe"):
#   1. sbt test                      — full ScalaTest suite
#   2. graft.Verify (STRICT)         — dump every query + oracle SQL at sf0.01
#   3. tools/compare.py              — DuckDB oracle compare (the driver-gate replica)
#   4. tools/typelint.py             — DuckDB DESCRIBE type lint over every oracle
#   5. tools/q69_cross_check.py      — multi-chunk oracle branch cross-check
#   6. perfbench/run.py (mapreduce)  — DuckDB oracle compare of q01/q15/q37 on
#                                      the benchmark's 3x sf0.1 input; sf0.01's
#                                      documents are below the floor of q01's
#                                      map-side spread, this input is above it
# Exits non-zero on the FIRST failing step; each step's exit code is printed.
# Usage: tools/verify_all.sh [sfDir] [outDir]
set -u
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_out}"
cd "$(dirname "$0")/.."

step() {
  local name="$1"; shift
  echo "==== [$name] $*"
  "$@"
  local rc=$?
  echo "==== [$name] exit $rc"
  if [ $rc -ne 0 ]; then
    echo "VERIFY_ALL: FAIL at step '$name' (exit $rc)" >&2
    exit $rc
  fi
}

step "sbt-test"   sbt -batch test
# STRICT: a query that throws fails this step (the driver's own Verify runs
# non-strict and keeps partial output for the per-query correctness table)
step "verify"     env SPARK_GRAFT_VERIFY_STRICT=1 sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
step "compare"    python3 tools/compare.py "$OUT_DIR" "$SF_DIR"
step "typelint"   python3 tools/typelint.py "$OUT_DIR" "$SF_DIR"
step "q69-cross"  python3 tools/q69_cross_check.py "$OUT_DIR"
# exits 1 on any oracle mismatch (or a self-test that fails to catch one)
step "perfbench"  python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 5 --trace 0
echo "VERIFY_ALL: PASS (suite + verify dump + oracle compare + typelint + q69 cross-check + perfbench mapreduce)"
