#!/usr/bin/env bash
# Full local replica of the driver's gates: compile -> tests -> t2 verify +
# DuckDB compare + oracle type lint (sf0.001, sf0.01, sf0.1) -> bench
# (sf0.1). Exit nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}"
fixtures=/root/testdata # the fixture root the test suites read too

echo "== compile + tests =="
sbt -batch compile test

for sf in sf0.001 sf0.01 sf0.1; do
  echo "== t2 verify + compare + lint ($sf) =="
  # fresh out dir: a stale per-query dir from a previous run would let
  # compare.py validate output the current code can no longer produce
  out="/tmp/gate_v_$sf"
  rm -rf "$out"
  VERIFY_LOG=$(mktemp)
  sbt -batch "runMain graft.Verify $fixtures/$sf $out" \
    2>&1 | tee "$VERIFY_LOG" | grep -E '\[verify\]' || true
  # a '[verify] <key> failed:' line means a query THREW — compare.py would
  # only see the missing dir; fail loudly here with the exception text
  if grep -q '\[verify\].*failed' "$VERIFY_LOG"; then
    echo "GATE FAIL: query exception(s) during Verify at $sf:" >&2
    grep '\[verify\].*failed' "$VERIFY_LOG" >&2
    exit 1
  fi
  python3 tools/compare.py "$fixtures/$sf" "$out"
  python3 tools/oracle_lint.py "$fixtures/$sf" "$out"
done

echo "== bench (sf0.1) =="
SPARK_GRAFT_SF_DIR=$fixtures/sf0.1 sbt -batch "runMain graft.Bench" \
  2>&1 | grep -E '^\{|\[info\] \{' | sed 's/^\[info\] //'
