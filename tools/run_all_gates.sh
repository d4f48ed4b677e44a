#!/usr/bin/env bash
# Reproduce every driver gate locally:
#   t1 smoke (entry rows>0), t2 correctness (DuckDB oracle at sf0.01),
#   bench (sf0.1 JSON line), full scalatest suite, fast lakebench tests.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== scalatest =="
sbt -batch test 2>&1 | grep -E "Tests:|FAILED"

echo "== lakebench (fast tests) =="
python3 -m unittest discover -s lakebench/tests 2>&1 | tail -1

echo "== t1 entry smoke =="
sbt -batch "runMain graft.tools.EntrySmoke" 2>&1 | grep 'entry-smoke' | head -1

echo "== t2 correctness (sf0.01) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gates_verify" 2>&1 \
  | grep -E "\[verify\].*failed" || true
python3 tools/check.py /root/testdata/sf0.01 /tmp/gates_verify | tail -1

echo "== bench (sf0.1) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"'
# bench.json is the canonical artifact (sbt's [success] trailer breaks
# last-line stdout parsing); keep a stable copy for the driver/judge.
cp -f bench.json BENCH_LOCAL.json
