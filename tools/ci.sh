#!/usr/bin/env bash
# Repo CI entry point (ADVICE r3): the driver's correctness artifact
# measures only the first 50 registry entries, so the FULL-registry
# oracle sweep must run alongside the test suite or past-window queries
# silently lose enforcement. Run stages sequentially — they share the
# box and concurrent Spark sessions skew each other's timings.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 pytest =="
python -m pytest tests/ -x -q

echo "== 2/4 benchmark harness toy self-test =="
python -m pytest perfbench/tests -q

echo "== 3/4 full-registry oracle sweep (all queries, sf0.01) =="
python tools/check_oracle.py

echo "== 4/4 bench (sf0.1, one JSON line) =="
python bench.py
