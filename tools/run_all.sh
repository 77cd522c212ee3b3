#!/bin/sh
# One-shot validation: tests -> oracle gate -> benchmark.
set -e
cd "$(dirname "$0")/.."
echo "== tests =="
python -m pytest tests/ -q
echo "== benchmark harness tests =="
python -m pytest perfbench/tests -q
echo "== DuckDB oracle gate (sf0.01) =="
python tools/check_correctness.py /root/testdata/sf0.01
echo "== benchmark, concurrent contract (sf0.1) -> BENCH_DETAIL.json =="
BENCH_BASELINE=1 python bench.py
echo "== benchmark, sequential pass (sf0.1) -> BENCH_SEQ.json =="
BENCH_BASELINE=1 BENCH_CONCURRENCY=1 python bench.py
