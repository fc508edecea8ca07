#!/usr/bin/env bash
# Full local validation: unit/property tests, DuckDB-oracle gate, benchmark.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== engine benchmark smoke (wire read rounds + write cycle) =="
python -m pytest enginebench/test_smoke.py -q

echo "== correctness gate (sf0.01, DuckDB oracle) =="
python scripts/check_correctness.py /root/testdata/sf0.01

echo "== rounding-grid margin probe (r12: fails on sub-margin transcendental cells) =="
python scripts/grid_margin_probe.py /root/testdata/sf0.01

echo "== oracle double-pass (threads=1 vs default) =="
python scripts/gate_double_run.py /root/testdata/sf0.01 --oracle-only

echo "== bench (sf0.1) =="
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" python bench.py
