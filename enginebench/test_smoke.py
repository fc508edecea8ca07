"""Smoke test of the engine benchmark: every workload at toy size, untraced
and traced, through the command line the benchmark is run with.

    python3 -m pytest enginebench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import END_TO_END, PER_LAYER, ROOT  # noqa: E402
from run import WORKLOADS  # noqa: E402

SEED = 3
# span names the traced run must emit, by layer, for each workload
LAYER_SPANS = {
    "wire_mixed": {"server.request", "client.decode", "dialect.parse", "dialect.compile",
                   "operators.execute", "protocol.drain", "spark.stage",
                   "catalog.materialize", "sources.import"},
    "analytics_rows": {"rows.plan", "rows.exec", "streaming.drain", "spark.stage"},
}


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _units(res: dict) -> dict:
    return {k: v["unit"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert _units(res) == {name: unit for name, unit, _ in END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_covers_every_layer(workload):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert _units(res) == {name: unit for name, unit, _ in PER_LAYER}
    assert res["metrics"]["trace_overhead_ratio"]["value"] > 0
    spans = json.loads((ROOT / ".bench_out" / f"spans-{workload}-{SEED}.json").read_text())
    assert LAYER_SPANS[workload] <= {s["name"] for s in spans}
    assert all(s["end"] >= s["start"] for s in spans if s["end"] is not None)


def test_benchmark_json_matches_registry():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)
