"""Round-11 fix guards (r10 verdict items 1-2 + advice):

1. Every estimator-derived gate row is partition-invariant by
   construction — sketch_approx_stats (GK percentile_approx is NOT
   merge-commutative) and events_hll_rollup (raw-update HLL keeps an
   insertion-order-sensitive HIP accumulator) now pin each group to a
   single deterministic sorted build; events_quantile_rollup and
   source_kmv_overlap are deterministic by coordination (bottom-k of
   fixed md5 priorities).  The sweep below re-runs each row under
   shuffle-partition counts 1/7/32 (AQE on and off) and asserts the
   NORMALIZED output is bitwise identical.
2. The advice fixes: DECIMAL cast BEFORE squaring (BIGINT wrap past
   ~3e9 counts) and cliffs_delta through the distributed prefix sum
   (no unpartitioned Window.orderBy over a data-sized grid).
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

SF = "/root/testdata/sf0.001"


def _normalized_rows(spark, name):
    from check_correctness import _normalize

    pdf = _normalize(WORKLOADS[name].fn(spark, SF).toPandas())
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


SWEEP = [
    {"spark.sql.shuffle.partitions": "1",
     "spark.sql.adaptive.enabled": "true"},
    {"spark.sql.shuffle.partitions": "7",
     "spark.sql.adaptive.enabled": "false"},
    {"spark.sql.shuffle.partitions": "32",
     "spark.sql.adaptive.enabled": "true"},
]


@pytest.fixture()
def conf_sweep(spark):
    saved = {k: spark.conf.get(k) for c in SWEEP for k in c}

    def run(fn):
        outs = []
        for conf in SWEEP:
            for k, v in conf.items():
                spark.conf.set(k, v)
            outs.append(fn())
        return outs

    yield run
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", [
    "sketch_approx_stats",
    "events_hll_rollup",
    "events_quantile_rollup",
    "source_kmv_overlap",
    # the two advice-fixed arms ride the same sweep: the prefix-sum
    # rewrite and the decimal moments must hold under any layout
    "events_cliffs_delta",
    "events_circadian_uniformity",
    # wave-16 rows built on the distributed prefix sum inherit its
    # layout-invariance claim — pin it here too
    "doc_score_auc",
    "events_value_psi",
])
def test_sketch_rows_partition_invariant(spark, conf_sweep, name):
    """Same normalized rows under every shuffle-partition/AQE setting,
    run twice per setting (second run catches fetch-order-sensitive
    merges that a single run per config would miss)."""
    runs = conf_sweep(lambda: _normalized_rows(spark, name))
    runs += conf_sweep(lambda: _normalized_rows(spark, name))
    assert all(r == runs[0] for r in runs[1:]), (
        f"{name} output drifts across partition settings")


def test_sketch_pin_reaches_plan(spark):
    """The determinism pin must survive optimization: the physical plan
    of sketch_approx_stats has to carry the per-group sort below the
    aggregate (sortWithinPartitions on event_type, value, event_id)."""
    df = WORKLOADS["sketch_approx_stats"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Sort \[event_type.*value.*event_id", plan), plan


def test_cliffs_delta_no_unpartitioned_window(spark):
    """r10 advice: the cents grid is data-dependent under continuous
    values; every window in the plan must be keyed on the range-partition
    id (the two-phase prefix-sum shape), never unpartitioned.  The one
    remaining Exchange SinglePartition is the final ZERO-KEY scalar
    aggregate over <= P partial rows — bounded by the partition count,
    not the data."""
    df = WORKLOADS["events_cliffs_delta"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, f"unpartitioned window stage: {line}"


def test_decimal_cast_before_square():
    """The squared-moment sums must cast to DECIMAL BEFORE multiplying —
    a BIGINT square wraps past ~3.04e9 counts, silently breaking the
    documented exactness budgets.  Source-level guard over the four
    fixed sites (runtime tests can't reach 3e9 counts)."""
    import inspect

    for name in ("events_crosscorr_leadlag", "events_circadian_uniformity",
                 "token_dispersion_index", "lineitem_discount_elasticity"):
        fn = WORKLOADS[name].fn
        while hasattr(fn, "__wrapped__"):
            fn = fn.__wrapped__
        src = inspect.getsource(fn)
        assert not re.search(
            r"F\.sum\(\(F\.col\([^)]+\) \* F\.col\([^)]+\)\)\.cast", src), (
            f"{name} squares in BIGINT before the DECIMAL cast")


def test_changed_since_maps_modules_to_gate_rows():
    """--changed-since (r10 verdict #5): a workloads/ module maps to the
    gate rows carrying its arms; shared layers map to the full gate."""
    import check_correctness as cc
    from ophidia_io_server_spark.workloads.suites import GATE_ORDER, _SUITES

    # every analytics_suite arm's module is analytics/relational/tpch/
    # streaming — the map must send analytics.py edits to analytics_suite
    import inspect

    from ophidia_io_server_spark.workloads import WORKLOADS

    fn = WORKLOADS["events_value_psi"].fn
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    mod = inspect.getmodule(fn).__name__
    assert mod.endswith("workloads.analytics"), mod
    # the full gate is exactly GATE_ORDER, no duplicates
    assert len(GATE_ORDER) == 50 == len(set(GATE_ORDER))
    # all suite arms resolve to real modules (the __wrapped__ contract)
    for suite, members in _SUITES.items():
        for m in members:
            f = WORKLOADS[m].fn
            assert hasattr(f, "__wrapped__"), (suite, m)
