"""Suite composites (round 6 gate-slot curation): the driver's 50-row gate
window sees six tagged-union composites in place of fifteen legacy rows.
These tests pin (a) the static schema pins used to build the composite
oracles against the live member schemas, (b) the gate-order invariants, and
(c) per-arm value identity: each composite arm equals the standalone row."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ophidia_io_server_spark.workloads import (
    GATE_ORDER,
    WORKLOADS,
    ordered_workloads,
)
from ophidia_io_server_spark.workloads.suites import _SUITES
SF_DIR = "/root/testdata/sf0.001"


def test_gate_order_is_exactly_the_window():
    ow = ordered_workloads()
    assert len(GATE_ORDER) == 50
    assert len(set(GATE_ORDER)) == 50
    assert list(ow)[:50] == GATE_ORDER
    # every gate row must be hash-checkable (oracle present)
    for n in GATE_ORDER:
        assert ow[n].oracle is not None, n


def test_suite_members_stay_registered_beyond_window():
    """A member of a GATED suite must not also hold its own seat (that
    would double-spend a hash-signal slot).  Members of mirror-only
    suites (analytics_suite, analytics_tsdecomp_suite — out of the
    window since r12/r13) MAY hold a seat: r13 gives the
    determinism_canary arm of the tsdecomp mirror its own gate row."""
    gated = set(GATE_ORDER)
    for suite, members in _SUITES.items():
        for m in members:
            assert m in WORKLOADS
            if suite in gated:
                assert m not in gated, (suite, m)


@pytest.mark.parametrize("suite", sorted(_SUITES))
def test_member_schema_pins_match_live(spark, suite):
    for m, pinned in _SUITES[suite].items():
        df = WORKLOADS[m].fn(spark, SF_DIR)
        live = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        assert live == pinned, f"{suite}/{m}: schema drift {live} != {pinned}"


@pytest.mark.parametrize("suite", ["dedup_suite", "multimodal_suite",
                                   "varlen_dedup_suite", "tpch_suite"])
def test_suite_arm_equals_standalone(spark, suite):
    comp = WORKLOADS[suite].fn(spark, SF_DIR)
    for m, pinned in _SUITES[suite].items():
        # booleans ride the composite as INTEGER 0/1 (NULL-pad dtype rule);
        # cast the standalone row the same way before comparing
        sel = [F.col(c).cast("int").alias(c) if t == "boolean" else F.col(c)
               for c, t in pinned]
        cols = [c for c, _ in pinned]
        arm = comp.where(F.col("op") == m).select(*cols)
        solo = WORKLOADS[m].fn(spark, SF_DIR).select(*sel)
        assert arm.exceptAll(solo).count() == 0
        assert solo.exceptAll(arm).count() == 0
