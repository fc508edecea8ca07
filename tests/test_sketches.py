"""Sketch operators: approximation error bounded against exact answers, and
parser robustness fuzzing (typed errors only)."""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ophidia_io_server_spark.dialect.parser import QueryParseError, parse_query
from ophidia_io_server_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def test_sketch_bounds_vs_exact(spark):
    """The workload itself now computes sketch-vs-exact error bounds inside
    Spark and emits booleans (so the driver gate can hash it exactly); here we
    assert every bound holds and the exact n matches an independent count."""
    from ophidia_io_server_spark.workloads import WORKLOADS

    got = {r.event_type: r for r in
           WORKLOADS["sketch_approx_stats"].fn(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) == set(exact)
    for et, g in got.items():
        assert g.n == exact[et]
        assert g.users_ok and g.p50_ok and g.p95_ok


@given(st.text(alphabet=string.printable, max_size=120))
@settings(max_examples=300, deadline=None)
def test_parser_fuzz_typed_errors_only(q):
    """Any input either parses to a clause dict or raises QueryParseError —
    never a stray exception type (wire-facing robustness)."""
    try:
        out = parse_query(q)
        assert isinstance(out, dict) and "operation" in out
    except QueryParseError:
        pass


def test_hll_union_deterministic_across_partitionings(spark):
    """A single hll_union_agg over the SAME cell sketches is deterministic
    regardless of how Spark partitions the merge (all-coupon unions are
    exact-set semantics; any dense input forces the order-independent
    composite estimator) — the property that makes events_hll_rollup
    gateable.  Cross-grain equality is NOT asserted (estimator path
    depends on input modes; see the workload docstring)."""
    ev = load_table(spark, SF, "events")
    daily = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
             .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")))
    ests = []
    for parts in (1, 3, 16):
        u = (daily.repartition(parts)
             .groupBy("event_type")
             .agg(F.hll_sketch_estimate(
                 F.hll_union_agg("sk", F.lit(False))).alias("est")))
        ests.append(sorted((r.event_type, r.est) for r in u.collect()))
    assert ests[0] == ests[1] == ests[2]
    # and the estimates are near-exact at this cardinality
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    for et, est in ests[0]:
        assert abs(est - exact[et]) <= max(1.0, 0.1 * exact[et])
