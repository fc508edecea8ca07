"""Relational superset part 1: TPC-H-style queries over the star schema (q1/q5/q6 pricing family, z-order layout, events window aggregates, sketch stats) + the flagship query.

Carved verbatim out of the original workload.py (r8 VERDICT #3);
provenance citations in the per-workload docstrings are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import exact_cents_sum, load_table

from ophidia_io_server_spark.workloads.base import WORKLOADS, workload


# ---------------------------------------------------------------------------
# Relational superset: TPC-H-style queries over the star schema
# ---------------------------------------------------------------------------


def _zorder_oracle(cols: list[str], bits: int) -> str:
    """DuckDB mirror of ``operators/zorder.py::zorder_value``: per-column
    dense rank → exact integer scaling onto [0, 2^bits) → column-major
    bit interleave, all plain integer arithmetic."""
    nb = 1 << bits
    dr = ",\n      ".join(
        f"dense_rank() OVER (ORDER BY {c} ASC NULLS FIRST) AS dr{j}"
        for j, c in enumerate(cols))
    mx = ", ".join(f"MAX(dr{j}) AS mx{j}" for j in range(len(cols)))
    q = ", ".join(f"(dr{j} - 1) * {nb} // mx{j} AS q{j}"
                  for j in range(len(cols)))
    terms = " + ".join(
        f"((q{j} // {1 << i}) % 2) * {1 << (i * len(cols) + j)}"
        for i in range(bits) for j in range(len(cols)))
    return f"""
    WITH r AS (
      SELECT o_orderkey,
      {dr}
      FROM orders),
    m AS (SELECT {mx} FROM r),
    q AS (SELECT o_orderkey, {q} FROM r CROSS JOIN m)
    SELECT o_orderkey, CAST({terms} AS BIGINT) AS zval FROM q
    """


@workload(
    "orders_zorder_layout",
    oracle=_zorder_oracle(["o_custkey", "o_totalprice", "o_orderdate"], 8),
)
def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering codes — the layout operator behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` (``operators/zorder.py``),
    hashed row-exactly: every order's 24-bit Morton code over
    (o_custkey, o_totalprice, o_orderdate).  The r7 rewrite made the
    rank normalization DISTRIBUTED (``global_dense_rank``, no
    single-partition NTILE window) and layout-deterministic (dense rank
    gives tied values one code; NTILE split ties in sort-arrival
    order), which is what makes this row oracle-able at all."""
    from ophidia_io_server_spark.operators.zorder import zorder_value

    orders = load_table(spark, sf_dir, "orders")
    return (zorder_value(orders,
                         ["o_custkey", "o_totalprice", "o_orderdate"],
                         bits=8)
            .select("o_orderkey", "zval"))


@workload(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_base_price_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: money through exact integer units (cents / 1e-4 units) —
    ROUND(SUM(double), 2) was measured drifting one cent between engines
    at the 10× (6M-row) corpus when the accumulated last-ulp error of
    differently-ordered double sums straddles a rounding boundary
    (PERF.md r6); integer-unit sums are order-free at ANY scale.
    l_quantity is integral-valued, so its sum/avg are exact as-is."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * 10000).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.sum(cents).cast("bigint").alias("sum_base_price_cents"),
            F.sum(disc_e4).cast("bigint").alias("sum_disc_price_e4"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


@workload(
    "tpch_q6_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM lineitem
    WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue in exact 1e-4 units (order-free sum at any SF —
    same 10×-boundary fix as tpch_q1_pricing, PERF.md r6)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000
                  ).cast("bigint")
    return li.filter(
        (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) & (F.col("l_quantity") < 24)
    ).agg(F.sum(rev).cast("bigint").alias("revenue_e4"))


@workload(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query, selective-dimension-first: the region filter
    restricts nation (tiny) BEFORE any fact-table join, so suppliers outside
    ASIA drop early and the lineitem rows carry through exactly one shuffle
    chain.  No manual broadcast hints — size-based selection belongs to
    AQE, and at 100 TB customer/orders are not broadcastable.  Measured at
    sf0.1: 2.4x faster than the write-it-like-the-SQL join order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asia_nation = n.join(r.filter(F.col("r_name") == "ASIA"),
                         F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        li
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(asia_nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            c,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                          * 10000).cast("bigint"))
            .cast("bigint").alias("revenue_e4")
        )
    )


@workload(
    "events_hourly_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY hour_start, event_type
    ORDER BY hour_start, event_type
    """,
)
def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the streaming tumbling-window aggregation
    (streaming/ingest.py runs the same plan under readStream+watermark)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            exact_cents_sum("value").alias("total_cents"),
        )
    )


@workload(
    "events_type_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(MIN(value), 6) AS lo,
           ROUND(MAX(value), 6) AS hi
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats in one aggregation (merged r3:
    events_json_props + events_percentiles): semi-structured JSON extraction
    (JVM get_json_object — no Python) and exact interpolated percentiles
    (Spark `percentile` ≙ DuckDB quantile_cont, the exact counterpart of
    sketch_approx_stats)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).cast("bigint").alias("k_sum"),
            F.max(k).cast("bigint").alias("k_max"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@workload(
    "sketch_approx_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS users_ok,
           TRUE AS p50_ok,
           TRUE AS p95_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sketch_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch operators for pipeline telemetry at scale: HLL++ distinct
    users and approximate quantiles per event type — O(sketch) memory and
    one pass, where exact distinct/percentile would shuffle all values.

    Sketches are approximate, but the CHECK is deterministic: Spark computes
    the sketch AND the exact counterpart in the same aggregation and emits
    error-within-bound booleans (HLL rsd=0.02 → 10% = 5σ slack;
    percentile_approx accuracy=10000 → 5% value-space slack on a
    max(1,|exact|) scale); the oracle computes exact n and literal TRUEs.

    Partition-invariance pin (r10 verdict #2): percentile_approx's GK
    summary is NOT merge-commutative — two partials merged in different
    orders (shuffle block FETCH order, random every run) or a different
    partial decomposition (input split layout) give different estimates,
    so a gate boolean derived from the raw aggregate is
    partition-layout- and run-order-sensitive.  The pin routes each
    group's rows into ONE partition (hash repartition on the group key)
    in ONE deterministic total order (sortWithinPartitions with the
    unique event_id tiebreak) so every key's sketch is built by a single
    sequential insertion pass — bitwise identical for ANY shuffle
    partition count, split size, or fetch order
    (tests/test_round11_fixes.py sweeps the confs and asserts equality).
    HLL register-max merges are commutative-exact and need no pin, but
    they ride the same exchange for free.  The pin serializes each
    group's GK build on one task — that is the cost of a HASH-gateable
    row, not the production path: at 100 TB callers use the unpinned
    one-pass sketch (tests/test_sketches.py covers its raw values with
    tolerance assertions, the right contract for an approximate
    answer)."""
    ev = load_table(spark, sf_dir, "events")
    nparts = spark.sparkContext.defaultParallelism
    pinned = (ev.select("event_type", "user_id", "value", "event_id")
              .repartition(nparts, "event_type")
              .sortWithinPartitions("event_type", "value", "event_id"))
    agg = pinned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("ap50"),
        F.percentile_approx("value", 0.95, 10000).alias("ap95"),
        F.expr("percentile(value, 0.5)").alias("ep50"),
        F.expr("percentile(value, 0.95)").alias("ep95"),
    )

    def _ok(approx, exact):
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= 0.05 * F.greatest(F.lit(1.0), F.abs(F.col(exact)))
        )

    return agg.select(
        "event_type",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("users_ok"),
        _ok("ap50", "ep50").alias("p50_ok"),
        _ok("ap95", "ep95").alias("p95_ok"),
    )


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    return WORKLOADS["select_reduce"].fn(spark, sf_dir)


