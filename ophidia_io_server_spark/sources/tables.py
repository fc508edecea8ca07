"""Loaders for the driver's TPC-H-ish parquet tables and Ophidia-shaped
fragment builders derived from them (TESTDATA.md).

``lineitem_fragment`` turns the relational lineitem table into the reference's
``(id_dim, measure ARRAY<double>)`` shape deterministically: one row per
orderkey, measure = that order's values ordered by line number.  The same
construction is expressed in ANSI SQL by ``fragment_cte`` so DuckDB oracles
operate on the identical fragment.
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from ophidia_io_server_spark.session import session_memo

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_ident(sf_dir: str, name: str) -> tuple[str, int, int]:
    """A driver table's identity: its parquet's path, size and mtime (ns).
    A table regenerated at the same path gets a new identity, so every memo
    entry and ``/tmp`` staging derived from the table keys or checks on
    this and never serves rows of the old file."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    return (path, st.st_size, st.st_mtime_ns)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Return the (lazy, unexecuted) scan plan for a driver table.

    Memoized per session and table in ``session_memo`` while the table's
    ``table_ident`` holds: ``spark.read.parquet`` costs ~110 ms of
    driver-side footer/schema resolution per call, and the bench's
    workloads call this several times each per timed pass.  The memo
    stores only the immutable plan, no rows and no cached blocks, so every
    action still computes from the parquet inputs.  A table regenerated at
    the same path gets a fresh plan, which replaces the one over its
    deleted files."""
    ident = table_ident(sf_dir, name)
    return session_memo(spark, ("load_table", sf_dir, name),
                        lambda: _read_table(spark, ident[0], name), ident=ident)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # the driver may hand us a session built without our defaults; the
        # testdata events.ts is TIMESTAMP(NANOS), unreadable unless this
        # legacy conf is on (runtime-settable)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong → convert to timestamp (µs).
        # Integer `div`, NOT `/`: double division of epoch-nanos (~1.7e18)
        # carries ±256 ns representation error → off-by-1µs timestamps.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in ``schema``'s field
    order) that lives in the JVM.

    ``createDataFrame(<list>)`` pickles the rows into a Python RDD, so every
    execution of a plan that scans them starts Python-worker tasks (for a
    broadcast side, a job of its own).  Here the rows become one Arrow table
    typed by ``schema``; Spark keeps it as a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` and as a JVM-side
    Arrow RDD above it.  Neither starts a Python worker.  The schema
    (nullability included) and the collected rows are those of
    ``createDataFrame(rows, schema)``: a naive ``datetime`` is read in the
    process's local time, as the list path reads it, not in the session
    time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for col, field, arrow_field in zip(cols, schema.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            # pyarrow keeps a datetime's wall time and drops its UTC
            # offset: hand it UTC values
            col = [None if v is None else v.astimezone(timezone.utc)
                   for v in col]
        arrays.append(pa.array(col, type=arrow_field.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


_SPREAD_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition small scans before CPU-heavy per-row work.

    A small table arrives as ONE file → ONE partition, serializing everything
    downstream (64-hash minhash, shingling, dot products) on a single core.
    No-op when the scan already has enough partitions — at real scale the
    file splits give natural parallelism and no extra shuffle happens.

    The decision (and the repartitioned plan) is memoized per input
    DataFrame object: with ``load_table`` returning one memoized plan per
    (session, table), the 38 ``spread(docs)``-shaped call sites hit the
    memo and skip the per-call partition probe + plan rebuild.  The memo
    holds the INPUT df in its value so ``id(df)`` cannot be recycled
    while the entry lives.  Bounded: callers that pass a FRESH plan each
    call (e.g. a per-call checkpointed dictionary) would otherwise grow
    the memo without limit, and each held entry also keeps any
    checkpoint blocks of its input alive against the ContextCleaner —
    clearing at a small cap costs one extra partition probe per
    surviving call site."""
    key = (id(df), min_partitions)
    hit = _SPREAD_MEMO.get(key)
    if hit is not None and hit[0] is df:
        return hit[1]
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    out = df if df.rdd.getNumPartitions() >= target else df.repartition(target)
    if len(_SPREAD_MEMO) >= 256:
        _SPREAD_MEMO.clear()
    _SPREAD_MEMO[key] = (df, out)
    return out


def exact_cents_sum(col) -> F.Column:
    """Order-free exact sum of a 2-decimal money/value DOUBLE column:
    round each value to integer cents FIRST, sum as BIGINT.  This is the
    correctness-critical encoding behind the gate's cross-engine hash —
    `SUM(double)` accumulates in engine-dependent order and its last-ulp
    error can straddle any output rounding grid at scale (three such
    boundaries measured at the 10×/100× corpora, PERF.md r6).  SQL mirror:
    `CAST(SUM(CAST(ROUND(x * 100) AS BIGINT)) AS BIGINT)`."""
    return F.sum(F.round(F.col(col) * 100).cast("bigint")).cast("bigint")


def lineitem_fragment(spark: SparkSession, sf_dir: str, value_col: str = "l_quantity") -> DataFrame:
    """(id_dim=l_orderkey, measure=[value_col ordered by l_linenumber]).

    One shuffle (the groupBy), map-side combined by Catalyst; at 100 TB the
    orderkey grouping is the natural partitioning of lineitem so AQE coalesces
    to balanced partitions.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("l_linenumber").alias("ln"), F.col(value_col).alias("v")))
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.transform(pairs, lambda s: s["v"]).alias("measure"))
        .select(F.col("l_orderkey").cast("long").alias("id_dim"), "measure")
    )


def lineitem_fragment_cached(spark: SparkSession, sf_dir: str,
                             value_col: str = "l_quantity") -> DataFrame:
    """``lineitem_fragment``, Spark-cached once per session and kept in
    ``session_memo`` while lineitem's ``table_ident`` holds.

    The reference is an in-memory array store: fragments are imported once and
    live in the MEMORY device across queries (SURVEY §1.1).  Repeated
    workloads therefore query the cached fragment instead of re-running the
    lineitem groupBy.  A lineitem regenerated at the same path gets a new
    fragment; the superseded one is unpersisted."""
    return session_memo(
        spark, ("lineitem_fragment", sf_dir, value_col),
        lambda: lineitem_fragment(spark, sf_dir, value_col).cache(),
        ident=table_ident(sf_dir, "lineitem"))


def fragment_cte(value_col: str = "l_quantity") -> str:
    """DuckDB CTE body equivalent to ``lineitem_fragment``."""
    # tie-break by value: the driver data has duplicate (orderkey, linenumber)
    # pairs and DuckDB's list(ORDER BY) is unstable on ties, while Spark's
    # array_sort(struct(ln, v)) orders (ln, v) — make both deterministic.
    return (
        f"SELECT l_orderkey AS id_dim, "
        f"list({value_col} ORDER BY l_linenumber, {value_col}) AS measure "
        f"FROM lineitem GROUP BY l_orderkey"
    )
