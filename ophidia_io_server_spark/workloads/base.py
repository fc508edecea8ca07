"""Declared workload: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) an
equivalent DuckDB oracle query.  This is the SURVEY.md §2 coverage surface the
driver's correctness gate checks (``__spark_entry__.py`` re-exports it).

Oracle-match discipline:
- every computed column is aliased identically in Spark and SQL;
- element-wise array math is bitwise exact (same fold order both engines);
- cross-row double aggregations are either over integral-valued doubles
  (l_quantity) — exact in any order — or rounded to a tolerance-safe number
  of decimals in BOTH engines;
- sizes/counts are cast to BIGINT on both sides.

Row order: workload results are UNORDERED.  The correctness gate canonicalizes
(sorts rows and columns) before hashing on both engines, and a global total
order is an anti-pattern at scale — a final ``orderBy`` adds a range exchange
whose boundary-sampling pass recomputes the whole upstream plan (measured ~2×
on the projection-heavy text workloads).  Sorts that are part of the
semantics (window specs, top-k ranking) stay inside the operators.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.session import session_memo
from ophidia_io_server_spark.sources.tables import (
    fragment_cte,
    lineitem_fragment_cached,
    load_table,
    table_ident,
)


@dataclass
class Workload:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # the DuckDB oracle SQL, or a zero-argument callable that ``oracle``
    # calls on first read (the suite composites build theirs that way)
    oracle_src: str | Callable[[], str] | None = None

    @property
    def oracle(self) -> str | None:
        if callable(self.oracle_src):
            self.oracle_src = self.oracle_src()
        return self.oracle_src


WORKLOADS: dict[str, Workload] = {}


def _explode_arrays(df: DataFrame, arrays: list[str]) -> DataFrame:
    """Serialize ArrayType result columns for the driver's canonicalizer
    (pandas sort_values dies on list cells): zip the array columns
    positionally, posexplode to one row per element, keep scalars + a
    1-based ``pos`` column.  Shorter arrays NULL-pad to the longest (same as
    DuckDB list indexing past the end in ``_exploded_oracle``); rows whose
    arrays are all empty/NULL disappear on both engines.  Explode columns must
    be non-NULL arrays: Spark arrays_zip drops the row when ANY zipped array
    is NULL, DuckDB keeps it NULL-padded — coalesce to [] upstream if a
    workload can emit NULL arrays."""
    taken = set(df.columns)
    assert "pos" not in taken and "__z" not in taken, (
        "explode= result already has a 'pos'/'__z' column — the posexplode "
        "aliases would shadow it; rename the scalar first"
    )
    scalars = [c for c in df.columns if c not in arrays]
    zipped = F.arrays_zip(*[F.col(c) for c in arrays])
    return (
        df.select(*scalars, F.posexplode(zipped).alias("pos", "__z"))
        .select(
            *scalars,
            (F.col("pos") + 1).cast("bigint").alias("pos"),
            *[F.col("__z").getField(c).alias(c) for c in arrays],
        )
    )


def _exploded_oracle(oracle: str, arrays: list[str]) -> str:
    """Wrap a DuckDB oracle so its array columns are exploded exactly like
    ``_explode_arrays`` does to the Spark result (verified: list indexing
    past the end yields NULL, empty/NULL arrays emit no rows, pos is
    BIGINT)."""
    lens = ", ".join(f"len({c})" for c in arrays)
    longest = f"greatest({lens})" if len(arrays) > 1 else f"len({arrays[0]})"
    excl = ", ".join([*arrays, "pos"])
    idx = ", ".join(f"{c}[pos] AS {c}" for c in arrays)
    return f"""
    WITH __res AS ({oracle}),
    __pos AS (SELECT *, unnest(range(1, {longest} + 1)) AS pos FROM __res)
    SELECT * EXCLUDE ({excl}), CAST(pos AS BIGINT) AS pos, {idx} FROM __pos
    """


def _ensure_session_defaults(spark: SparkSession) -> None:
    """The driver runs queries() with ITS OWN SparkSession.  Pin the
    runtime-settable confs whose defaults would change RESULTS:
    UTC timestamps (window/date_trunc values must match the tz-naive DuckDB
    oracle), non-ANSI eval (reference C semantics: OOB element_at → NULL,
    no strict-mode errors), nanos-as-long parquet reads (events.ts).

    Pinned ONCE per session through ``session_memo`` (nothing in the
    package ever unsets these three): the per-call py4j conf round-trips
    were ~2 ms × every workload invocation across the bench.  A conf that
    cannot be set raises: a silently unpinned conf would surface as a
    wrong result."""
    def pin() -> None:
        for k, v in (
            ("spark.sql.session.timeZone", "UTC"),
            ("spark.sql.ansi.enabled", "false"),
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ):
            spark.conf.set(k, v)

    session_memo(spark, ("session_defaults",), pin)


def same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two frames with the same column layout (the
    stream≡batch certificates): ``a.exceptAll(b)`` and ``b.exceptAll(a)``
    are both empty.  Checked in one aggregation, which is what each
    ``exceptAll`` runs: per distinct row (columns matched by position,
    NULLs and NaNs grouped as equal), a's count minus b's must be 0."""
    cols = [f"_c{i}" for i in range(len(a.columns))]
    both = (a.toDF(*cols).withColumn("_n", F.lit(1))
            .unionAll(b.toDF(*cols).withColumn("_n", F.lit(-1))))
    return both.groupBy(*cols).agg(F.sum("_n").alias("_n")).where("_n != 0").isEmpty()


def workload(name: str, oracle: str | Callable[[], str] | None = None,
             explode: list[str] | None = None):
    """Register a workload.  ``oracle`` may be a callable that builds the
    SQL on first read.  ``explode`` lists ArrayType output columns to be
    posexploded (Spark) / unnest-indexed (oracle) into scalar rows — the
    driver's result canonicalizer cannot hash list cells."""
    if explode and oracle is not None:
        oracle = _exploded_oracle(oracle, explode)

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_session_defaults(spark)
            df = fn(spark, sf_dir)
            if explode:
                df = _explode_arrays(df, explode)
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # introspection: map workload -> module
        WORKLOADS[name] = Workload(name=name, fn=wrapped, oracle_src=oracle)
        return fn

    return deco


def staged_dir(sf_dir: str, table: str, name: str,
               write: Callable[[str], None], suffix: str = "") -> str:
    """``/tmp/ophidia_stream_<name>_<tag><suffix>``: a copy of ``table``
    that ``write(path)`` lays out for a file-source stream, staged once per
    source identity.  ``tag`` hashes ``name`` and the table's
    ``table_ident``, so a regenerated table is staged again instead of
    serving stale rows against a fresh oracle; ``suffix`` versions a
    staging layout.  ``write`` fills a sibling temp directory that is then
    renamed into place, so a staging directory that exists is complete."""
    import hashlib
    import os
    import shutil
    import uuid

    ident = table_ident(sf_dir, table)
    tag = hashlib.md5(repr((name, ident)).encode()).hexdigest()[:12]
    path = f"/tmp/ophidia_stream_{name}_{tag}{suffix}"
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        write(tmp)
        try:
            os.replace(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
            # a concurrent writer staged the same source first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def staged_docs_twice(spark: SparkSession, sf_dir: str) -> str:
    """The documents' ``(doc_id, text)`` staged twice over, so every doc
    is a duplicate: the input of the streaming curation rows."""
    def write(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs.unionAll(docs).write.parquet(path)

    return staged_dir(sf_dir, "documents", "docs", write)


def _server(spark: SparkSession, sf_dir: str, frags: dict[str, str] | None = None) -> IOServer:
    """IOServer with lineitem-derived fragments registered from the session's
    in-memory store (≙ the reference's MEMORY device: import once, query
    many — the fragment build cost is paid by the first workload only)."""
    srv = IOServer(spark)
    for name, value_col in (frags or {"frag_qty": "l_quantity"}).items():
        srv.catalog.put(name, lineitem_fragment_cached(spark, sf_dir, value_col), cache=False)
    return srv


_FRAG_QTY_CTE = f"WITH frag_qty AS ({fragment_cte('l_quantity')})"
_FRAG_BOTH_CTE = (
    f"WITH frag_qty AS ({fragment_cte('l_quantity')}), "
    f"frag_price AS ({fragment_cte('l_extendedprice')})"
)


