"""SparkSession factory with scale-oriented defaults.

Test/bench runs are ``local[N]`` single-JVM, but every knob here is chosen so
the same plans hold on a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for all pandas-UDF traffic, UTC
session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory() -> str:
    """``min(24g, half the physical memory)``: a heap the JVM may grow past
    the host's memory gets the driver OOM-killed instead of collected.  The
    physical memory is the host's; a container's cgroup limit is not read."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 24 * 1024)}m"


def get_spark(
    app_name: str = "ophidia-io-server-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for array-analytics workloads."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffledHashJoinFactor", "3")
        # reference C semantics: double division by zero → inf/NaN (no error),
        # out-of-bounds array access → NULL; matches DuckDB doubles too
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata stores TIMESTAMP(NANOS) parquet, which Spark rejects
        # by default; read as long and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_key(spark: SparkSession) -> tuple:
    """Stable identity tuple for the per-session store (``session_memo``).

    ``applicationId`` alone merges sibling sessions (``spark.newSession()``
    shares the application), and ``id(spark)`` can be reused after GC; the
    JVM ``sessionUUID`` is unique per SparkSession for the app's lifetime.
    Needs a classic (py4j) session; on Spark Connect both accessors raise."""
    return (spark.sparkContext.applicationId,
            spark._jsparkSession.sessionUUID())


# applicationId -> {(sessionUUID, *key): (ident, value)}; only the active
# application's entries are kept
_MEMO: dict[str, dict[tuple, tuple]] = {}


def session_memo(spark: SparkSession, key: tuple, build, ident=None):
    """The one per-session store: ``build()``'s value for ``key`` in this
    session, built once and served while the caller's ``ident`` (the
    identity of the value's source, e.g. ``sources.tables.table_ident``)
    equals the stored one.

    On a changed ``ident`` the superseded value is released first (a
    DataFrame is unpersisted: a cached plan over the same path would
    otherwise also answer for the new plan, whose plan compares equal) and
    ``build()``'s new value replaces it.  Entries of an application that is
    no longer the active one are dropped: a process has one active
    SparkContext, so their DataFrames are dead.  ``build`` must be a pure
    function of the session and the source identified by ``ident``."""
    app, uuid = session_key(spark)
    entries = _MEMO.get(app)
    if entries is None:
        _MEMO.clear()
        entries = _MEMO[app] = {}
    k = (uuid, *key)
    got = entries.get(k)
    if got is not None:
        if got[0] == ident:
            return got[1]
        del entries[k]
        if isinstance(got[1], DataFrame):
            got[1].unpersist()
    value = build()
    entries[k] = (ident, value)
    return value
