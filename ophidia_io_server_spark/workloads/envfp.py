"""``env_fingerprint`` — the session/data-axis detector gate row
(r13 verdict #3).

Three rounds of driver-only hash divergence (r10-r12) were bisected to
the transcendental-deriving arm cluster, but two non-arm hypotheses
remained indistinguishable from outside: (a) the gate environment's
libm/JVM computes transcendental chains differently (the determinism
canary's axis), and (b) the gate environment's SESSION CONFIG or
PARQUET DATA differ from the build container.  This row makes (b) its
own observable bit, emitted fact-by-fact:

* **Session/engine facts** ride the cross-engine pin trick: the Spark
  side emits its ACTUAL session facts (version, timezone, ANSI mode,
  nanosAsLong) while the oracle emits the build container's pinned
  literals from ``env_pins.SESSION_PINS`` — and inversely for the
  DuckDB version, which only the oracle can observe live.  Any drift
  of either engine's identity or semantics-bearing session config
  between build and gate reds the row.
* **Data facts** are computed live on BOTH sides (row count + key
  min/max per table, plus the events time-span in exact micros): they
  red iff the gate's parquet differs from what both engines agree on
  here at build time.

Deliberately absent: spark.sql.shuffle.partitions / cpu count — the
r11 12-run sweep proved every gate row partition-invariant, so
partition sizing cannot explain a divergence and hashing it would only
add a benign-variation false red (see scripts/make_env_pins.py).

Read pattern for the r13 gate (documented in GATE_MANIFEST.json):
canary red => libm axis; this row red with canary green => session/
data axis; both green with an analytics row red => the arm itself.

Scale: ten column-pruned aggregate scans (count/min/max push into the
parquet reader) + one 5-row literal frame — no shuffles beyond the
final tiny union, no data-sized state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import load_table, local_frame
from ophidia_io_server_spark.workloads.base import workload
from ophidia_io_server_spark.workloads.env_pins import SESSION_PINS

# (table, bigint key column) — every driver-registered table
_TABLE_KEYS: list[tuple[str, str]] = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]

# Spark-side facts emitted LIVE (oracle emits the pin); the DuckDB
# version is the one fact with the roles reversed.
_SPARK_LIVE = [k for k in SESSION_PINS if k.startswith("session:")]


def _oracle() -> str:
    arms = []
    for t, k in _TABLE_KEYS:
        arms.append(
            f"SELECT 'tbl:{t}:rows' AS fact,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM {t}) AS val_num,"
            f" CAST(NULL AS VARCHAR) AS val_str")
        arms.append(
            f"SELECT 'tbl:{t}:min_{k}',"
            f" (SELECT CAST(MIN({k}) AS BIGINT) FROM {t}), NULL")
        arms.append(
            f"SELECT 'tbl:{t}:max_{k}',"
            f" (SELECT CAST(MAX({k}) AS BIGINT) FROM {t}), NULL")
    arms.append("SELECT 'tbl:events:min_ts_us',"
                " (SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) FROM events),"
                " NULL")
    arms.append("SELECT 'tbl:events:max_ts_us',"
                " (SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) FROM events),"
                " NULL")
    for fact in _SPARK_LIVE:
        # build-container pin: the Spark side emits the live value
        pin = SESSION_PINS[fact].replace("'", "''")
        arms.append(f"SELECT '{fact}', CAST(NULL AS BIGINT), '{pin}'")
    # the one fact only the oracle can observe live
    arms.append("SELECT 'engine:duckdb_version', CAST(NULL AS BIGINT),"
                " version()")
    return "\nUNION ALL\n".join(arms)


@workload("env_fingerprint", oracle=_oracle())
def env_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring for the full design rationale."""

    def conf(key: str, lower: bool = False) -> str:
        try:
            v = str(spark.conf.get(key))
            return v.lower() if lower else v
        except Exception:
            return "unset"

    live = {
        "session:spark_version": spark.version,
        "session:timezone": conf("spark.sql.session.timeZone"),
        # booleans case-normalized (conf stores whatever casing was set)
        "session:ansi_enabled": conf("spark.sql.ansi.enabled", lower=True),
        "session:parquet_nanos_as_long": conf(
            "spark.sql.legacy.parquet.nanosAsLong", lower=True),
    }
    parts = []
    for t, k in _TABLE_KEYS:
        agg = load_table(spark, sf_dir, t).agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.min(k).cast("bigint").alias("mn"),
            F.max(k).cast("bigint").alias("mx"))
        parts.append(agg.select(F.expr(
            f"stack(3, 'tbl:{t}:rows', c,"
            f" 'tbl:{t}:min_{k}', mn,"
            f" 'tbl:{t}:max_{k}', mx) AS (fact, val_num)")))
    ts_span = load_table(spark, sf_dir, "events").agg(
        F.min(F.unix_micros(F.expr("cast(ts as timestamp)")))
        .cast("bigint").alias("mn"),
        F.max(F.unix_micros(F.expr("cast(ts as timestamp)")))
        .cast("bigint").alias("mx"))
    parts.append(ts_span.select(F.expr(
        "stack(2, 'tbl:events:min_ts_us', mn,"
        " 'tbl:events:max_ts_us', mx) AS (fact, val_num)")))
    num = parts[0]
    for p in parts[1:]:
        num = num.unionByName(p)
    num = num.select("fact", "val_num",
                     F.lit(None).cast("string").alias("val_str"))
    session_rows = [(fact, None, live[fact]) for fact in _SPARK_LIVE]
    session_rows.append(("engine:duckdb_version", None,
                         SESSION_PINS["engine:duckdb_version"]))
    sess = local_frame(
        spark, session_rows, "fact string, val_num bigint, val_str string")
    return num.unionByName(sess)
