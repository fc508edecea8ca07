"""Structured Streaming workloads (beyond-reference mandate): staged event streams, windowed aggregates, sessionization, stream-stream joins, stateful close-out.

Carved verbatim out of the original workload.py (r8 VERDICT #3);
provenance citations in the per-workload docstrings are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.sources.tables import (
    exact_cents_sum,
    load_table,
    local_frame,
    table_ident,
)

from ophidia_io_server_spark.session import session_memo
from ophidia_io_server_spark.workloads.base import same_rows, staged_dir, workload


# ---------------------------------------------------------------------------
# Structured Streaming (beyond-reference mandate)
# ---------------------------------------------------------------------------


def _staged_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as a multi-file micros-timestamp parquet directory (the
    driver testdata is TIMESTAMP(NANOS), which a file-source stream schema
    cannot bind).  Staged by ``staged_dir``, keyed on the source parquet's
    identity, so a regenerated table is staged again.

    TWO files (r14, verdict item 2): the file count sets the data
    micro-batch count for the maxFilesPerTrigger=1 consumers
    (tdigest/moments/quantile rollups), and each extra batch costs a
    fixed ~0.3-0.6 s of micro-batch machinery while the drained result
    is BITWISE batch-count invariant for every consumer — integer
    value-count / moment states are commutative monoids over the row
    multiset, and the bottom-k sketch's coordination theorem gives
    bitwise sample equality for any decomposition.  Two files keep the
    multi-batch state-merge path genuinely exercised (batch 2 merges
    into batch 1's state).  Probed at sf0.01 across 4/2/1-file
    stagings: identical row signatures on every consumer
    (scripts/r14_stream_batchcount_probe.py).  The single-batch
    consumers (hourly/session/hopping/ohlc/psi) read the whole
    directory in one batch regardless of file count."""
    # the suffix versions the staging layout: a stale 4-file dir from a
    # previous session must not silently set the batch count
    return staged_dir(
        sf_dir, "events", "events",
        lambda path: load_table(spark, sf_dir, "events").repartition(2)
        .write.parquet(path),
        suffix="_f2")


def _staged_events_outer_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events staged for the LEFT-OUTER stream-stream join: ONE real-data
    file (single first batch — no cross-batch event-time disorder to
    late-drop) followed by ONE single-row-pair sentinel file with a later
    mtime and far-future timestamps.  With maxFilesPerTrigger=1 the
    sentinel becomes one trailing micro-batch that advances the watermark
    past every purchase's join horizon; the state-eviction pass that
    actually EMITS the NULL-extended unmatched rows (eviction uses the
    watermark computed at the END of the previous batch) then runs in the
    trailing NO-DATA micro-batch Spark executes before an availableNow
    drain terminates when the watermark advanced
    (``spark.sql.streaming.noDataMicroBatches.enabled``, pinned true in
    ``run_available_now``).  r14, verdict item 2: the r13 form staged a
    SECOND sentinel to host that eviction pass — one whole extra
    micro-batch per drain on three rows; probed at sf0.01, the 1- and
    2-sentinel stagings drain BITWISE-identical results on all three
    consumers (scripts/r14_stream_batchcount_probe.py), and every
    consumer's ``stream_equals_batch`` certificate re-proves the
    eviction fired on every run.  Keyed on the source parquet's identity."""
    import os
    import time
    from datetime import timedelta

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.coalesce(1).write.parquet(path)
        data = set(os.listdir(path))
        far = ev.agg(F.max("ts")).collect()[0][0] + timedelta(days=30)
        # one far-future VIEW and PURCHASE on negative user ids: they pass
        # the event-type filters so they reach the watermark operators (the
        # global watermark is the MIN across both sides' nodes — rows
        # filtered before withWatermark advance nothing), can never join
        # (no real events share their users), and the sentinel purchase's
        # own NULL row is dropped by the workload's user_id >= 0 filter.
        local_frame(
            spark,
            [(10 ** 15 + 2, far, -1, "view", 0.0, None),
             (10 ** 15 + 3, far, -2, "purchase", 0.0, None)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(path)
        later = time.time() + 3600
        for f in set(os.listdir(path)) - data:
            if f.endswith(".parquet"):
                os.utime(os.path.join(path, f), (later, later))

    # the suffix versions the staging layout (stale 2-sentinel dirs from a
    # previous session must not add a batch back)
    return staged_dir(sf_dir, "events", "events_outer", write, suffix="_s1")


@workload(
    "stream_view_attribution_outer",
    oracle="""
    SELECT p.event_id AS p_event_id, v.event_id AS v_event_id,
           p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us,
           (v.event_id IS NOT NULL) AS matched,
           TRUE AS stream_equals_batch
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts > p.ts - INTERVAL 120 MINUTES
    """,
)
def stream_view_attribution_outer(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join
    (``streaming/ingest.py::stream_stream_attribution`` with
    ``how="leftOuter"``): every purchase emits — matched to prior-2h views
    or NULL-extended once the watermark PROVES no view can still arrive.  The drain stages one
    trailing sentinel micro-batch (``_staged_events_outer_dir``) to
    advance the watermark; the NULL rows materialize in the state-
    eviction pass of the no-data batch AFTER it — the semantics corner
    that distinguishes outer from inner stream-stream joins.  Checked two
    ways: the oracle's batch LEFT JOIN, and ``stream_equals_batch``
    asserting the drained stream set-equals the same join called on the
    static table, INCLUDING the NULL-extended rows."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
        stream_stream_attribution,
    )

    path = _staged_events_outer_dir(spark, sf_dir)
    src = events_stream(spark, path, max_files_per_trigger=1)
    joined = stream_stream_attribution(
        src.where(F.col("event_type") == "view"),
        src.where(F.col("event_type") == "purchase"),
        window_minutes=120, watermark="4 hours", how="leftOuter",
    )
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    landed = run_available_now(joined, f"stream_ss_attr_outer_{tag}",
                               output_mode="append")
    ev = load_table(spark, sf_dir, "events")
    batch = stream_stream_attribution(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        window_minutes=120, watermark="4 hours", how="leftOuter",
    ).select("p_event_id", "v_event_id", "user_id", "p_ts", "v_ts")
    out = (landed.where(F.col("user_id") >= 0)  # drop the sentinel purchase
           .select("p_event_id", "v_event_id", "user_id", "p_ts", "v_ts"))
    # call-invariant per session (memoized staged input, deterministic
    # drain + eviction pass) — certificate memoized, gate computes fresh
    eq = session_memo(spark, ("sva_outer_eq", sf_dir), lambda: same_rows(out, batch),
                      ident=table_ident(sf_dir, "events"))
    return out.select(
        "p_event_id", "v_event_id", "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_us"),
        F.col("v_event_id").isNotNull().alias("matched"),
    ).withColumn("stream_equals_batch", F.lit(eq))


@workload(
    "stream_user_closeout",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts) AS last_ts, TRUE AS stream_equals_batch
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
)
def stream_user_closeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inactivity close-out via EVENT-TIME STATE TIMEOUT
    (``streaming/ingest.py::user_inactivity_closeout_stream``): each
    user's (n_events, last_ts) accumulates in the state store and is
    emitted EXACTLY ONCE when the watermark passes ``last_ts + gap`` with
    no new event — emission driven by the ABSENCE of data
    (``GroupStateTimeout.EventTimeTimeout`` + ``state.remove()``), the
    abandoned-cart/session-close discipline none of the repo's other
    stateful operators exercise.  The drain reuses the sentinel staging
    (``_staged_events_outer_dir``): the far-future sentinel batch pushes
    the watermark past every real user's horizon, and timeouts fire in
    the no-data batch AFTER the advance — so the drained stream emits every user
    exactly once, set-equal to the batch groupBy (the
    ``stream_equals_batch`` boolean; the oracle is the batch groupBy)."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
        user_inactivity_closeout_stream,
    )

    path = _staged_events_outer_dir(spark, sf_dir)
    src = (events_stream(spark, path, max_files_per_trigger=1)
           .where(F.col("user_id").isNotNull()))
    closed = user_inactivity_closeout_stream(src, gap_minutes=120,
                                             watermark="2 hours")
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    landed = (run_available_now(closed, f"stream_closeout_{tag}",
                                output_mode="append")
              .where(F.col("user_id") >= 0))  # drop sentinel users
    batch = (load_table(spark, sf_dir, "events")
             .where(F.col("user_id").isNotNull())
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                  F.max("ts").alias("last_ts")))
    # call-invariant per session (memoized staged input, exactly-once
    # timeout emission) — certificate memoized, gate computes it fresh
    eq = session_memo(spark, ("closeout_eq", sf_dir), lambda: same_rows(landed, batch),
                      ident=table_ident(sf_dir, "events"))
    return landed.withColumn("stream_equals_batch", F.lit(eq))


@workload(
    "events_hourly_streaming",
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
def events_hourly_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling-window aggregation as events_hourly_window but
    executed through readStream → watermark → windowed agg → availableNow
    memory sink; the batch oracle checks the streaming result."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        hourly_counts_stream,
        run_available_now,
    )

    path = _staged_events_dir(spark, sf_dir)
    stream = hourly_counts_stream(events_stream(spark, path))
    name = "events_hourly_stream_result"
    return run_available_now(stream, name)


@workload(
    "stream_dedup_dialect",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE event_id <= 500) AS n_rows,
           (SELECT CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
            FROM events WHERE event_id <= 500) AS total_dialect_cents
    FROM events
    """,
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the events table staged TWICE (every event a
    duplicate) → dropDuplicatesWithinWatermark recovers exactly the original
    set; state is watermark-bounded so memory stays O(horizon) at any scale.
    Merged r3 with stream_to_dialect (full loop: Structured-Streaming ingest
    → catalog fragment via foreachBatch ≙ multi-run insert → dialect select
    over the stored fragment); the two 1-row summaries cross-join into one."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
        stateful_dedup_stream,
        streaming_insert_fragment,
    )

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(2).write.parquet(path)
        ev.repartition(3).write.mode("append").parquet(path)

    path = staged_dir(sf_dir, "events", "dup", write)
    deduped = stateful_dedup_stream(events_stream(spark, path))
    res = run_available_now(deduped, "events_dedup_result", output_mode="append")
    dedup_row = res.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        exact_cents_sum("value").alias("total_cents"),
    )

    srv = IOServer(spark)
    clean = _staged_events_dir(spark, sf_dir)
    # The dialect-side total rides the integer-cents grid (r6 ADVICE): the
    # fragment stores pre-rounded cents, so oph_reduce's engine-order double
    # sum is exact (integer-valued doubles far below 2^53) and order-free.
    stream = events_stream(spark, clean).where(F.col("event_id") <= 500).select(
        F.col("event_id").alias("id_dim"),
        F.array(F.round(F.col("value") * 100)).alias("measure"),
    )
    streaming_insert_fragment(spark, stream, srv.catalog, "ev_frag")
    dialect_row = srv.execute(
        "operation=select;from=ev_frag;"
        "field=oph_count_array(oph_roll_up(measure))|oph_reduce(oph_roll_up(measure),'sum');"
        "select_alias=n_rows|total"
    ).select(F.col("n_rows").cast("bigint").alias("n_rows"),
             F.col("total").cast("bigint").alias("total_dialect_cents"))
    return dedup_row.crossJoin(dialect_row)


@workload(
    "events_session_window_streaming",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def events_session_window_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap sessionization with F.session_window + watermark; the
    batch lag/cumsum formulation is the oracle (same session boundaries)."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
        session_window_stream,
    )

    path = _staged_events_dir(spark, sf_dir)
    stream = session_window_stream(events_stream(spark, path))
    return run_available_now(stream, "events_session_window_result")


@workload(
    "events_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the batch shape of a
    session-window stream; lag/cumulative-sum over per-user windows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    if spark.conf.get("spark.sql.session.timeZone", "") == "UTC":
        # Fast path: with the session tz pinned to UTC (get_spark guarantees
        # this) the NTZ→LTZ cast is value-preserving — UTC has no DST — so
        # the gap is plain long arithmetic in whole-stage codegen. The
        # interval-typed compare below measures ~1.5× slower at sf0.1
        # (PERF.md r5): DayTimeInterval comparisons fall out of codegen.
        tsl = F.unix_micros(F.col("ts").cast("timestamp"))
        gap_cond = (tsl - F.lag(tsl).over(w)) > 1800 * 1_000_000
    else:
        # Timezone-independent gap for foreign sessions: ts − lag(ts) is a
        # day-time interval, so no NTZ→LTZ cast routes through a non-UTC
        # session timezone (a DST transition inside a gap would have
        # shifted a boundary by an hour).
        gap_cond = (F.col("ts") - F.lag("ts").over(w)) > F.expr("INTERVAL 30 MINUTES")
    seq = ev.withColumn("new_session", F.when(gap_cond, 1).otherwise(0))
    sess = seq.withColumn(
        "session_id",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


@workload(
    "events_hopping_streaming",
    oracle="""
    SELECT win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
             event_type, value
      FROM events
    )
    GROUP BY win_start, event_type
    """,
)
def events_hopping_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME hopping-window aggregation as events_hopping_window but
    through readStream → watermark → sliding windowed agg → availableNow
    memory sink — the overlapping-window streaming state shape (two open
    windows per slide) the tumbling twin doesn't exercise; the batch
    oracle checks the streaming result."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        hopping_counts_stream,
        run_available_now,
    )

    path = _staged_events_dir(spark, sf_dir)
    stream = hopping_counts_stream(events_stream(spark, path))
    return run_available_now(stream, "events_hopping_stream_result")


@workload(
    "events_ohlc_streaming",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, value,
             ts, event_id
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    w AS (
      SELECT hour_start, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY hour_start, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT hour_start, event_type,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY hour_start, event_type
    """,
)
def events_ohlc_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME hourly OHLC bars as events_ohlc_hourly but through
    readStream → watermark → min_by/max_by windowed agg → availableNow
    memory sink (``streaming/ingest.py::ohlc_stream``): exercises
    ORDER-SENSITIVE aggregates (first/last by event time) in streaming
    state, which the count/sum twins don't — min_by/max_by are
    declarative aggregates, so each open window holds four scalars and
    the result is batch-identical whatever the micro-batch split.  The
    batch oracle checks the drained stream bitwise."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        ohlc_stream,
        run_available_now,
    )

    path = _staged_events_dir(spark, sf_dir)
    stream = ohlc_stream(events_stream(spark, path))
    return run_available_now(stream, "events_ohlc_stream_result")


@workload(
    "stream_psi_drift",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
      FROM events
    ),
    b AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM bounds)
                  THEN 1 ELSE 0 END AS ha
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    tot AS (SELECT CAST(SUM(ha) AS BIGINT) AS na,
                   CAST(SUM(1 - ha) AS BIGINT) AS nb FROM b),
    vc AS (SELECT v, CAST(SUM(ha) AS BIGINT) AS ca,
                  CAST(SUM(1 - ha) AS BIGINT) AS cb
           FROM b GROUP BY 1),
    cum AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cum
            FROM vc WHERE ca > 0),
    edges AS (
      SELECT k, MIN(v) AS edge
      FROM cum, unnest(range(1, 10)) AS t(k), tot
      WHERE 10 * cum >= k * tot.na GROUP BY 1
    ),
    vb AS (
      SELECT dv.v,
             CAST(SUM(CASE WHEN dv.v >= e.edge THEN 1 ELSE 0 END)
                  AS BIGINT) AS bin
      FROM (SELECT DISTINCT v FROM vc) dv CROSS JOIN edges e
      GROUP BY 1
    ),
    counts AS (
      SELECT vb.bin,
             CAST(SUM(vc.ca) AS BIGINT) AS n_first,
             CAST(SUM(vc.cb) AS BIGINT) AS n_second
      FROM vc JOIN vb USING (v) GROUP BY 1
    ),
    allbins AS (
      SELECT CAST(k AS BIGINT) AS bin,
             COALESCE(c.n_first, 0) AS n_first,
             COALESCE(c.n_second, 0) AS n_second
      FROM unnest(range(0, 10)) AS t(k)
      LEFT JOIN counts c ON c.bin = k
    )
    SELECT bin, n_first, n_second, tot.na, tot.nb,
           TRUE AS stream_equals_batch
    FROM allbins, tot
    """,
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor — the production shape of
    ``events_value_psi``: the reference histogram (the training-time
    first half's exact nearest-rank decile edges and bin counts) is
    FROZEN batch-side, then the live stream is bin-counted
    incrementally (readStream → literal-edge CASE binning → running
    groupBy(bin) count, availableNow drain) and PSI is computed from
    the drained running counts against the frozen reference — at scale
    the stream side never re-reads history, state is 10 counters.

    ``stream_equals_batch`` certifies per bin that the drained
    streaming count equals the batch second-half count (exact integer
    equality — file-split micro-batching cannot change a count sum), so
    the hashed psi values are the batch row's values by construction.

    Driver-bounded collects: the frozen reference is 9 edge scalars +
    10 bin counts + 2 totals — config-bounded (the broadcast-literal
    class, same as the quantile sketch's k=32 sample)."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
    )

    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        ((F.unix_micros(F.expr("cast(min(ts) as timestamp)"))
          + F.unix_micros(F.expr("cast(max(ts) as timestamp)")))
         / F.lit(2)).cast("bigint").alias("mid")).collect()[0]["mid"]
    b = (ev.where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select(F.round(F.col("value") * 100).cast("bigint").alias("v"),
                 F.when(F.expr("unix_micros(cast(ts as timestamp))")
                        < F.lit(mid), 1).otherwise(0).alias("ha")))
    vc = b.groupBy("v").agg(
        F.sum("ha").cast("bigint").alias("ca"),
        F.sum(1 - F.col("ha")).cast("bigint").alias("cb"))
    tot = vc.agg(F.sum("ca").cast("bigint").alias("na"),
                 F.sum("cb").cast("bigint").alias("nb")).collect()[0]
    na, nb = tot["na"], tot["nb"]
    cum = global_prefix_sum(vc.where(F.col("ca") > 0).select("v", "ca"),
                            ["v"], "ca")
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    edges = sorted(r["edge"] for r in
                   (cum.crossJoin(F.broadcast(ks))
                    .where(10 * F.col("cum") >= F.col("k") * F.lit(na))
                    .groupBy("k").agg(F.min("v").alias("edge"))).collect())

    def bin_expr(vcol):
        e = F.lit(0)
        for edge in edges:
            e = e + F.when(vcol >= F.lit(edge), 1).otherwise(0)
        return e.cast("bigint")

    # frozen reference + batch second-half counts (certificate baseline)
    batch_bins = (vc.withColumn("bin", bin_expr(F.col("v")))
                  .groupBy("bin")
                  .agg(F.sum("ca").cast("bigint").alias("n_first"),
                       F.sum("cb").cast("bigint").alias("n_second")))

    # streaming side: live bin counting of the post-midpoint stream
    path = _staged_events_dir(spark, sf_dir)
    stream = (events_stream(spark, path)
              .where(F.col("value").isNotNull() & ~F.isnan("value"))
              .where(F.expr("unix_micros(cast(ts as timestamp))")
                     >= F.lit(mid))
              .select(bin_expr(F.round(F.col("value") * 100)
                               .cast("bigint")).alias("bin"))
              .groupBy("bin")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_stream")))
    drained = run_available_now(stream, "stream_psi_drift_result")

    allbins = (spark.range(0, 10)
               .select(F.col("id").cast("bigint").alias("bin"))
               .join(batch_bins, "bin", "left")
               .join(drained, "bin", "left")
               .select("bin",
                       F.coalesce("n_first", F.lit(0)).cast("bigint")
                       .alias("n_first"),
                       F.coalesce("n_second", F.lit(0)).cast("bigint")
                       .alias("n_second"),
                       F.coalesce("n_stream", F.lit(0)).cast("bigint")
                       .alias("n_stream")))
    # r13 (environment-proofing, the events_value_psi discipline): the
    # hashed projection is the exact integer bin table + totals; the
    # ln() PSI readout is `analytics.psi_readout`, asserted in
    # tests/test_wave16_ops.py from these exact columns.
    return allbins.select(
        "bin", "n_first",
        F.col("n_stream").alias("n_second"),
        F.lit(int(na)).cast("bigint").alias("na"),
        F.lit(int(nb)).cast("bigint").alias("nb"),
        (F.col("n_stream") == F.col("n_second"))
        .alias("stream_equals_batch"))


# delta and d^3 for the streaming t-digest twin (must equal the batch
# row's _TDIGEST_DELTA in workloads/analytics.py — pinned by the
# stream_equals_batch certificate AND tests/test_round13.py)
_TD_D = 32
_TD_D3 = _TD_D ** 3


@workload(
    "stream_tdigest_rollup",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    vc AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e GROUP BY 1, 2
    ),
    cdf AS (
      SELECT event_type, v, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM vc
    ),
    cl AS (
      -- bounded-threshold form, identical to the batch t-digest oracle
      SELECT event_type, n, CAST(j AS BIGINT) AS cluster,
             (n // {_TD_D3}) * (3 * (j-1) * (j-1) * {_TD_D} - 2 * (j-1) * (j-1) * (j-1))
               + ((n % {_TD_D3}) * (3 * (j-1) * (j-1) * {_TD_D} - 2 * (j-1) * (j-1) * (j-1)))
                 // {_TD_D3} AS t_lo,
             (n // {_TD_D3}) * (3 * j * j * {_TD_D} - 2 * j * j * j)
               + ((n % {_TD_D3}) * (3 * j * j * {_TD_D} - 2 * j * j * j))
                 // {_TD_D3} AS t_hi
      FROM (SELECT DISTINCT event_type, n FROM cdf),
           unnest(range(1, {_TD_D} + 1)) AS t(j)
    ),
    cl2 AS (SELECT * FROM cl WHERE t_hi > t_lo),
    asg AS (
      SELECT c.event_type, cl.cluster, c.v,
             least(c.cum, cl.t_hi) - greatest(c.cum - c.cnt, cl.t_lo) AS w
      FROM cdf c JOIN cl2 AS cl
        ON c.event_type = cl.event_type
       AND c.cum - c.cnt < cl.t_hi AND c.cum > cl.t_lo
    )
    SELECT event_type, cluster,
           CAST(SUM(w) AS BIGINT) AS weight,
           CAST(SUM(v * w) AS BIGINT) AS sum_cents,
           CAST(MIN(v) AS BIGINT) AS lo_cents,
           CAST(MAX(v) AS BIGINT) AS hi_cents,
           TRUE AS stream_equals_batch
    FROM asg GROUP BY 1, 2
    """,
)
def stream_tdigest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``events_tdigest_quantiles`` (r12 verdict #6):
    the canonical t-digest is the fixed point of the construction — a
    pure function of the value-level CDF — so a streaming
    accumulate-then-merge that keeps only the VALUE-LEVEL COUNTS as
    state (integer counts are micro-batch-decomposition invariant)
    converges to the batch digest BITWISE, for any file split.

    Stream side: readStream over the staged corpus with
    maxFilesPerTrigger=1 (multiple genuine micro-batches), a running
    ``groupBy(event_type, cents)`` count in complete mode — state is
    bounded by the DISTINCT integer-cents grid per type, never history
    — then the drained counts feed the identical counts→digest stage
    (``pipeline.quantile.tdigest_from_value_counts``).
    ``stream_equals_batch`` certifies the full digest frame equals the
    one-shot batch ``canonical_tdigest`` struct-for-struct, so the
    hashed values are the batch row's values by construction.

    Scale: the streaming state is the same partial-aggregatable value
    collapse the batch digest starts from; the digest build runs on the
    drained counts table (value-domain-sized).  At 100 TB the stream
    never re-reads history and the per-trigger work is one map-side
    combine + state merge."""
    import hashlib

    from ophidia_io_server_spark.pipeline.quantile import (
        canonical_tdigest,
        tdigest_from_value_counts,
    )
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
    )

    path = _staged_events_dir(spark, sf_dir)
    src = (events_stream(spark, path, max_files_per_trigger=1)
           .where(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("event_type",
                   F.round(F.col("value") * 100).cast("bigint").alias("v")))
    counts = (src.groupBy("event_type", "v")
              .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    drained = run_available_now(counts, f"stream_tdigest_{tag}")
    sdig = tdigest_from_value_counts(
        drained.select("event_type", "v",
                       F.col("cnt").cast("bigint").alias("cnt")),
        ["event_type"], delta=_TD_D)

    def _certify() -> bool:
        e = (load_table(spark, sf_dir, "events")
             .where(F.col("value").isNotNull() & ~F.isnan("value"))
             .select("event_type",
                     F.round(F.col("value") * 100).cast("bigint")
                     .alias("v")))
        bdig = canonical_tdigest(e, ["event_type"], "v", delta=_TD_D)
        return same_rows(sdig, bdig)

    eq = session_memo(spark, ("tdigest_stream_eq", sf_dir), _certify,
                      ident=table_ident(sf_dir, "events"))
    return sdig.select(
        "event_type", "cluster", "weight",
        F.col("sum_val").alias("sum_cents"),
        F.col("lo").alias("lo_cents"), F.col("hi").alias("hi_cents"),
        F.lit(eq).alias("stream_equals_batch"))


@workload(
    "stream_moments_monitor",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS x,
             CAST(hour(ts) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy
      FROM b GROUP BY 1
    )
    SELECT event_type, n, sx, sy, sxx, syy, sxy,
           ROUND((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                 / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                              - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                    * sqrt(CAST(CAST(n AS HUGEINT) * syy
                                - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
             AS corr,
           TRUE AS stream_equals_batch
    FROM s
    WHERE CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
      AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
    """,
)
def stream_moments_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable CO-MOMENT sketch (the variance/covariance
    member of the estimator family, r12 verdict #6): per event type the
    state is SIX exact integers — (n, Σx, Σy, Σx², Σy², Σxy) over
    (value cents, hour-of-day) — the canonical mergeable moment sketch
    (any partition/micro-batch decomposition sums to the same integers,
    so stream==batch is exact, not approximate).  The Pearson
    correlation readout composes from the drained integers through
    +,−,×,/ and sqrt only (DECIMAL clears the means), so the hashed row
    is environment-proof end-to-end.

    ``stream_equals_batch`` certifies the drained streaming state equals
    the one-shot batch aggregate row-for-row.  Degenerate types (zero
    variance on either axis) are excluded by exact integer predicates.

    Scale: streaming state is 6 counters × |types| — O(1) per type at
    any stream length; the batch twin is one partial-aggregatable pass.
    Digit budget: n·Σx² ≤ 1e12 · 1e22 = 1e34 < 10^38 at 10¹²
    events/type with cents ≤ 1e5 — DECIMAL(38)/HUGEINT-safe (the
    burstiness/crosscorr budget class)."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
    )

    dec = "decimal(38,0)"

    def moments(df: DataFrame) -> DataFrame:
        b = (df.where(F.col("value").isNotNull() & ~F.isnan("value"))
             .select("event_type",
                     F.round(F.col("value") * 100).cast("bigint").alias("x"),
                     F.hour("ts").cast("bigint").alias("y")))
        return (b.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                     F.sum(F.col("x").cast(dec)).cast("bigint").alias("sx"),
                     F.sum(F.col("y").cast(dec)).cast("bigint").alias("sy"),
                     F.sum(F.col("x").cast(dec) * F.col("x")).cast("bigint")
                     .alias("sxx"),
                     F.sum(F.col("y").cast(dec) * F.col("y")).cast("bigint")
                     .alias("syy"),
                     F.sum(F.col("x").cast(dec) * F.col("y")).cast("bigint")
                     .alias("sxy")))

    import hashlib

    path = _staged_events_dir(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    drained = run_available_now(
        moments(events_stream(spark, path, max_files_per_trigger=1)),
        f"stream_moments_{tag}")

    def _certify() -> bool:
        batch = moments(load_table(spark, sf_dir, "events"))
        return same_rows(drained, batch)

    eq = session_memo(spark, ("moments_stream_eq", sf_dir), _certify,
                      ident=table_ident(sf_dir, "events"))
    n, sx, sy = [F.col(c).cast(dec) for c in ("n", "sx", "sy")]
    sxx, syy, sxy = [F.col(c).cast(dec) for c in ("sxx", "syy", "sxy")]
    vx = (n * sxx - sx * sx)
    vy = (n * syy - sy * sy)
    corr = ((n * sxy - sx * sy).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))))
    return (drained
            .where((vx > 0) & (vy > 0))
            .select("event_type", "n", "sx", "sy", "sxx", "syy", "sxy",
                    F.round(corr, 6).alias("corr"),
                    F.lit(eq).alias("stream_equals_batch")))


@workload(
    "stream_funnel_sessions",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN value IS NULL OR isnan(value) THEN 0
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id IS NOT NULL
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    g AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view_ts
      FROM sess GROUP BY 1, 2
    ),
    c AS (
      SELECT s.user_id, s.sid, MIN(s.ts) AS first_click_ts
      FROM sess s JOIN g ON s.user_id = g.user_id AND s.sid = g.sid
      WHERE s.event_type = 'click' AND g.first_view_ts IS NOT NULL
            AND s.ts > g.first_view_ts
      GROUP BY 1, 2
    ),
    p AS (
      SELECT user_id, sid, ts AS purchase_ts, cents AS credit_cents FROM (
        SELECT s.user_id, s.sid, s.ts, s.cents,
               ROW_NUMBER() OVER (PARTITION BY s.user_id, s.sid
                                  ORDER BY s.ts, s.event_id) AS rn
        FROM sess s JOIN c ON s.user_id = c.user_id AND s.sid = c.sid
        WHERE s.event_type = 'purchase' AND s.ts > c.first_click_ts
      ) WHERE rn = 1
    )
    SELECT g.user_id, g.session_start, g.n_events, g.first_view_ts,
           c.first_click_ts, p.purchase_ts,
           COALESCE(p.credit_cents, 0) AS credit_cents,
           (p.purchase_ts IS NOT NULL) AS converted,
           TRUE AS stream_equals_batch
    FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.sid = c.sid
           LEFT JOIN p ON g.user_id = p.user_id AND g.sid = p.sid
    """,
)
def stream_funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized funnel attribution over a watermarked stream
    (``streaming/ingest.py::sessionized_funnel_stream``): 30-min-gap
    sessions per user, each resolving the ordered funnel view ->
    click(after view) -> purchase(after click) with the converting
    purchase's cents attributed to the session.  Sessions closed by
    in-stream evidence emit immediately; the trailing open session per
    user emits via event-time state TIMEOUT once the watermark passes
    its gap horizon (the sentinel staging pushes the final watermark
    past every real user).  The oracle is the full batch sessionize +
    funnel SQL; ``stream_equals_batch`` additionally asserts the
    drained stream set-equals the identical Spark batch plan.

    Scale: state is one fixed-width tuple per ACTIVE user (the open
    session's funnel registers), evicted on timeout — no event
    buffering; the batch twin's windows partition by (user, session),
    both bounded by user activity, never data-sized."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        run_available_now,
        sessionized_funnel_stream,
    )

    path = _staged_events_outer_dir(spark, sf_dir)
    src = (events_stream(spark, path, max_files_per_trigger=1)
           .where(F.col("user_id").isNotNull()))
    funnel = sessionized_funnel_stream(src, gap_minutes=30,
                                       watermark="2 hours")
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    landed = (run_available_now(funnel, f"stream_funnel_{tag}",
                                output_mode="append")
              .where(F.col("user_id") >= 0))  # drop sentinel users

    # ---- batch twin (certificate side) --------------------------------
    from pyspark.sql import Window

    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select("user_id", "ts", "event_id", "event_type",
                  F.when(F.col("value").isNull() | F.isnan("value"),
                         F.lit(0))
                  .otherwise(F.round(F.col("value") * 100))
                  .cast("bigint").alias("cents")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsl = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.withColumn(
        "new_session",
        F.when((tsl - F.lag(tsl).over(w)) > 1800 * 1_000_000, 1)
        .otherwise(0))
    sess = seq.withColumn(
        "sid", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
    g = (sess.groupBy("user_id", "sid")
         .agg(F.min("ts").alias("session_start"),
              F.count(F.lit(1)).cast("bigint").alias("n_events"),
              F.min(F.when(F.col("event_type") == "view", F.col("ts")))
              .alias("first_view_ts")))
    c = (sess.where(F.col("event_type") == "click")
         .join(g.select("user_id", "sid", "first_view_ts"),
               ["user_id", "sid"])
         .where(F.col("first_view_ts").isNotNull()
                & (F.col("ts") > F.col("first_view_ts")))
         .groupBy("user_id", "sid")
         .agg(F.min("ts").alias("first_click_ts")))
    p = (sess.where(F.col("event_type") == "purchase")
         .join(c, ["user_id", "sid"])
         .where(F.col("ts") > F.col("first_click_ts"))
         .groupBy("user_id", "sid")
         .agg(F.min(F.struct("ts", "event_id", "cents")).alias("m"))
         .select("user_id", "sid", F.col("m.ts").alias("purchase_ts"),
                 F.col("m.cents").alias("credit_cents")))
    batch = (g.join(c, ["user_id", "sid"], "left")
             .join(p, ["user_id", "sid"], "left")
             .select("user_id",
                     F.col("session_start").cast("timestamp"),
                     "n_events",
                     F.col("first_view_ts").cast("timestamp"),
                     F.col("first_click_ts").cast("timestamp"),
                     F.col("purchase_ts").cast("timestamp"),
                     F.coalesce("credit_cents", F.lit(0)).cast("bigint")
                     .alias("credit_cents"),
                     F.col("purchase_ts").isNotNull().alias("converted")))
    eq = session_memo(spark, ("funnel_eq", sf_dir), lambda: same_rows(landed, batch),
                      ident=table_ident(sf_dir, "events"))
    return landed.withColumn("stream_equals_batch", F.lit(eq))
