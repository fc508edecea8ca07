"""Structured Streaming layer: windowed aggs, stateful dedup, foreachBatch
insert accumulation — each checked against its batch equivalent."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import load_table
from ophidia_io_server_spark.streaming.ingest import (
    events_stream,
    hourly_counts_stream,
    run_available_now,
    stateful_dedup_stream,
    streaming_insert_fragment,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    d = tempfile.mkdtemp(prefix="ophidia_stream_test_")
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_hourly_counts_stream_matches_batch(spark, events_dir):
    stream_result = run_available_now(
        hourly_counts_stream(events_stream(spark, events_dir)), "t_hourly"
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
              .cast("bigint").alias("total_cents"))
    )
    got = {(r.hour_start, r.event_type): (r.n_events, r.total_cents)
           for r in stream_result.collect()}
    want = {(r.hour_start, r.event_type): (r.n_events, r.total_cents)
            for r in batch.collect()}
    assert got == want


def test_stateful_dedup_stream(spark, events_dir):
    # duplicate the input by reading it twice into one directory
    d = tempfile.mkdtemp(prefix="ophidia_dup_test_")
    try:
        ev = spark.read.parquet(events_dir)
        ev.unionAll(ev).repartition(2).write.mode("overwrite").parquet(d)
        deduped = run_available_now(
            stateful_dedup_stream(events_stream(spark, d)), "t_dedup", output_mode="append"
        )
        n_unique = ev.select("event_id").distinct().count()
        assert deduped.select("event_id").distinct().count() == n_unique
        assert deduped.count() == n_unique
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_user_running_stats_stream(spark, events_dir):
    from ophidia_io_server_spark.streaming.ingest import user_running_stats_stream

    res = run_available_now(
        user_running_stats_stream(events_stream(spark, events_dir)),
        "t_userstats", output_mode="update",
    )
    # update mode may emit a row per (user, batch); the LAST emit per user is
    # the cumulative total — compare that against the batch aggregate
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        res.withColumn("rn", F.row_number().over(w)).where("rn = 1")
        .select("user_id", "n_events", F.round("total_value", 4).alias("tv"))
    )
    batch = (
        load_table(spark, SF, "events").groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.round(F.sum("value"), 4).alias("tv"))
    )
    got = {r.user_id: (r.n_events, r.tv) for r in final.collect()}
    want = {r.user_id: (r.n_events, r.tv) for r in batch.collect()}
    assert got == want


def test_streaming_insert_fragment(spark, events_dir, server):
    entry = streaming_insert_fragment(
        spark,
        events_stream(spark, events_dir, max_files_per_trigger=1),
        server.catalog,
        "ev_frag",
    )
    assert entry is not None
    n = server.catalog.df("ev_frag").count()
    assert n == load_table(spark, SF, "events").count()


def test_stream_heavy_hitters_bounded_state_multi_batch(spark, tmp_path):
    """MG state across micro-batches: candidates after the drain must
    contain every item above the support bound, state stays <= k per
    bucket, and the run must actually span multiple micro-batches."""
    import numpy as np
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.streaming.ingest import (
        final_candidates,
        heavy_hitters_stream,
    )

    rng = np.random.default_rng(4)
    # heavy items with known counts + a zipf tail
    items = (["hh_alpha"] * 900 + ["hh_beta"] * 700 + ["hh_gamma"] * 500
             + [f"tail{v}" for v in rng.zipf(1.5, 4000) % 800])
    rng.shuffle(items)
    df = spark.createDataFrame([(x,) for x in items], "item string")
    path = str(tmp_path / "toks")
    df.repartition(8).write.parquet(path)
    stream = (spark.readStream.schema("item string")
              .option("maxFilesPerTrigger", 1).parquet(path))
    q = (heavy_hitters_stream(stream, "item", k=16, buckets=4)
         .writeStream.format("memory").queryName("hhq")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 7   # one batch per file
    emitted = spark.table("hhq")
    cand = {r["item"] for r in final_candidates(emitted).collect()}
    # every item above W_total/(k+1) must survive (here k per bucket=16,
    # bound is per-bucket and thus LOOSER; the three planted items tower
    # over any bound)
    assert {"hh_alpha", "hh_beta", "hh_gamma"} <= cand
    # bounded state: the last snapshot per bucket holds <= k items
    from pyspark.sql import Window
    w = Window.partitionBy("bkt")
    last = (emitted.withColumn("_mx", F.max("round").over(w))
            .where(F.col("round") == F.col("_mx")))
    per_bkt = {r["bkt"]: r["n"] for r in
               last.groupBy("bkt").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 16 for n in per_bkt.values())
    # exact verify reproduces true counts for the planted items
    got = {r["item"]: r["cnt"] for r in
           df.join(F.broadcast(final_candidates(emitted)), "item", "left_semi")
             .groupBy("item").count().withColumnRenamed("count", "cnt").collect()}
    assert got["hh_alpha"] == 900 and got["hh_beta"] == 700 and got["hh_gamma"] == 500


def test_minhash_lsh_stream_batch_arrival_invariance(spark, tmp_path):
    """Streaming incremental MinHash: the union of per-batch emitted pairs
    must equal the one-shot batch run regardless of how docs are split
    into micro-batches — including a near-dup pair whose members arrive
    in DIFFERENT batches."""
    import numpy as np

    from ophidia_io_server_spark.pipeline.dedup import minhash_lsh_pairs
    from ophidia_io_server_spark.streaming.ingest import minhash_lsh_stream

    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(120)]
    docs = [list(rng.choice(vocab, size=int(rng.integers(8, 40))))
            for _ in range(50)]
    for a, b in ((3, 41), (10, 11), (20, 22)):
        seg = [f"dup{a}_{b}_{k}" for k in range(25)]
        docs[a] = seg + docs[a][:3]
        docs[b] = seg + docs[b][:2]
    df = spark.createDataFrame(
        [(i, " ".join(tk)) for i, tk in enumerate(docs)],
        "doc_id long, text string")
    for split, nfiles in (("doc_id % 7", 7), ("doc_id % 3", 3)):
        path = str(tmp_path / f"mh_{nfiles}")
        (df.repartition(nfiles, F.expr(split))
         .write.mode("overwrite").parquet(path))
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(path))
        got = {(r["doc_a"], r["doc_b"], r["jaccard"])
               for r in minhash_lsh_stream(stream).collect()}
        want = {(r["doc_a"], r["doc_b"], r["jaccard"])
                for r in minhash_lsh_pairs(df).collect()}
        assert got == want and len(want) >= 3


def test_stream_stream_attribution_multibatch_matches_batch(spark, tmp_path):
    """Stream-stream inner join drained file-by-file equals the batch join
    when the watermark covers the corpus's event-time disorder (31 days
    ≥ the staged events' full span) — buffered state is never evicted
    before its partner can arrive, so append-mode emission is exactly the
    batch result regardless of file arrival order."""
    from ophidia_io_server_spark.streaming.ingest import (
        EVENTS_SCHEMA,
        stream_stream_attribution,
    )

    # watermarks require TIMESTAMP (ltz) event time, not the parquet NTZ
    ev = load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ss_events")
    ev.repartition(5).write.mode("overwrite").parquet(path)
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(path))
    joined = stream_stream_attribution(
        src.where(F.col("event_type") == "view"),
        src.where(F.col("event_type") == "purchase"),
        window_minutes=120, watermark="31 days",
    )
    got = run_available_now(joined, "t_ss_attr", output_mode="append")
    bv = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
    bp = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id",
        F.col("ts").alias("p_ts"))
    want = bp.join(
        bv,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 120 MINUTES")),
        "inner",
    )
    g = {(r["p_event_id"], r["v_event_id"])
         for r in got.select("p_event_id", "v_event_id").collect()}
    w = {(r["p_event_id"], r["v_event_id"])
         for r in want.select("p_event_id", "v_event_id").collect()}
    assert g == w and len(w) >= 5


def test_outer_join_null_rows_need_watermark_proof(spark, tmp_path):
    """LEFT-OUTER stream-stream: a tiny hand corpus where purchase A has a
    matching prior view and purchase B does not.  WITHOUT sentinel batches
    the NULL row for B must NOT appear (the watermark never proves the
    absence); WITH two trailing far-future sentinel batches it must."""
    from ophidia_io_server_spark.streaming.ingest import (
        EVENTS_SCHEMA,
        run_available_now,
        stream_stream_attribution,
    )

    def rows_to_df(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    real = [
        (1, t0, 10, "view", 0.0, None),
        (2, t0 + dt.timedelta(minutes=30), 10, "purchase", 0.0, None),
        (3, t0 + dt.timedelta(minutes=40), 20, "purchase", 0.0, None),
    ]
    sents = [
        [(100, t0 + dt.timedelta(days=30), -1, "view", 0.0, None),
         (101, t0 + dt.timedelta(days=30), -2, "purchase", 0.0, None)],
        [(102, t0 + dt.timedelta(days=60), -1, "view", 0.0, None),
         (103, t0 + dt.timedelta(days=60), -2, "purchase", 0.0, None)],
    ]

    import os
    import time as _time

    for with_sentinels, name in ((False, "no_sent"), (True, "sent")):
        path = str(tmp_path / f"outer_{name}")
        rows_to_df(real).coalesce(1).write.mode("overwrite").parquet(path)
        if with_sentinels:
            before = set(os.listdir(path))
            for i, batch in enumerate(sents, start=1):
                rows_to_df(batch).coalesce(1).write.mode("append").parquet(path)
                now = set(os.listdir(path))
                for f in now - before:
                    if f.endswith(".parquet"):
                        os.utime(os.path.join(path, f),
                                 (_time.time() + 3600 * i,) * 2)
                before = now
        src = (spark.readStream.schema(EVENTS_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(path))
        joined = stream_stream_attribution(
            src.where(F.col("event_type") == "view"),
            src.where(F.col("event_type") == "purchase"),
            window_minutes=120, watermark="1 hour", how="leftOuter")
        got = run_available_now(joined, f"t_outer_{name}",
                                output_mode="append")
        got = got.where(F.col("user_id") >= 0)
        pairs = {(r["p_event_id"], r["v_event_id"]) for r in got.collect()}
        if with_sentinels:
            assert pairs == {(2, 1), (3, None)}
        else:
            # the matched pair emits eagerly; the NULL row cannot
            assert (3, None) not in pairs


def test_closeout_emits_each_user_once_after_timeout(spark, tmp_path):
    """EventTimeTimeout close-out: users emit exactly once, only after the
    watermark passes last_ts + gap (via the sentinel batches), with their
    full (n_events, last_ts)."""
    from ophidia_io_server_spark.streaming.ingest import (
        EVENTS_SCHEMA,
        run_available_now,
        user_inactivity_closeout_stream,
    )

    import datetime as dt
    import os
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    real = [
        (1, t0, 10, "view", 0.0, None),
        (2, t0 + dt.timedelta(minutes=10), 10, "view", 0.0, None),
        (3, t0 + dt.timedelta(minutes=20), 20, "click", 0.0, None),
    ]
    path = str(tmp_path / "closeout")
    df = spark.createDataFrame(
        real, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    before = set(os.listdir(path))
    for i, days in enumerate((30, 60), start=1):
        s = spark.createDataFrame(
            [(100 + i, t0 + dt.timedelta(days=days), -1, "view", 0.0, None)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string")
        s.coalesce(1).write.mode("append").parquet(path)
        now = set(os.listdir(path))
        for f in now - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(path, f),
                         (_time.time() + 3600 * i,) * 2)
        before = now
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(path))
    closed = user_inactivity_closeout_stream(src, gap_minutes=60,
                                             watermark="1 hour")
    got = run_available_now(closed, "t_closeout", output_mode="append")
    rows = {r["user_id"]: (r["n_events"], r["last_ts"])
            for r in got.where(F.col("user_id") >= 0).collect()}
    assert rows == {
        10: (2, t0 + dt.timedelta(minutes=10)),
        20: (1, t0 + dt.timedelta(minutes=20)),
    }


@pytest.mark.parametrize("drain", ["run_available_now", "streaming_insert_fragment"])
def test_drain_timeout_raises_and_stops_query(spark, tmp_path, server, drain):
    """A drain still running at its timeout stops the query and raises
    instead of returning a partial sink.  The memory sink runs the sleeping
    UDF inside the micro-batch; the foreachBatch sink only persists each
    batch lazily, so there the one-file-per-trigger source keeps the query
    running past the timeout."""
    import time

    @F.udf("bigint")
    def sleepy(x):
        time.sleep(3)
        return x

    path = str(tmp_path / "slow")
    spark.range(64).repartition(64).write.parquet(path)
    stream = (spark.readStream.schema("id bigint")
              .option("maxFilesPerTrigger", 1).parquet(path)
              .select(sleepy("id").alias("event_id")))
    with pytest.raises(TimeoutError, match="did not finish within 1 s"):
        if drain == "run_available_now":
            run_available_now(stream, "t_slow", output_mode="append",
                              timeout_sec=1)
        else:
            streaming_insert_fragment(spark, stream, server.catalog,
                                      "slow_frag", timeout_sec=1)
    assert spark.streams.active == []


def test_event_stagings_follow_a_regenerated_source(spark, tmp_path):
    """The /tmp event stagings are keyed on the source parquet's identity
    (path, size, mtime): regenerating ``events.parquet`` at the same path
    stages and serves the new rows, not the rows staged from the old file."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ophidia_io_server_spark import session
    from ophidia_io_server_spark.workloads.streaming import (
        _staged_events_dir,
        _staged_events_outer_dir,
    )

    sf = str(tmp_path)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def write_events(n):
        pq.write_table(pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(minutes=i) for i in range(n)],
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([i % 2 for i in range(n)], pa.int64()),
            "event_type": ["view"] * n,
            "value": [0.0] * n,
            "props": pa.array([None] * n, pa.string()),
        }), f"{sf}/events.parquet")

    def served(path):
        return sorted(r.event_id for r in
                      spark.read.parquet(path).select("event_id").collect()
                      if r.event_id < 10**15)  # drop the outer sentinels

    staged = []
    try:
        for n in (3, 5):
            write_events(n)
            # a new process starts with an empty session store; the /tmp
            # stagings outlive it
            for entries in session._MEMO.values():
                for k in [k for k in entries if sf in k]:
                    del entries[k]
            for stage in (_staged_events_dir, _staged_events_outer_dir):
                path = stage(spark, sf)
                staged.append(path)
                assert served(path) == list(range(n)), stage.__name__
    finally:
        for path in staged:
            shutil.rmtree(path, ignore_errors=True)


def test_load_table_follows_a_regenerated_table(spark, tmp_path):
    """A table rewritten at the same path gets a fresh plan from
    ``load_table`` in the same process, not the memoized plan over the
    deleted files."""
    sf = str(tmp_path)
    for keys in ([0, 1], [5, 6, 7]):
        # an overwrite replaces the part files the first plan listed
        spark.createDataFrame([(k,) for k in keys], "r_regionkey long") \
            .write.mode("overwrite").parquet(f"{sf}/region.parquet")
        got = sorted(r.r_regionkey for r in load_table(spark, sf, "region").collect())
        assert got == keys


def test_one_drain_and_no_facade_imports():
    """Every stream drain goes through ``ingest._drain``, and only the
    byte-frozen ``bench.py`` still imports the ``workload`` facade."""
    import inspect
    import re
    from pathlib import Path

    import ophidia_io_server_spark
    from ophidia_io_server_spark.streaming import ingest

    pkg = Path(ophidia_io_server_spark.__file__).parent
    sites = [(p, n) for p in sorted(pkg.rglob("*.py"))
             for n, line in enumerate(p.read_text().splitlines(), 1)
             if "awaitTermination(" in line]
    assert len(sites) == 1, sites
    path, lineno = sites[0]
    src, start = inspect.getsourcelines(ingest._drain)
    assert path == Path(ingest.__file__)
    assert start <= lineno < start + len(src)

    facade = re.compile(
        r"ophidia_io_server_spark\.workload\b"
        r"|from\s+ophidia_io_server_spark\s+import\s+\(?\s*workload\b")
    repo = pkg.parent
    importers = sorted(
        str(p.relative_to(repo)) for p in repo.rglob("*.py")
        if facade.search(p.read_text()))
    assert importers == ["bench.py"], importers


def test_same_rows_is_exceptall_both_ways(spark):
    """``same_rows`` answers what the two-``exceptAll`` check answers:
    duplicates count, NULLs and NaNs match themselves, -0.0 matches 0.0,
    and columns pair up by position, not by name."""
    from ophidia_io_server_spark.sources.tables import local_frame
    from ophidia_io_server_spark.workloads.base import same_rows

    nan = float("nan")
    rows = [(1, 0.5, "a"), (1, 0.5, "a"), (2, nan, None), (None, 0.0, "b")]
    variants = {
        "reordered": (rows[::-1], True),
        "signed_zero": (rows[:3] + [(None, -0.0, "b")], True),
        "one_duplicate_fewer": (rows[1:], False),
        "one_row_more": (rows + [(3, 1.0, "c")], False),
        "null_for_nan": (rows[:2] + [(2, None, None)] + rows[3:], False),
    }
    a = local_frame(spark, rows, "k long, x double, s string")
    for name, (other, want) in variants.items():
        b = local_frame(spark, other, "k2 long, x2 double, s2 string")
        both_ways = (a.exceptAll(b).count() == 0
                     and b.exceptAll(a).count() == 0)
        assert same_rows(a, b) is both_ways is want, name
