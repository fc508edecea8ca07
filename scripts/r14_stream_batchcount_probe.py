"""r14 verdict item 2: streaming batch-count invariance probe.

For each availableNow drain whose staging file count sets its micro-batch
count, drain the SAME source staged as 4 / 2 / 1 files (and the sentinel
staging with 2 / 1 sentinels) and compare the drained results BITWISE
(sorted rows).  Also prints per-batch progress durations so the per-batch
marginal cost is measured, not guessed.

Invariance arguments being tested empirically:
  * stream_tdigest_rollup   — complete-mode integer value counts: counts
    are a commutative monoid over the row multiset, so ANY file split
    drains to the same counts; the digest is a pure function of them.
  * stream_moments_monitor  — six exact integer counters per type: same.
  * stream_quantile_rollup  — the coordinated bottom-k sketch's
    coordination theorem (pipeline/quantile.py) gives BITWISE sample
    equality for any batch decomposition.
  * stream_minhash_incremental — banding is per-doc deterministic, so
    pair candidacy is batch-arrival invariant (docstring contract);
    2 batches still exercise both candidate classes (new-new in batch 1,
    old-new + new-new in batch 2).
  * outer-staging rows (view_attribution_outer / user_closeout /
    funnel_sessions) — eviction/timeout fires in the batch after the
    watermark advances; the probe asks whether ONE sentinel plus Spark's
    trailing no-data micro-batch (noDataMicroBatches, on by default)
    reaches the same final emission as the committed TWO-sentinel form.

Usage: python scripts/r14_stream_batchcount_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


def _rows_key(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


def _drain_timings(spark, name):
    try:
        for q in spark.streams.active:
            pass
    except Exception:
        pass


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from ophidia_io_server_spark import get_spark
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    import hashlib

    import ophidia_io_server_spark.workloads.streaming as st

    results: dict[str, dict] = {}

    # ---- lever A: _staged_events_dir file count ------------------------
    def staged_n(n_files: int) -> str:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = f"/tmp/probe_stream_events_{tag}_f{n_files}"
        if not os.path.exists(f"{path}/_SUCCESS"):
            (load_table(spark, sf_dir, "events").repartition(n_files)
             .write.mode("overwrite").parquet(path))
        return path

    for n in (4, 2, 1):
        staged_n(n)

    affected = ["stream_tdigest_rollup", "stream_moments_monitor",
                "stream_quantile_rollup"]
    orig_staged = st._staged_events_dir
    import ophidia_io_server_spark.workloads.relational as rel
    from ophidia_io_server_spark.workloads import WORKLOADS

    for name in affected:
        fn = WORKLOADS[name].fn
        per = {}
        for n in (4, 2, 1):
            patch = lambda _s, _d, _n=n: staged_n(_n)  # noqa: E731
            st._staged_events_dir = patch
            rel._staged_events_dir = patch
            # fresh memory-sink names per config: monkeypatch tags via a
            # distinct sf_dir alias path is not possible, so clear the
            # memory sink table by using a fresh drain name — the
            # workloads key their sink on md5(sf_dir); re-running
            # replaces the same table, which is fine sequentially.
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = _rows_key(df)
            dt = time.perf_counter() - t0
            per[n] = {"sec": round(dt, 3), "rows": len(rows),
                      "sig": hashlib.md5(repr(rows).encode()).hexdigest()}
        st._staged_events_dir = orig_staged
        rel._staged_events_dir = orig_staged
        same = len({v["sig"] for v in per.values()}) == 1
        results[name] = {"per_files": per, "invariant": same}
        print(f"{name}: invariant={same} "
              + " ".join(f"f{k}={v['sec']}s" for k, v in per.items()),
              flush=True)

    # minhash: own staging
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from ophidia_io_server_spark.pipeline.dedup import minhash_lsh_pairs
    from ophidia_io_server_spark.streaming.ingest import minhash_lsh_stream
    from ophidia_io_server_spark.sources.tables import table_ident

    batch = minhash_lsh_pairs(docs,
                              memo_key=table_ident(sf_dir, "documents"))
    batch_sig = hashlib.md5(repr(_rows_key(batch)).encode()).hexdigest()
    per = {}
    for n in (4, 2, 1):
        path = f"/tmp/probe_stream_mh_f{n}_" + hashlib.md5(
            sf_dir.encode()).hexdigest()[:8]
        if not os.path.exists(f"{path}/_SUCCESS"):
            docs.repartition(n).write.mode("overwrite").parquet(path)
            open(f"{path}/_SUCCESS", "a").close()
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(path))
        t0 = time.perf_counter()
        out = minhash_lsh_stream(stream)
        rows = _rows_key(out)
        dt = time.perf_counter() - t0
        per[n] = {"sec": round(dt, 3), "rows": len(rows),
                  "sig": hashlib.md5(repr(rows).encode()).hexdigest()}
    same = len({v["sig"] for v in per.values()} | {batch_sig}) == 1
    results["stream_minhash_incremental"] = {
        "per_files": per, "batch_sig_matches": same}
    print(f"stream_minhash_incremental: equals_batch_all={same} "
          + " ".join(f"f{k}={v['sec']}s" for k, v in per.items()),
          flush=True)

    # ---- lever B: sentinel count in _staged_events_outer_dir -----------
    from datetime import timedelta

    def staged_outer(n_sent: int) -> str:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = f"/tmp/probe_stream_outer_{tag}_s{n_sent}"
        marker = f"{path}/_STAGED_OUTER"
        if os.path.exists(marker):
            return path
        ev = load_table(spark, sf_dir, "events")
        ev.coalesce(1).write.mode("overwrite").parquet(path)
        mx = ev.agg(F.max("ts")).collect()[0][0]
        before = set(os.listdir(path))
        for i in range(1, n_sent + 1):
            days = 30 * i
            sent = spark.createDataFrame(
                [(10 ** 15 + 2 * i, mx + timedelta(days=days), -1, "view",
                  0.0, None),
                 (10 ** 15 + 2 * i + 1, mx + timedelta(days=days), -2,
                  "purchase", 0.0, None)],
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
            sent.coalesce(1).write.mode("append").parquet(path)
            now = set(os.listdir(path))
            for f in now - before:
                if f.endswith(".parquet"):
                    os.utime(os.path.join(path, f),
                             (time.time() + 3600 * i, time.time() + 3600 * i))
            before = now
        open(marker, "a").close()
        return path

    for n_sent in (2, 1):
        staged_outer(n_sent)

    orig_outer = st._staged_events_outer_dir
    for name in ("stream_view_attribution_outer", "stream_user_closeout",
                 "stream_funnel_sessions"):
        fn = WORKLOADS[name].fn
        per = {}
        for n_sent in (2, 1):
            st._staged_events_outer_dir = (
                lambda _s, _d, _n=n_sent: staged_outer(_n))
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = _rows_key(df)
            dt = time.perf_counter() - t0
            per[n_sent] = {"sec": round(dt, 3), "rows": len(rows),
                           "sig": hashlib.md5(repr(rows).encode())
                           .hexdigest()}
        st._staged_events_outer_dir = orig_outer
        same = len({v["sig"] for v in per.values()}) == 1
        results[name] = {"per_sentinels": per, "invariant": same}
        print(f"{name}: 2-vs-1-sentinel invariant={same} "
              + " ".join(f"s{k}={v['sec']}s rows={v['rows']}"
                         for k, v in per.items()), flush=True)

    out = Path("/tmp/r14_stream_batchcount_probe.json")
    out.write_text(json.dumps(results, indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
