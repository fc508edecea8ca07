"""Steady-state (amortized) cost probe for the two stream-machinery-heavy
gate rows (r7 verdict #4): the bench's per-iteration cold starts re-pay
state-store/foreachBatch setup every run, which measures machinery, not
the operator.  This probe runs each operator as ONE long-running query
over N micro-batches (maxFilesPerTrigger=1) and reports the per-batch
MARGINAL cost from the engine's own progress events — the number that
moves when the JOIN (not the setup) regresses.

Usage: python scripts/stream_steady_probe.py [sf_dir] [n_batches]
Prints one JSON line per operator:
  {"op": ..., "n_batches": N, "batch0_ms": ..., "marginal_ms_median": ...,
   "marginal_ms_per_krow": ...}
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.listener import StreamingQueryListener

    from ophidia_io_server_spark import get_spark

    spark = get_spark(app_name="stream-steady-probe")
    spark.sparkContext.setLogLevel("ERROR")

    progresses: list[dict] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            progresses.append({
                "batchId": p.batchId,
                "ms": p.durationMs.get("triggerExecution", 0),
                "rows": p.numInputRows,
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    spark.streams.addListener(Capture())

    def report(op: str) -> None:
        batches = [p for p in progresses if p["rows"] > 0]
        progresses.clear()
        if not batches:
            print(json.dumps({"op": op, "error": "no batches"}))
            return
        batches.sort(key=lambda p: p["batchId"])
        marginal = [b["ms"] for b in batches[1:]] or [batches[0]["ms"]]
        rows = [b["rows"] for b in batches[1:]] or [batches[0]["rows"]]
        med = statistics.median(marginal)
        print(json.dumps({
            "op": op,
            "n_batches": len(batches),
            "batch0_ms": batches[0]["ms"],
            "marginal_ms_median": med,
            "marginal_ms_per_krow": round(
                1000.0 * sum(marginal) / max(sum(rows), 1), 2),
        }))

    from ophidia_io_server_spark.sources.tables import load_table

    # --- streaming incremental MinHash over N document splits ------------
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dpath = "/tmp/steady_probe_docs"
    docs.repartition(n_batches).write.mode("overwrite").parquet(dpath)
    from ophidia_io_server_spark.streaming.ingest import minhash_lsh_stream

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(dpath))
    minhash_lsh_stream(stream).count()
    report("stream_minhash_incremental")

    # --- watermarked stream-stream join over N time-ordered splits -------
    # Files are staged in event-time order with a horizon-covering
    # watermark so no batch's rows are late-dropped — the probe measures
    # the state-store + join machinery, the gate row binds the semantics.
    # State partitions follow the production sizing rule (8 for this
    # per-batch volume — see the PERF.md r8 table for the 32-vs-8 split).
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    epath = "/tmp/steady_probe_events"
    (ev.select("event_id", "user_id", "event_type", "ts")
     .withColumn("_b", F.ntile(n_batches).over(Window.orderBy("ts")))
     .repartition(1).sortWithinPartitions("_b", "ts")
     .write.mode("overwrite").partitionBy("_b").parquet(epath))
    from ophidia_io_server_spark.streaming.ingest import (
        stream_stream_attribution,
    )

    src = (spark.readStream
           .schema("event_id long, user_id long, event_type string, "
                   "ts timestamp")
           .option("maxFilesPerTrigger", 1)
           .parquet(epath + "/_b=*"))
    joined = stream_stream_attribution(
        src.where(F.col("event_type") == "view"),
        src.where(F.col("event_type") == "purchase"),
        window_minutes=120, watermark="3650 days",
    )
    q = (joined.writeStream.format("noop")
         .option("checkpointLocation", "/tmp/steady_probe_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(600)
    report("stream_view_attribution")

    # --- LEFT-OUTER variant: identical state machinery + the eviction
    # pass.  The horizon-covering watermark means NULL rows never
    # materialize inside the probe window — deliberate: the marginal here
    # is the join/state cost, the gate row binds the NULL semantics.
    src2 = (spark.readStream
            .schema("event_id long, user_id long, event_type string, "
                    "ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(epath + "/_b=*"))
    outer = stream_stream_attribution(
        src2.where(F.col("event_type") == "view"),
        src2.where(F.col("event_type") == "purchase"),
        window_minutes=120, watermark="3650 days", how="leftOuter",
    )
    q = (outer.writeStream.format("noop")
         .option("checkpointLocation", "/tmp/steady_probe_ckpt_outer")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(600)
    report("stream_view_attribution_outer")

    # --- event-time-timeout close-out: watermark advances batch by batch
    # over the time-ordered splits, so state timeouts fire progressively —
    # the marginal is the applyInPandasWithState store cost per batch.
    from ophidia_io_server_spark.streaming.ingest import (
        user_inactivity_closeout_stream,
    )

    src3 = (spark.readStream
            .schema("event_id long, user_id long, event_type string, "
                    "ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(epath + "/_b=*"))
    closed = user_inactivity_closeout_stream(src3, gap_minutes=120,
                                             watermark="2 hours")
    q = (closed.writeStream.format("noop")
         .option("checkpointLocation", "/tmp/steady_probe_ckpt_closeout")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(600)
    report("stream_user_closeout")


if __name__ == "__main__":
    import shutil

    for p in ("/tmp/steady_probe_ckpt", "/tmp/steady_probe_ckpt_outer",
              "/tmp/steady_probe_ckpt_closeout"):
        shutil.rmtree(p, ignore_errors=True)
    main()
