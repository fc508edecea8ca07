"""The ``analytics_rows`` workload: registered analytics rows in-process,
bypassing ``server``, ``protocol`` and ``dialect``.

Batch rows run ``WORKLOADS[name].fn`` and then the noop sink, as ``bench.py``
does.  The registered stream rows stage their inputs under fixed ``/tmp``
paths, which a benchmark that may write only inside its checkout cannot use,
so the stream row is rebuilt here from the same public functions of
``streaming.ingest`` over inputs staged in the run directory.  Every row is
compared once per run, outside the timed passes, against its registered
DuckDB oracle.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from common import BATCH_ROWS, ROOT, SETUPS, STREAM_ROWS, median, stop_engine
from spans import Tracer, maybe_span, python_eval_nodes, storage_bytes, stream_listener

TABLES = ("events", "lineitem", "orders", "documents")
ROWS = BATCH_ROWS + STREAM_ROWS
OHLC_QUERY = "bench_ohlc"  # memory-sink name of the rebuilt OHLC stream row
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()


@dataclass(frozen=True)
class Sizes:
    events: int = 2_000
    users: int = 30
    orders: int = 1_500
    lineitem: int = 6_000
    documents: int = 100


SMOKE_SIZES = Sizes(events=300, users=8, orders=150, lineitem=600, documents=20)


def generate(out: Path, sz: Sizes, seed: int) -> None:
    """Seeded tables with the column layout and value domains of the
    engine's TPC-H-like test tables, one parquet file each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    out.mkdir(parents=True, exist_ok=True)
    us = np.datetime64("2024-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(n, span):
        return (np.datetime64("1995-01-01", "us")
                + rng.integers(0, span, n) * np.timedelta64(86_400_000_000, "us"))

    n = sz.events
    ts = us + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    tables = {"events": {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, sz.users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }}
    n = sz.orders
    tables["orders"] = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n // 10), n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500_000, n),
        "o_orderdate": days(n, 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    }
    n = sz.lineitem
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, sz.orders, n),
        "l_partkey": rng.integers(0, 200, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": days(n, 2500),
    }
    n = sz.documents
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(8, 80, n)]
    tables["documents"] = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), out / f"{name}.parquet")
    stage_streams(out, pq.read_table(out / "events.parquet"))


def stage_streams(out: Path, events) -> None:
    """The OHLC stream row's input: the events as two parquet files, the
    layout the registered row stages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = events.set_column(events.schema.get_field_index("ts"), "ts",
                           events.column("ts").cast(pa.timestamp("us", tz="UTC")))
    ohlc = out / "stream_ohlc"
    ohlc.mkdir()
    half = ev.num_rows // 2
    pq.write_table(ev.slice(0, half), ohlc / "part-0.parquet")
    pq.write_table(ev.slice(half), ohlc / "part-1.parquet")


def build(name: str, spark, data: Path):
    """The row's result DataFrame (its eager actions and drains run here)."""
    from ophidia_io_server_spark.streaming.ingest import (
        events_stream,
        ohlc_stream,
        run_available_now,
    )
    from ophidia_io_server_spark.workloads import WORKLOADS

    if name == "events_ohlc_streaming":
        return run_available_now(ohlc_stream(events_stream(spark, str(data / "stream_ohlc"))),
                                 OHLC_QUERY)
    return WORKLOADS[name].fn(spark, str(data))


def oracle_check(spark, data: Path) -> list[str]:
    """Compare every row against its registered DuckDB oracle, the way
    scripts/check_correctness.py does; returns one problem per bad row."""
    import duckdb

    sys.path.insert(0, str(ROOT / "scripts"))
    from check_correctness import compare

    from ophidia_io_server_spark.workloads import WORKLOADS

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    problems = []
    for name in ROWS:
        try:
            got = build(name, spark, data).toPandas()
            bad = compare(name, got, con.execute(WORKLOADS[name].oracle).df())
        except Exception as e:  # noqa: BLE001 — a failing row is a reported failure
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            problems.append(f"{name}: {bad[0]}")
    con.close()
    return problems


def run_pass(spark, data: Path, tracer: Tracer | None = None, tag: str = "") -> dict:
    """One pass over every row; returns {row: (plan_s, exec_s)} and the
    rows that raised."""
    times, failed, py_nodes = {}, [], 0
    for name in ROWS:
        rid = f"{tag}{name}"
        try:
            t0 = time.perf_counter()
            with maybe_span(tracer, "streaming.drain" if name in STREAM_ROWS else "rows.plan",
                            rid, f"{rid}.plan"):
                df = build(name, spark, data)
            t1 = time.perf_counter()
            with maybe_span(tracer, "rows.exec", rid, f"{rid}.exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            failed.append(f"{name}: {type(e).__name__}: {e}")
            continue
        times[name] = (t1 - t0, t2 - t1)
        if tracer is not None:
            py_nodes += python_eval_nodes(df)
    return {"times": times, "failed": failed, "python_nodes": py_nodes}


def _setup(spark, run_env, sz: Sizes, seed: int, reps: int) -> tuple[Path, list[float]]:
    """Generate, stage and first-scan the inputs ``reps`` times; the last
    set is used."""
    from ophidia_io_server_spark.sources.tables import load_table

    times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        data = run_env.dir / f"data{rep}"
        generate(data, sz, seed)
        for t in TABLES:
            load_table(spark, str(data), t).count()
        times.append(time.perf_counter() - t0)
    return data, times


def analytics_rows(args, run_env, sz: Sizes) -> dict:
    spark = run_env.spark()
    try:
        data, setups = _setup(spark, run_env, sz, args.seed, SETUPS)
        problems = oracle_check(spark, data)  # also the warm-up pass
        attempted = len(ROWS)
        passes, row_times = [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds:
            tp = time.perf_counter()
            res = run_pass(spark, data)
            passes.append(time.perf_counter() - tp)
            attempted += len(ROWS)
            problems += res["failed"]
            row_times += [p + e for p, e in res["times"].values()]
        elapsed = time.perf_counter() - t0
    finally:
        stop_engine(spark)
    return {
        "attempted": attempted, "failed": len(problems), "problems": problems,
        "metrics": {
            "setup_s": median(setups),
            "wall_s": median(passes),
            "query_p50_ms": median(row_times) * 1e3,
            "query_qps": len(row_times) / elapsed,
        },
    }


def traced(args, run_env, sz: Sizes) -> dict:
    spark = run_env.spark()
    sc = spark.sparkContext
    try:
        data, _ = _setup(spark, run_env, sz, args.seed, 1)
        problems = oracle_check(spark, data)
        n_rows = len(ROWS)
        stored0 = storage_bytes(sc)
        plain = []
        tp = time.perf_counter()
        res = run_pass(spark, data)
        plain.append(time.perf_counter() - tp)
        problems += res["failed"]

        tracer = Tracer(sc)
        progress: dict = {}
        listener = stream_listener(spark, progress)
        tp = time.perf_counter()
        tres = run_pass(spark, data, tracer, tag="t.")
        traced_s = time.perf_counter() - tp
        _settle(progress)
        spark.streams.removeListener(listener)
        problems += tres["failed"]

        tp = time.perf_counter()
        res = run_pass(spark, data)
        plain.append(time.perf_counter() - tp)
        problems += res["failed"]
        stored1 = storage_bytes(sc)
        tracer.dump(ROOT / ".bench_out" / f"spans-analytics_rows-{args.seed}.json")
    finally:
        stop_engine(spark)

    m = {"trace_overhead_ratio": traced_s / (sum(plain) / len(plain)),
         "catalog.cached_bytes": stored1,
         "catalog.storage_growth_bytes": stored1 - stored0,
         "functions.python_eval_nodes": tres["python_nodes"]}
    spans = {(s["rid"], s["name"]): s for s in tracer.spans if "spark" in s}
    total = {"stages": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    for name in ROWS:
        plan = spans.get((f"t.{name}", "rows.plan")) or spans.get((f"t.{name}", "streaming.drain"))
        exe = spans.get((f"t.{name}", "rows.exec"))
        if plan is None or exe is None:
            continue
        for k in total:
            total[k] += plan["spark"][k] + exe["spark"][k]
        if name in BATCH_ROWS:
            m[f"rows.{name}.plan_s"] = plan["end"] - plan["start"]
            m[f"rows.{name}.exec_s"] = exe["end"] - exe["start"]
            m[f"rows.{name}.eager_jobs"] = plan["spark"]["jobs"]
            m[f"rows.{name}.jobs"] = plan["spark"]["jobs"] + exe["spark"]["jobs"]
            m[f"rows.{name}.tasks"] = plan["spark"]["tasks"] + exe["spark"]["tasks"]
            m[f"rows.{name}.shuffle_bytes"] = sum(
                s["spark"]["shuffle_read"] + s["spark"]["shuffle_write"] for s in (plan, exe))
    m.update({"spark.stages": total["stages"], "spark.shuffle_read_bytes": total["shuffle_read"],
              "spark.shuffle_write_bytes": total["shuffle_write"],
              "spark.spill_bytes": total["spill"]})
    name, batches = STREAM_ROWS[0], progress.get(OHLC_QUERY, [])
    m[f"streaming.{name}.batches"] = len(batches)
    for key in ("triggerExecution", "addBatch", "queryPlanning", "walCommit"):
        short = "trigger" if key == "triggerExecution" else key
        m[f"streaming.{name}.{short}_ms"] = sum(b["duration_ms"].get(key, 0) for b in batches)
    m[f"streaming.{name}.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    m[f"streaming.{name}.state_mem_bytes"] = max(
        (b["state_mem_bytes"] for b in batches), default=0)
    attempted = 4 * n_rows
    m["error_rate"] = len(problems) / attempted
    return {"attempted": attempted, "failed": len(problems), "problems": problems, "metrics": m}


def _settle(progress: dict, quiet: float = 1.0, limit: float = 10.0) -> None:
    """Listener events arrive asynchronously: wait until none arrived for
    ``quiet`` seconds (at most ``limit``)."""
    t_end = time.time() + limit
    last = -1
    while time.time() < t_end:
        n = sum(len(v) for v in progress.values())
        if n == last:
            return
        last = n
        time.sleep(quiet)
