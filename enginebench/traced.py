"""Traced run of the ``wire_mixed`` workload.

A handler thread of ``QueryServer`` does not inherit a Spark job group, so
the traced run has two parts, both in this process:

1. a wire pass: the workload's load through an in-process ``QueryServer``,
   recording client-side spans (send → status byte → terminator → decode);
2. an in-process replay of two read rounds and one write cycle:
   ``IOServer.execute`` then a full drain of ``protocol.serialize_result_set``,
   once with spans and job groups and twice without (for the overhead ratio).
   ``parse_query`` and ``compile_expression`` are wrapped for the traced
   replay only, so their calls inside ``execute`` become child spans.
"""

from __future__ import annotations

import time

from common import READ_CLASSES, ROOT, median, per_s, quantile, stop_engine
from spans import Tracer, maybe_span, patched, python_eval_nodes, storage_bytes, timed_calls
from wire import (
    ReadMix,
    WireClient,
    WriteCycle,
    closed_loop,
    frag_bytes,
    latency_ms,
    run_list,
    summarize,
)


def replay(io, reqs, tracer: Tracer | None, tag: str, current: dict | None = None) -> dict:
    """Run ``reqs`` through ``io.execute`` and drain each result set;
    ``current['rid']`` follows the request in flight."""
    from ophidia_io_server_spark.protocol import deserialize_packets, serialize_result_set

    out = {"problems": [], "python_nodes": 0, "bytes": 0, "packets": 0, "rows": 0}
    for n, req in enumerate(reqs):
        rid = f"{tag}{n}"
        if current is not None:
            current["rid"] = rid
        # the outer span names the layer a statement is for: oph_size
        # materialises a catalog fragment, imports read a source
        layer = ("catalog.materialize" if req.size else
                 "sources.import" if req.step in ("random_import", "file_import") else "request")
        try:
            with maybe_span(tracer, layer, rid, None, cls=req.cls, step=req.step):
                with maybe_span(tracer, "operators.execute", rid, f"{rid}.plan", cls=req.cls):
                    df = io.execute(req.query, params=req.params)
                with maybe_span(tracer, "protocol.drain", rid, f"{rid}.drain", cls=req.cls):
                    packets = list(serialize_result_set(df)) if df is not None else []
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            out["problems"].append(f"{req.query[:60]}: {type(e).__name__}: {e}")
            continue
        if packets:
            raw = b"".join(packets)
            out["bytes"] += len(raw)
            out["packets"] += len(packets)
            _, rows = deserialize_packets([raw])
            out["rows"] += len(rows)
            problem = req.check(rows) if req.check else None
            if problem:
                out["problems"].append(problem)
            if tracer is not None:
                out["python_nodes"] += python_eval_nodes(df)
    return out


def _wire_spans(tracer: Tracer, recs: list) -> None:
    shift = time.time() - time.perf_counter()
    for n, r in enumerate(recs):
        if "t_end" not in r:
            continue
        rid = f"w{n}"
        tracer.add("server.request", rid, r["t_send"] + shift, r["t_end"] + shift,
                   cls=r["cls"], ttfb=r["t_first"] - r["t_send"], bytes=r["bytes"])
        if "decode_s" in r:
            tracer.add("client.decode", rid, r["t_end"] + shift,
                       r["t_end"] + r["decode_s"] + shift)


def _runs(recs: list, steps: set) -> list[float]:
    """Durations of consecutive records of a step, each run ending at the
    oph_size that materialises its fragment."""
    out, cur = [], 0.0
    for r in recs:
        if r["step"] in steps and "t_end" in r:
            cur += r["t_end"] - r["t_send"]
            if r["size"]:
                out.append(cur)
                cur = 0.0
        else:
            cur = 0.0
    return out


def trace_wire(args, run_env, sz) -> dict:
    from ophidia_io_server_spark.operators import engine, select
    from ophidia_io_server_spark.server import QueryServer

    mix = ReadMix(sz, args.seed)
    cyc = WriteCycle(sz, args.seed, run_env.dir / "ingest.nc")
    setup, warm, recs, clients = [], [], [], []
    spark = run_env.spark()
    sc = spark.sparkContext
    server = QueryServer(spark)
    try:
        server.serve_background()
        clients += [WireClient("127.0.0.1", server.address[1]) for _ in range(2)]
        nc_bytes = cyc.write_nc()
        run_list(clients[1], mix.imports(), setup)
        cached = storage_bytes(sc)
        streams = [mix.rounds(args.seed, 0), cyc.cycles()]  # reader, writer
        closed_loop(clients, streams, 0, warm)
        stored0 = storage_bytes(sc)

        # 1. wire pass
        closed_loop(clients, streams, args.seconds, recs)

        # 2. in-process replay of one unit: plain, traced, plain
        reqs = next(mix.rounds(args.seed, 7)) + cyc.cycle(10**6)
        io = server.io_server
        tracer = Tracer(sc)
        current = {"rid": None}
        plain, problems = [], []
        for tag in ("p0.", "t.", "p1."):
            t0 = time.perf_counter()
            if tag == "t.":
                rid_of = lambda: current["rid"]  # noqa: E731
                with patched(engine, "parse_query", timed_calls(tracer, "dialect.parse", rid_of)), \
                     patched(select, "compile_expression",
                             timed_calls(tracer, "dialect.compile", rid_of)):
                    res = tres = replay(io, reqs, tracer, tag, current)
                traced_s = time.perf_counter() - t0
            else:
                res = replay(io, reqs, None, tag)
                plain.append(time.perf_counter() - t0)
            problems += res["problems"]
        stored1 = storage_bytes(sc)
        _wire_spans(tracer, setup + warm + recs)
        tracer.dump(ROOT / ".bench_out" / f"spans-{args.workload}-{args.seed}.json")
    finally:
        for c in clients:
            c.close()
        server.shutdown()
        server.server_close()
        stop_engine(spark)

    summary = summarize(setup + warm + recs)
    summary["problems"] += problems
    summary["failed"] += len(problems)
    summary["attempted"] += 3 * len(reqs)
    reads = [r for r in recs if r["client"] == 0 and r["ok"]]
    writes = [r for r in recs if r["client"] == 1]
    files = _runs(writes, {"file_import"})
    inserts = _runs(writes, {"insert"})
    lat, lon, t = sz.nc_shape
    m = {
        "query_p95_ms": quantile(latency_ms(reads), 0.95),
        "error_rate": summary["failed"] / summary["attempted"],
        "import_Melem_s": per_s(len(files) * lat * lon * t / 1e6, sum(files)),
        "insert_rows_s": per_s(len(inserts) * sz.insert_rows, sum(inserts)),
        "ctas_p50_ms": median(_runs(writes, {"subset", "ctas"})) * 1e3,
        "cache_bytes_per_byte": cached / (2 * frag_bytes(sz.rows, sz.array_len)),
        "server.ttfb_ms": median([(r["t_first"] - r["t_send"]) * 1e3 for r in reads]),
        "server.stream_ms": median([(r["t_end"] - r["t_first"]) * 1e3 for r in reads]),
        "server.bytes_rx": sum(r.get("bytes", 0) for r in recs),
        "client.decode_ms": median([r["decode_s"] * 1e3 for r in reads]),
        "catalog.cached_bytes": stored1,
        "catalog.storage_growth_bytes": stored1 - stored0,
        "catalog.materialize_ms": median([(r["t_end"] - r["t_send"]) * 1e3
                                          for r in setup + writes if r["size"] and r["ok"]]),
        "sources.random_import_ms": median(_runs(setup, {"random_import"})) * 1e3,
        "sources.file_import_ms": median(files) * 1e3,
        "sources.nc_MBps": per_s(nc_bytes / 1e6, median(files)),
        "trace_overhead_ratio": traced_s / (sum(plain) / len(plain)),
        "functions.python_eval_nodes": tres["python_nodes"],
        "protocol.bytes": tres["bytes"],
        "protocol.packets": tres["packets"],
        "protocol.rows": tres["rows"],
    }
    for c in READ_CLASSES:
        m[f"{c}_p50_ms"] = median(latency_ms([r for r in reads if r["cls"] == c]))
    m.update(_layer_metrics(tracer))
    return {**summary, "metrics": m}


def _layer_metrics(tracer: Tracer) -> dict:
    """Per-class medians and per-run totals from the traced replay's spans."""
    by_rid: dict = {}
    for s in tracer.spans:
        by_rid.setdefault(s["rid"], []).append(s)
    m: dict = {}
    per_cls: dict = {}
    totals = {"stages": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    parse, compile_, eager = [], [], 0
    for rid, spans in by_rid.items():
        ex = next((s for s in spans if s["name"] == "operators.execute"), None)
        dr = next((s for s in spans if s["name"] == "protocol.drain"), None)
        if ex is None or dr is None:
            continue
        parse += [(s["end"] - s["start"]) * 1e6 for s in spans if s["name"] == "dialect.parse"]
        compiles = [s["end"] - s["start"] for s in spans if s["name"] == "dialect.compile"]
        if compiles:
            compile_.append(sum(compiles) * 1e3)
        eager += ex["spark"]["jobs"]
        for k in totals:
            totals[k] += ex["spark"][k] + dr["spark"][k]
        cls = ex.get("cls")
        if cls is None:
            continue
        d = per_cls.setdefault(cls, {"plan": [], "drain": [], "jobs": [], "tasks": [], "run": []})
        d["plan"].append((ex["end"] - ex["start"]) * 1e3)
        d["drain"].append((dr["end"] - dr["start"]) * 1e3)
        d["jobs"].append(ex["spark"]["jobs"] + dr["spark"]["jobs"])
        d["tasks"].append(ex["spark"]["tasks"] + dr["spark"]["tasks"])
        d["run"].append(ex["spark"]["run_ms"] + dr["spark"]["run_ms"])
    m["dialect.parse_us"] = median(parse)
    m["dialect.compile_ms"] = median(compile_)
    m["operators.eager_jobs"] = eager
    m.update({"spark.stages": totals["stages"], "spark.shuffle_read_bytes": totals["shuffle_read"],
              "spark.shuffle_write_bytes": totals["shuffle_write"],
              "spark.spill_bytes": totals["spill"]})
    for cls, d in per_cls.items():
        m[f"operators.plan_ms.{cls}"] = median(d["plan"])
        m[f"spark.jobs.{cls}"] = median(d["jobs"])
        m[f"spark.tasks.{cls}"] = median(d["tasks"])
        m[f"spark.executor_run_ms.{cls}"] = median(d["run"])
        if cls in READ_CLASSES:
            m[f"protocol.drain_ms.{cls}"] = median(d["drain"])
    return m
