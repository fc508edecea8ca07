"""The ``wire_mixed`` workload: seeded request generation, a buffered load
client, the engine server process, and the closed-loop driver.

One connection runs against a ``QueryServer`` in its own engine process,
in a closed loop of units.  A unit is two rounds of reads over two resident
fragments (all five read classes, ``select`` between each of the others)
followed by one write cycle (NetCDF import, inserts, subset, CTAS, drops).
Concurrent connections made the run-to-run spread several times wider on
a 4-core host, so the untraced run is sequential.  The traced run keeps a
concurrent reader and writer: the handler holds ``catalog_lock`` for the
whole of ``execute()``, so there reads wait on writes.
"""

from __future__ import annotations

import math
import select as _select
import socket
import struct
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np

from common import READ_CLASSES, SETUPS, median, per_s

HERE = Path(__file__).resolve().parent

# the LCG of sources/random_import.mixed_value, recomputed here as the
# reference the server's answers are checked against
_A, _C, _M = 1103515245, 12345, 2**31


def mixed(ids, array_len: int, seed: int) -> np.ndarray:
    """(len(ids), array_len) values of ``random_import`` algorithm=mixed."""
    ids = np.asarray(ids, dtype=np.int64)
    k = np.arange(array_len, dtype=np.int64)
    h = (ids[:, None] * _A + (k + 1) * _C + seed) % _M
    return ((h * _A + _C) % _M) / float(_M)


@dataclass(frozen=True)
class Sizes:
    rows: int = 25_000          # rows of each resident fragment
    array_len: int = 64
    select_w: int = 2_000       # id-window widths of the read classes
    fetch_w: int = 2_000
    join_w: int = 2_000
    group_w: int = 10_000
    group_k: int = 100          # ids per group
    udf_w: int = 500
    nc_shape: tuple = (40, 40, 64)  # lat, lon, time of the NetCDF input
    insert_rows: int = 1_000
    insert_batch: int = 250


SMOKE_SIZES = Sizes(rows=400, array_len=8, select_w=40, fetch_w=40, join_w=40,
                    group_w=100, group_k=20, udf_w=20,
                    nc_shape=(4, 5, 8), insert_rows=40, insert_batch=10)


@dataclass
class Req:
    """One dialect statement.  ``cls`` is the layer class its cost is filed
    under, ``step`` the timing group it belongs to, ``check`` validates the
    decoded rows and returns a problem description or None."""

    cls: str | None
    query: str
    params: dict | None = None
    check: Callable[[list], str | None] | None = None
    step: str | None = None
    size: bool = False  # an oph_size call: materialises a fragment


def _rel_close(a: float, b: float, tol: float = 1e-9) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


def _check_ids(rows, want_ids) -> str | None:
    got = [r[0] for r in rows]
    if got != list(want_ids):
        return f"id list mismatch: {len(got)} rows, want {len(want_ids)}"
    return None


def size_req(frag: str, want_bytes: int, step: str | None, cls: str | None) -> Req:
    def check(rows):
        if rows != [[frag, want_bytes]]:
            return f"oph_size({frag}) = {rows}, want {want_bytes}"
        return None
    return Req(cls, f"operation=function;function=oph_size;arg={frag}", check=check,
               step=step, size=True)


def checksum_req(frag: str, total: float) -> Req:
    """Sum of every element of ``frag``; exact because the inputs are
    integer-valued doubles well below 2**53."""
    def check(rows):
        return None if rows == [[total]] else f"checksum of {frag}: {rows} != {total}"
    return Req(None, f"operation=select;from={frag};field="
                     "oph_reduce(oph_aggregate_operator(measure,'oph_sum'),'sum');"
                     "select_alias=total", check=check, step="checksum")


def frag_bytes(nrows: int, array_len: int) -> int:
    return 8 * nrows + 8 * nrows * array_len


class ReadMix:
    """Seeded generator of read requests against fragments ``q_a``/``q_b``."""

    def __init__(self, sz: Sizes, seed: int):
        self.sz = sz
        self.seed_a = 1000 + seed % 100_000
        self.seed_b = 2000 + seed % 100_000

    def imports(self) -> list[Req]:
        sz = self.sz
        out = []
        for frag, s in (("q_a", self.seed_a), ("q_b", self.seed_b)):
            out.append(Req(None, f"operation=random_import;frag_name={frag};nrows={sz.rows};"
                                 f"array_len={sz.array_len};algorithm=mixed;seed={s}",
                           step="random_import"))
            out.append(size_req(frag, frag_bytes(sz.rows, sz.array_len), "random_import", None))
        return out

    def _window(self, rng, width: int, align: int = 1) -> tuple[int, int]:
        lo = 1 + align * int(rng.integers(0, (self.sz.rows - width) // align + 1))
        return lo, lo + width

    def _sample(self, rng, lo: int, hi: int) -> np.ndarray:
        return rng.integers(lo, hi, size=min(4, hi - lo))

    def request(self, rng, cls: str) -> Req:
        sz, L = self.sz, self.sz.array_len
        if cls == "select":
            lo, hi = self._window(rng, sz.select_w)
            pick = self._sample(rng, lo, hi)
            want = dict(zip(pick.tolist(), mixed(pick, L, self.seed_a).sum(axis=1)))

            def check(rows):
                bad = _check_ids(rows, range(lo, hi))
                if bad:
                    return bad
                if any(r[2] != L for r in rows):
                    return "oph_size_array mismatch"
                for r in rows:
                    if r[0] in want and not _rel_close(r[1], want[r[0]]):
                        return f"select sum of id {r[0]}: {r[1]} != {want[r[0]]}"
                return None
            return Req(cls, "operation=select;from=q_a;field=id_dim|oph_reduce(measure,'sum')"
                            f"|oph_size_array(measure);select_alias=id_dim|s|n;"
                            f"where=id_dim>={lo}&id_dim<{hi};order=id_dim", check=check)
        if cls == "fetch":
            lo, hi = self._window(rng, sz.fetch_w)
            c = round(float(rng.uniform(-8, 8)), 3)
            pick = self._sample(rng, lo, hi)
            want = dict(zip(pick.tolist(), mixed(pick, L, self.seed_a) + c))

            def check(rows):
                bad = _check_ids(rows, range(lo, hi))
                if bad:
                    return bad
                for r in rows:
                    if r[0] in want and not np.array_equal(np.asarray(r[1]), want[r[0]]):
                        return f"fetch array of id {r[0]} differs"
                return None
            return Req(cls, f"operation=select;from=q_a;field=id_dim|oph_sum_scalar(measure,{c});"
                            f"select_alias=id_dim|m;where=id_dim>={lo}&id_dim<{hi};order=id_dim",
                       check=check)
        if cls == "join":
            lo, hi = self._window(rng, sz.join_w)
            pick = self._sample(rng, lo, hi)
            want = dict(zip(pick.tolist(), (mixed(pick, L, self.seed_a)
                                            * mixed(pick, L, self.seed_b)).sum(axis=1)))

            def check(rows):
                bad = _check_ids(rows, range(lo, hi))
                if bad:
                    return bad
                for r in rows:
                    if r[0] in want and not _rel_close(r[1], want[r[0]]):
                        return f"join dot of id {r[0]}: {r[1]} != {want[r[0]]}"
                return None
            return Req(cls, "operation=select;from=q_a|q_b;from_alias=x|y;field=x.id_dim|"
                            "oph_reduce(oph_mul_array(x.measure,y.measure),'sum');"
                            f"select_alias=id_dim|s;where=x.id_dim=y.id_dim&x.id_dim>={lo}"
                            f"&x.id_dim<{hi};order=id_dim", check=check)
        if cls == "group":
            k = sz.group_k
            lo, hi = self._window(rng, sz.group_w, align=k)
            groups = list(range(1 + (lo - 1) // k, 1 + (hi - 2) // k + 1))
            g = int(rng.choice(groups))
            vals = mixed(np.arange(max(lo, (g - 1) * k + 1), min(hi, g * k + 1)), L, self.seed_a)

            def check(rows):
                bad = _check_ids(rows, groups)
                if bad:
                    return bad
                r = rows[groups.index(g)]
                if not np.array_equal(np.asarray(r[1]), vals.max(axis=0)):
                    return f"group {g} element-wise max differs"
                if not np.allclose(r[2], vals.mean(axis=0), rtol=1e-9, atol=0):
                    return f"group {g} element-wise mean differs"
                return None
            return Req(cls, f"operation=select;from=q_a;field=oph_id(id_dim,{k})|"
                            "oph_aggregate_operator(measure,'oph_max')|"
                            "oph_aggregate_stats(measure,'10000');select_alias=g|mx|mean;"
                            f"where=id_dim>={lo}&id_dim<{hi};group=oph_id(id_dim,{k});order=g",
                       check=check)
        if cls == "udf":
            lo, hi = self._window(rng, sz.udf_w)
            pick = self._sample(rng, lo, hi)
            spec = np.fft.fft(mixed(pick, L, self.seed_a), axis=1)
            want = {i: np.column_stack([s.real, s.imag]).ravel() for i, s in zip(pick.tolist(), spec)}

            def check(rows):
                bad = _check_ids(rows, range(lo, hi))
                if bad:
                    return bad
                for r in rows:
                    if r[0] in want and not np.allclose(r[1], want[r[0]], rtol=0, atol=1e-9):
                        return f"fft of id {r[0]} differs"
                return None
            return Req(cls, "operation=select;from=q_a;field=id_dim|oph_gsl_fft(measure);"
                            f"select_alias=id_dim|f;where=id_dim>={lo}&id_dim<{hi};order=id_dim",
                       check=check)
        raise ValueError(cls)

    ROUND = ("select", "fetch", "select", "join", "select", "group", "select", "udf")

    def rounds(self, seed: int, client: int):
        """Endless seeded read rounds.  ``select``, the point query, runs
        between each of the other classes, so its p50 rests on enough
        samples."""
        rng = np.random.default_rng([seed, client])
        while True:
            yield [self.request(rng, cls) for cls in self.ROUND]


class WriteCycle:
    """Seeded writer cycles: import, NetCDF import, inserts, subset, CTAS,
    drops."""

    def __init__(self, sz: Sizes, seed: int, nc_path: Path):
        self.sz, self.seed, self.nc_path = sz, seed, nc_path

    def write_nc(self) -> int:
        """Write the seeded classic NetCDF input; returns its size in bytes."""
        from ophidia_io_server_spark.sources.netcdf_classic import write_classic

        lat, lon, t = self.sz.nc_shape
        data = np.random.default_rng([self.seed, 7]).uniform(-50.0, 50.0, size=(lat, lon, t))
        write_classic(str(self.nc_path), dims=[("lat", lat), ("lon", lon), ("time", t)],
                      variables={"m": (["lat", "lon", "time"], data)})
        return self.nc_path.stat().st_size

    def cycle(self, i: int) -> list[Req]:
        sz, L = self.sz, self.sz.array_len
        rng = np.random.default_rng([self.seed, 11, i])
        nc, ins, sub, ctas = (f"w{i}_{n}" for n in ("nc", "ins", "sub", "ctas"))
        lat, lon, t = sz.nc_shape
        reqs = [
            Req("import", f"operation=file_import;frag_name={nc};src_path=file://{self.nc_path};"
                          "measure=m;dim=lat|lon|time;dim_type=explicit|explicit|implicit",
                step="file_import"),
            size_req(nc, frag_bytes(lat * lon, t), "file_import", "import"),
            Req("insert", f"operation=create_frag;frag_name={ins}", step="insert"),
        ]
        values = rng.integers(-1000, 1000, size=(sz.insert_rows, L)).astype(np.float64)
        nb = math.ceil(sz.insert_rows / sz.insert_batch)
        for b in range(nb):
            lo, hi = b * sz.insert_batch, min(sz.insert_rows, (b + 1) * sz.insert_batch)
            params = {}
            for j, r in enumerate(range(lo, hi)):
                params[2 * j + 1] = r + 1
                params[2 * j + 2] = values[r].tolist()
            tuples = ",".join("(?,?)" for _ in range(hi - lo))
            final = "yes" if b == nb - 1 else "no"
            reqs.append(Req("insert", f"operation=multi_insert;frag_name={ins};value={tuples};"
                                      f"final_statement={final}", params=params, step="insert"))
        reqs.append(size_req(ins, frag_bytes(sz.insert_rows, L), "insert", "insert"))
        reqs.append(checksum_req(ins, float(values.sum())))
        half = lat * lon // 2
        reqs += [
            Req("subset", f"operation=function;function=oph_subset;"
                          f"arg={nc}|1|oph_mul_scalar(measure,2.0)|{sub}|id_dim>{half}",
                step="subset"),
            size_req(sub, frag_bytes(lat * lon - half, t), "subset", "subset"),
            Req("ctas", f"operation=create_frag_select;frag_name={ctas};from={nc};"
                        f"field=id_dim|oph_sum_scalar(measure,1.0);select_alias=id_dim|measure;"
                        f"where=id_dim<={half}", step="ctas"),
            size_req(ctas, frag_bytes(half, t), "ctas", "ctas"),
        ]
        reqs += [Req(None, f"operation=drop_frag;frag_name={f}", step="drop")
                 for f in (nc, ins, sub, ctas)]
        return reqs

    def cycles(self):
        i = 0
        while True:
            yield self.cycle(i)
            i += 1


# ---------------------------------------------------------------------------
# client


def encode(query: str, params: dict | None) -> bytes:
    """Request frame of server.QueryServer: length-prefixed query + typed binds."""
    q = query.encode()
    frames = [struct.pack(">i", len(q)) + q]
    params = params or {}
    frames.append(struct.pack(">i", len(params)))
    for i in sorted(params):
        v = params[i]
        if isinstance(v, (bool, int)):
            frames.append(b"L" + struct.pack(">q", int(v)))
        elif isinstance(v, float):
            frames.append(b"D" + struct.pack(">d", v))
        elif isinstance(v, (list, tuple)):
            raw = struct.pack(f"<{len(v)}d", *v)
            frames.append(b"B" + struct.pack(">i", len(raw)) + raw)
        else:
            raw = str(v).encode()
            frames.append(b"S" + struct.pack(">i", len(raw)) + raw)
    return b"".join(frames)


class WireClient:
    """Load client: buffered socket reads (one ``recv`` per MB, not per
    cell header) and ``protocol.deserialize_packets`` for decoding."""

    def __init__(self, host: str, port: int):
        self.addr = (host, port)
        self._connect()

    def _connect(self) -> None:
        self.sock = socket.create_connection(self.addr)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        self.off = 0

    def reconnect(self) -> None:
        self.sock.close()
        self._connect()

    def _need(self, n: int) -> None:
        while len(self.buf) - self.off < n:
            chunk = self.sock.recv(1 << 20)
            if not chunk:
                raise ConnectionError("server closed the connection mid-reply")
            self.buf += chunk

    def _int(self) -> int:
        self._need(4)
        (v,) = struct.unpack_from(">i", self.buf, self.off)
        self.off += 4
        return v

    def execute(self, query: str, params: dict | None = None) -> dict:
        """Send one statement and read its whole reply.  Returns timings
        (perf_counter seconds), byte/packet counts, and either ``rows`` or
        ``error`` (the text of an ``E`` frame)."""
        from ophidia_io_server_spark.protocol import deserialize_packets

        t_send = time.perf_counter()
        self.sock.sendall(encode(query, params))
        self._need(1)
        status = self.buf[self.off:self.off + 1]
        self.off += 1
        t_first = time.perf_counter()
        if status == b"E":
            n = self._int()
            self._need(n)
            msg = bytes(self.buf[self.off:self.off + n]).decode()
            self._consume(self.off + n)
            return {"t_send": t_send, "t_first": t_first, "t_end": time.perf_counter(),
                    "error": msg, "bytes": 5 + n, "packets": 0}
        if status != b"K":
            raise ConnectionError(f"bad status byte {bytes(status)!r}")
        start = self.off
        self._need(8)
        self.off += 8
        packets = 0
        while True:
            nrows = self._int()
            packets += 1
            if nrows == 0:
                break
            for _ in range(nrows):
                for _ in range(self._int()):
                    self._need(5)
                    (ln,) = struct.unpack_from(">i", self.buf, self.off + 1)
                    self.off += 5
                    self._need(ln)
                    self.off += ln
        raw = bytes(self.buf[start:self.off])
        self._consume(self.off)
        t_end = time.perf_counter()
        _, rows = deserialize_packets([raw])
        return {"t_send": t_send, "t_first": t_first, "t_end": t_end,
                "decode_s": time.perf_counter() - t_end, "rows": rows,
                "bytes": 1 + len(raw), "packets": packets}

    def _consume(self, upto: int) -> None:
        del self.buf[:upto]
        self.off = 0

    def close(self) -> None:
        try:
            q = b"QUIT"
            self.sock.sendall(struct.pack(">i", len(q)) + q)
        finally:
            self.sock.close()


def run_req(client: WireClient, req: Req) -> dict:
    """Execute and check one request; a failure never raises."""
    rec = {"cls": req.cls, "step": req.step, "size": req.size}
    try:
        reply = client.execute(req.query, req.params)
    except (OSError, struct.error) as e:  # ConnectionError is an OSError
        rec.update(ok=False, err=f"{type(e).__name__}: {e}")
        client.reconnect()
        return rec
    rec.update({k: v for k, v in reply.items() if k != "rows"})
    if "error" in reply:
        rec.update(ok=False, err=reply["error"])
    else:
        problem = req.check(reply["rows"]) if req.check else None
        rec.update(ok=problem is None, err=problem)
    return rec


def run_list(client: WireClient, reqs: list[Req], out: list) -> float:
    t0 = time.perf_counter()
    for r in reqs:
        out.append(run_req(client, r))
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# engine server process


class ServerProcess:
    """``server_main.py`` in its own process, so request handling does not
    share an interpreter lock with the load generator."""

    def __init__(self, run_env, start_timeout: float = 150.0):
        self.log = open(run_env.dir / "server.log", "wb")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "server_main.py"), str(run_env.dir)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            env=run_env.env, cwd=run_env.dir)
        ready, _, _ = _select.select([self.proc.stdout], [], [], start_timeout)
        line = self.proc.stdout.readline().decode().split() if ready else []
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError(f"engine server did not start (see {self.log.name})")
        self.port = int(line[1])

    def close(self) -> None:
        try:
            self.proc.stdin.close()  # EOF asks the server to shut down
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        finally:
            self.log.close()


# ---------------------------------------------------------------------------
# closed-loop driver


def closed_loop(clients, streams, seconds: float, out: list) -> list[list[float]]:
    """Each client runs whole units (rounds or cycles) from its stream until
    ``seconds`` pass, at least one; a unit in flight at the deadline
    completes.  Records are tagged with their client's index.  Returns each
    client's unit durations."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    times: list[list[float]] = [[] for _ in clients]
    lock = threading.Lock()

    def loop(n, client, stream):
        recs = []
        while True:
            times[n].append(run_list(client, next(stream), recs))
            if time.perf_counter() >= deadline:
                break
        for r in recs:
            r["client"] = n
        with lock:
            out.extend(recs)

    threads = [threading.Thread(target=loop, args=(n, c, s))
               for n, (c, s) in enumerate(zip(clients, streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return times


def timed_setups(client: WireClient, mix: ReadMix, cyc: "WriteCycle", out: list) -> list[float]:
    """SETUPS set-ups (the last one stays): write the NetCDF input, import
    and materialise both resident fragments.  Returns their durations."""
    times = []
    for rep in range(SETUPS):
        t0 = time.perf_counter()
        cyc.write_nc()
        run_list(client, mix.imports(), out)
        times.append(time.perf_counter() - t0)
        if rep < SETUPS - 1:
            run_list(client, [Req(None, f"operation=drop_frag;frag_name={f}", step="drop")
                              for f in ("q_a", "q_b")], out)
    return times


def units(mix: ReadMix, cyc: "WriteCycle", seed: int):
    """Endless units of the untraced run: two read rounds, then a write cycle."""
    rounds = mix.rounds(seed, 0)
    for writes in cyc.cycles():
        yield next(rounds) + next(rounds) + writes


def summarize(recs: list) -> dict:
    failed = sum(not r["ok"] for r in recs)
    return {"attempted": len(recs), "failed": failed,
            "problems": [r["err"] for r in recs if not r["ok"]][:5]}


def latency_ms(recs) -> list[float]:
    return [(r["t_end"] - r["t_send"]) * 1e3 for r in recs if r["ok"]]


def wire_mixed(args, run_env, sz: Sizes) -> dict:
    mix = ReadMix(sz, args.seed)
    cyc = WriteCycle(sz, args.seed, run_env.dir / "ingest.nc")
    setup_recs, warm, recs = [], [], []
    srv = ServerProcess(run_env)
    try:
        client = WireClient("127.0.0.1", srv.port)
        try:
            setups = timed_setups(client, mix, cyc, setup_recs)
            # warm-up (JIT, Python workers, the first fft): one read round
            # and one write cycle, on names the measured units do not use
            run_list(client, next(mix.rounds(args.seed, 1)) + cyc.cycle(10**6), warm)
            (times,) = closed_loop([client], [units(mix, cyc, args.seed)], args.seconds, recs)
        finally:
            client.close()
    finally:
        srv.close()
    reads = [r for r in recs if r["cls"] in READ_CLASSES and r["ok"]]
    return {
        **summarize(setup_recs + warm + recs),
        "metrics": {
            "setup_s": median(setups),
            "wall_s": median(times),
            "query_p50_ms": median(latency_ms([r for r in reads if r["cls"] == "select"])),
            "query_qps": per_s(len(reads), sum(r["t_end"] - r["t_send"] for r in reads)),
        },
    }
