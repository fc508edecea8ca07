"""TCP query-server façade (≙ the reference's network surface:
thread-per-connection accept loop ``src/server/execs/oph_io_server.c:290-299``,
request loop ``oph_io_server_thread.c``).

A user of the reference talks to a socket: submit a dialect query, fetch the
result set.  This façade exposes the same interaction on top of the Spark
engine — one `IOServer` (catalog shared across connections, like the
reference's MetaDB), one thread per client, results streamed back as the
RS-packet framing from ``protocol.py``.

Wire format (new, documented — the reference's exact C wire structs are not
reproduced): each request is a 4-byte big-endian length + UTF-8 query string;
each response is 1 status byte (``K`` ok / ``E`` error) followed by, for ok
with a result set, the RS packet stream (terminated by its zero-row packet),
for ok without result an empty RS stream, and for errors a 4-byte length +
UTF-8 message.  ``QUIT`` closes the connection.

Execution contract: ``IOServer.execute`` only builds plans and updates the
catalog; Spark runs a statement's work when its result set is drained.  The
exceptions are ``oph_export_nc``, which writes its file inside ``execute``,
and the opt-in ``validate_dense`` check.  A statement that stores a fragment
(CTAS, ``oph_subset``, imports, inserts) stores a plan, so a runtime failure
in its expressions surfaces at the first statement that reads the fragment.

Error contract: the handler pulls the first packet before it sends ``K``,
and pulling it runs the query's single Spark job to completion (the result
set is materialised once in the JVM driver, bounded by
``spark.driver.maxResultSize``).  So analysis errors, runtime errors in any
partition (``oph_size`` included) and an over-limit result all become clean
``E`` frames, and the connection stays usable.  Only a failure while sending
the remaining packets (e.g. the client went away) closes the connection
mid-stream; clients treat a truncated RS stream as a query failure, as with
the reference's chunked send loop.

Each request's Spark jobs run under the job group ``oph-io:<peer port>:<n>``
(``n`` counts the connection's requests from 1), described by the first 120
characters of the query, so they can be found through the status tracker
and the Spark UI.

This is a developer/parity façade: production deployments should front Spark
with Spark Connect / Livy-style services instead of a hand-rolled socket
protocol.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
from typing import BinaryIO

from pyspark.sql import SparkSession

from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.protocol import deserialize_packets, serialize_result_set


def _read_exact(rfile: BinaryIO, n: int) -> bytes:
    """Exactly ``n`` bytes from a buffered socket file: ``read(n)`` fills one
    preallocated buffer, so small reads cost no ``recv`` each and a large
    frame is not rebuilt by repeated concatenation."""
    buf = rfile.read(n)
    if len(buf) < n:
        raise ConnectionError("peer closed")
    return buf


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        srv: IOServer = self.server.io_server  # type: ignore[attr-defined]
        lock: threading.Lock = self.server.catalog_lock  # type: ignore[attr-defined]
        sc = srv.spark.sparkContext
        peer_port = self.client_address[1]
        n = 0
        while True:
            try:
                (ln,) = struct.unpack(">i", _read_exact(self.rfile, 4))
                query = _read_exact(self.rfile, ln).decode()
            except (ConnectionError, struct.error):
                return
            if query.strip().upper() == "QUIT":
                return
            n += 1
            # handler threads are pinned to their own JVM threads, so the
            # group tags exactly this request's jobs
            sc.setJobGroup(f"oph-io:{peer_port}:{n}", query[:120])
            try:
                params = self._read_binds()
                # serialize execute (≙ the reference's MetaDB rwlock): catalog
                # mutations are driver-side dict ops and the returned plan
                # runs outside the lock.  Only oph_export_nc and, under
                # validate_dense, assert_dense_ids run Spark jobs inside
                # execute, so they hold the lock while they run
                with lock:
                    df = srv.execute(query, params=params)
                # pull the FIRST packet before emitting the 'K' status byte:
                # pulling it runs the whole Spark job (the result set is held
                # once in the JVM driver, bounded by maxResultSize), so every
                # analysis, runtime or over-limit error surfaces here and
                # becomes a clean 'E' frame.  The rest streams one packet at
                # a time — the reference's 4 MB chunking contract
                # (MAX_PACKET_LEN, etc/oph_ioserver.conf:5).
                if df is not None:
                    pkt_iter = serialize_result_set(df)
                else:
                    pkt_iter = iter([struct.pack(">ii", 0, 0) + struct.pack(">i", 0)])
                first_pkt = next(pkt_iter)
            except Exception as e:  # noqa: BLE001 — wire boundary
                msg = f"{type(e).__name__}: {e}".encode()[:65536]
                self.request.sendall(b"E" + struct.pack(">i", len(msg)) + msg)
                continue
            self.request.sendall(b"K" + first_pkt)
            try:
                for pkt in pkt_iter:
                    self.request.sendall(pkt)
            except Exception:  # noqa: BLE001
                # Spark work is done by now; what fails here is the send
                # itself.  A failure after 'K' cannot become an 'E' frame
                # (the client is mid-RS-parse) — it is a connection-level
                # error, as in the reference's chunked send loop
                self.request.close()
                return


    def _read_binds(self) -> dict[int, object]:
        """Typed ?N bind args following the query (≙ the reference EQ
        message's DL/DD/DV/DB sub-headers): 4-byte count, then per bind a
        1-byte tag + payload (L: 8-byte long; D: 8-byte double; S/B: 4-byte
        length + bytes; B decodes to a list of little-endian float64)."""
        (nbinds,) = struct.unpack(">i", _read_exact(self.rfile, 4))
        params: dict[int, object] = {}
        for i in range(1, nbinds + 1):
            tag = _read_exact(self.rfile, 1)
            if tag == b"L":
                (params[i],) = struct.unpack(">q", _read_exact(self.rfile, 8))
            elif tag == b"D":
                (params[i],) = struct.unpack(">d", _read_exact(self.rfile, 8))
            elif tag in (b"S", b"B"):
                (ln,) = struct.unpack(">i", _read_exact(self.rfile, 4))
                raw = _read_exact(self.rfile, ln)
                params[i] = (list(struct.unpack(f"<{ln // 8}d", raw))
                             if tag == b"B" else raw.decode())
            else:
                raise ValueError(f"bad bind tag {tag!r}")
        return params


class QueryServer(socketserver.ThreadingTCPServer):
    """Thread-per-connection dialect server bound to an in-process Spark."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _Handler)
        self.io_server = IOServer(spark)
        self.catalog_lock = threading.Lock()

    @property
    def address(self) -> tuple[str, int]:
        return self.server_address  # type: ignore[return-value]

    def serve_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


class QueryClient:
    """Minimal client for QueryServer (test/demo counterpart of the
    reference's oph_io_client)."""

    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port))
        self._rfile = self.sock.makefile("rb")

    def execute(self, query: str, params: dict[int, object] | None = None):
        q = query.encode()
        frames = [struct.pack(">i", len(q)) + q]
        params = params or {}
        frames.append(struct.pack(">i", len(params)))
        for i in sorted(params):
            v = params[i]
            if isinstance(v, bool) or isinstance(v, int):
                frames.append(b"L" + struct.pack(">q", int(v)))
            elif isinstance(v, float):
                frames.append(b"D" + struct.pack(">d", v))
            elif isinstance(v, (list, tuple)):
                raw = struct.pack(f"<{len(v)}d", *[float(x) for x in v])
                frames.append(b"B" + struct.pack(">i", len(raw)) + raw)
            else:
                raw = str(v).encode()
                frames.append(b"S" + struct.pack(">i", len(raw)) + raw)
        self.sock.sendall(b"".join(frames))
        rf = self._rfile
        status = _read_exact(rf, 1)
        if status == b"E":
            (ln,) = struct.unpack(">i", _read_exact(rf, 4))
            raise RuntimeError(_read_exact(rf, ln).decode())
        # read RS stream: header, then packets until the zero-row terminator.
        # Rows are length-framed cell by cell, so walk the cells; the reads
        # come out of the file's buffer, not one recv per cell.
        parts = [_read_exact(rf, 8)]
        while True:
            count_b = _read_exact(rf, 4)
            parts.append(count_b)
            (nrows,) = struct.unpack(">i", count_b)
            if nrows == 0:
                break
            for _ in range(nrows):
                nc_b = _read_exact(rf, 4)
                parts.append(nc_b)
                for _ in range(struct.unpack(">i", nc_b)[0]):
                    head = _read_exact(rf, 5)
                    parts.append(head)
                    parts.append(_read_exact(rf, struct.unpack(">i", head[1:])[0]))
        return deserialize_packets(parts)

    def close(self) -> None:
        try:
            q = b"QUIT"
            self.sock.sendall(struct.pack(">i", len(q)) + q)
        finally:
            self._rfile.close()
            self.sock.close()
