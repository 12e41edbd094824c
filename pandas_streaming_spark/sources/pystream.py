"""Python-native streaming sources (Spark 4 DataSource API).

``from_iterable_stream`` expresses the reference's ``from_iterable`` (a
finite in-memory sequence) as a *real* Structured Streaming source —
offsets, recovery replay, any trigger — through a driver-side simple
reader: the data IS an in-process iterable, so its job is API parity and
testing, not throughput.

Every other source here writes lines to a durable spool log and reads it
back through ``kafka_spool.SpoolStreamReader``, the one spool-log reader:
``from_process_stream`` (one command, one log), ``from_process_pool``
(N commands, N logs) and the ``from_http_server`` / ``from_websocket`` /
``from_mqtt`` endpoints, which append each message to the spool before
acknowledging it. Offsets are committed (newline-terminated) line counts,
so acknowledged data replays exactly-once after a restart, which a pipe
or socket buffer cannot promise. The driver plans one slice per log with
new lines and executor tasks read and decode them, so executors must
share the driver's filesystem — true of ``local[N]`` and
``local-cluster``, the same assumption ``kafka_spool`` makes.
``batch_size`` is the number of lines one trigger reads across all logs
of the source, split in proportion to each log's backlog.

Commands and endpoints live on the driver (they are the ingest edge);
durable high-volume inputs belong on the file/kafka paths.
"""

from __future__ import annotations

import base64
import glob
import hashlib
import json
import logging
import os
import socket
import threading
from collections.abc import Iterator
from http.server import BaseHTTPRequestHandler

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from pandas_streaming_spark.sources.kafka_spool import SpoolStreamReader


class _IterableStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, rows: list[list], batch_size: int):
        self._rows = rows
        self._bs = batch_size

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        i = start["i"]
        chunk = self._rows[i : i + self._bs]
        return iter([tuple(r) for r in chunk]), {"i": i + len(chunk)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # recovery replay between committed offsets — same slice, so a
        # restarted query sees byte-identical micro-batches
        return iter([tuple(r) for r in self._rows[start["i"] : end["i"]]])


class IterableDataSource(DataSource):
    """``format("iterable_stream")``: rows JSON-encoded in options (the
    DataSource contract ships only strings to the reader)."""

    @classmethod
    def name(cls) -> str:
        return "iterable_stream"

    def schema(self) -> str:
        return self.options["schema"]

    def simpleStreamReader(self, schema) -> _IterableStreamReader:
        return _IterableStreamReader(
            json.loads(self.options["rows"]),
            int(self.options.get("batch_size", "10")),
        )


def from_iterable_stream(
    spark: SparkSession, rows, schema: str, batch_size: int = 10
) -> DataFrame:
    """Streaming DataFrame over an in-memory sequence, ``batch_size``
    rows per micro-batch (reference ``from_iterable``). JSON-serializable
    scalar columns only — by construction the data already fits on the
    driver."""
    spark.dataSource.register(IterableDataSource)
    return (
        spark.readStream.format("iterable_stream")
        .option("rows", json.dumps([list(r) for r in rows]))
        .option("schema", schema)
        .option("batch_size", str(batch_size))
        .load()
    )


def _line_row(line: bytes, group: str, pid: int, offset: int) -> tuple:
    return (offset, line.decode("utf-8", errors="replace"))


def _worker_row(line: bytes, group: str, pid: int, offset: int) -> tuple:
    return (pid, offset, line.decode("utf-8", errors="replace"))


class ProcessDataSource(DataSource):
    """``format("process_stream")``: options are ``spool`` (line log
    path), optional ``cmd`` (JSON argv list to spawn with stdout appended
    to the spool; omit to tail a spool another writer owns) and
    ``batch_size`` (lines per trigger)."""

    @classmethod
    def name(cls) -> str:
        return "process_stream"

    def schema(self) -> str:
        return "line_no long, value string"

    def streamReader(self, schema) -> SpoolStreamReader:
        spool = self.options["spool"]
        cmd = json.loads(self.options.get("cmd") or "[]")
        return SpoolStreamReader(
            {"lines": glob.escape(spool)},
            _line_row,
            int(self.options.get("batch_size", "100")),
            cmds=[(cmd, spool)] if cmd else [],
        )


def from_process_stream(
    spark: SparkSession,
    cmd: list[str],
    spool: str,
    batch_size: int = 100,
) -> DataFrame:
    """Streaming DataFrame of a subprocess's stdout lines (reference
    ``from_process``): columns ``(line_no long, value string)``, at most
    ``batch_size`` lines per trigger.

    The process is spawned once, on the driver, with stdout appended to
    ``spool``; the spool — not the pipe — is the source of truth, so a
    restarted query replays byte-identical micro-batches (a raw pipe
    cannot be re-read). ``spool`` must be a fresh path per logical
    stream; pass an empty ``cmd`` to tail a spool another writer owns.
    The process is terminated when the query stops."""
    spark.dataSource.register(ProcessDataSource)
    return (
        spark.readStream.format("process_stream")
        .option("cmd", json.dumps(list(cmd)))
        .option("spool", spool)
        .option("batch_size", str(batch_size))
        .load()
    )


class ProcessPoolDataSource(DataSource):
    """``format("process_pool_stream")``: options ``spool_dir``, ``cmds``
    (JSON list of argv lists; empty to tail logs another writer owns) and
    ``batch_size`` (lines per trigger across all workers)."""

    @classmethod
    def name(cls) -> str:
        return "process_pool_stream"

    def schema(self) -> str:
        return "worker int, line_no long, value string"

    def streamReader(self, schema) -> SpoolStreamReader:
        d = self.options["spool_dir"]
        cmds = json.loads(self.options.get("cmds") or "[]")
        return SpoolStreamReader(
            {"lines": os.path.join(glob.escape(d), "w*.log")},
            _worker_row,
            int(self.options.get("batch_size", "1000")),
            cmds=[(c, os.path.join(d, f"w{i:03d}.log")) for i, c in enumerate(cmds)],
        )


def from_process_pool(
    spark: SparkSession,
    cmds: list[list[str]],
    spool_dir: str,
    batch_size: int = 1000,
) -> DataFrame:
    """Streaming DataFrame over N worker subprocesses, one durable log
    (``w{i:03d}.log``) and one read partition per worker: columns
    ``(worker int, line_no long, value string)``. ``batch_size`` caps the
    lines per trigger across all workers, split in proportion to each
    worker's backlog so a chatty worker cannot starve the others. The
    partitioned counterpart of ``from_process_stream`` — use it when the
    parse/transform after ingest should fan out across the cluster."""
    spark.dataSource.register(ProcessPoolDataSource)
    return (
        spark.readStream.format("process_pool_stream")
        .option("spool_dir", spool_dir)
        .option("cmds", json.dumps([list(c) for c in cmds]))
        .option("batch_size", str(batch_size))
        .load()
    )


#: port -> (endpoint kind, spool) of every endpoint started in this process.
_SERVERS: dict[int, tuple[str, str]] = {}
_SPOOL_LOCK = threading.Lock()

#: Per-port count of malformed/unservable requests the ingest endpoints
#: refused (bad Content-Length, unreadable body). A source that silently
#: loses data is the one place exception-swallowing is dangerous, so the
#: drop is counted where tests and operators can see it, and debug-logged.
SOURCE_DROPS: dict[int, int] = {}


def _append_lines(spool: str, lines: list[str]) -> None:
    """Append the non-empty ``lines`` to ``spool``, each newline-
    terminated, under one lock — the spool write every endpoint makes
    before it acknowledges."""
    os.makedirs(os.path.dirname(spool) or ".", exist_ok=True)
    with _SPOOL_LOCK, open(spool, "a", encoding="utf-8") as f:
        for ln in lines:
            if ln:
                f.write(ln + "\n")


def _recv_exact(conn, n: int) -> bytes | None:
    """Exactly ``n`` bytes from ``conn``, or None at EOF."""
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def _serve(kind: str, port: int, spool: str, serve_conn) -> None:
    """Start, once per port, a driver-side daemon accept loop on
    127.0.0.1:``port`` that runs ``serve_conn(conn, port, spool)`` on a
    thread per connection. A connection handler captures its spool, so
    reusing a port with a different spool would append to the old file
    while the new stream reads an empty one — refuse loudly instead."""
    if port in _SERVERS:
        if _SERVERS[port] != (kind, spool):
            bound_kind, bound = _SERVERS[port]
            raise ValueError(
                f"{bound_kind} server on port {port} is already spooling to "
                f"{bound!r}; pass the same spool or use a fresh port "
                f"(one durable log per endpoint)."
            )
        return
    srv = socket.create_server(("127.0.0.1", port))

    def handle(conn) -> None:
        with conn:
            serve_conn(conn, port, spool)

    def accept_loop() -> None:
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:  # listener closed
                return
            threading.Thread(target=handle, args=(conn,), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()
    _SERVERS[port] = (kind, spool)


class _HttpHandler(BaseHTTPRequestHandler):
    """One POST per connection; ``server`` is ``(port, spool)``."""

    def do_POST(self):  # noqa: N802 (http.server API name)
        port, spool = self.server
        try:
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8", errors="replace")
        except (ValueError, OSError) as exc:
            # Malformed request: refuse with 400 and COUNT the drop —
            # never ack (200) data that didn't reach the durable spool.
            SOURCE_DROPS[port] += 1
            logging.getLogger(__name__).debug(
                "from_http_server port %d dropped request: %s", port, exc
            )
            try:
                self.send_response(400)
                self.end_headers()
            except OSError:
                pass  # client already gone; the drop is counted
            return
        _append_lines(spool, body.split("\n"))
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):  # silence per-request stderr noise
        pass


def _serve_http(conn, port: int, spool: str) -> None:
    _HttpHandler(conn, ("127.0.0.1", 0), (port, spool))


def from_http_server(
    spark: SparkSession,
    port: int,
    spool: str,
    batch_size: int = 100,
) -> DataFrame:
    """Streaming DataFrame of lines POSTed to a local HTTP endpoint
    (reference ``from_http_server``): columns ``(line_no long,
    value string)``, at most ``batch_size`` lines per trigger.

    Same durable-log design as ``from_process_stream``: the handler
    appends newline-terminated lines to the spool before it answers 200,
    and the stream reader indexes committed lines by offset — so
    acknowledged POSTs survive query restarts exactly-once, which a
    socket buffer cannot promise. The server is a driver-side daemon
    thread (one per port, reused across calls); production ingestion
    belongs on file/kafka paths, this is the reference's dev-ingest
    parity.
    """
    SOURCE_DROPS.setdefault(port, 0)
    _serve("from_http_server", port, spool, _serve_http)
    return from_process_stream(spark, [], spool, batch_size)


_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


def _ws_handshake(conn) -> bool:
    """Read the client's HTTP upgrade request and answer 101 with the
    RFC 6455 accept key. Returns False on a malformed request."""
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = conn.recv(4096)
        if not chunk:
            return False
        data += chunk
    key = None
    for line in data.split(b"\r\n"):
        if line.lower().startswith(b"sec-websocket-key:"):
            key = line.split(b":", 1)[1].strip().decode()
    if key is None:
        return False
    accept = base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()
    conn.sendall(
        b"HTTP/1.1 101 Switching Protocols\r\n"
        b"Upgrade: websocket\r\nConnection: Upgrade\r\n"
        b"Sec-WebSocket-Accept: " + accept.encode() + b"\r\n\r\n"
    )
    return True


def _ws_read_frame(conn):
    """Parse one client frame → (opcode, payload bytes) or None on EOF.
    Client frames are always masked (RFC 6455 §5.1)."""
    hdr = _recv_exact(conn, 2)
    if hdr is None:
        return None
    opcode = hdr[0] & 0x0F
    masked, ln = hdr[1] & 0x80, hdr[1] & 0x7F
    if ln in (126, 127):
        ext = _recv_exact(conn, 2 if ln == 126 else 8)
        if ext is None:
            return None
        ln = int.from_bytes(ext, "big")
    mask = _recv_exact(conn, 4) if masked else b"\x00" * 4
    payload = _recv_exact(conn, ln) if ln else b""
    if mask is None or payload is None:
        return None
    return opcode, bytes(b ^ mask[i % 4] for i, b in enumerate(payload))


def _serve_ws(conn, port: int, spool: str) -> None:
    if not _ws_handshake(conn):
        return
    while True:
        frame = _ws_read_frame(conn)
        if frame is None:
            return
        opcode, payload = frame
        if opcode == 0x8:  # close: echo and finish
            conn.sendall(b"\x88\x00")
            return
        if opcode == 0x9:  # ping -> pong, unmasked server frame
            conn.sendall(bytes([0x8A, len(payload)]) + payload)
            continue
        if opcode in (0x1, 0x0):  # text / continuation
            _append_lines(spool, payload.decode("utf-8", errors="replace").split("\n"))


def from_websocket(
    spark: SparkSession,
    port: int,
    spool: str,
    batch_size: int = 100,
) -> DataFrame:
    """Streaming DataFrame of text messages sent to a local WebSocket
    endpoint (reference ``from_websocket``): columns ``(line_no long,
    value string)``, at most ``batch_size`` lines per trigger.

    The server is a stdlib RFC 6455 implementation (handshake accept
    key, masked client frames, close/ping control frames) running as a
    driver-side daemon thread — the same durable-spool design as
    ``from_http_server``: each text message appends newline-terminated
    lines to the spool, and the stream reader's line offsets make
    acknowledged messages replayable exactly-once across restarts.
    Newlines inside a message are message separators, matching the
    line-oriented schema shared by the process/http/socket sources.
    """
    _serve("from_websocket", port, spool, _serve_ws)
    return from_process_stream(spark, [], spool, batch_size)


def _mqtt_read_packet(conn):
    """Read one MQTT control packet → (type, flags, body) or None on EOF.
    Remaining-length is the spec's 7-bit varint (§2.2.3)."""
    hdr = _recv_exact(conn, 1)
    if hdr is None:
        return None
    ptype, flags = hdr[0] >> 4, hdr[0] & 0x0F
    ln, shift = 0, 0
    for _ in range(4):
        b = _recv_exact(conn, 1)
        if b is None:
            return None
        ln |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    body = _recv_exact(conn, ln) if ln else b""
    if body is None:
        return None
    return ptype, flags, body


def _serve_mqtt(conn, port: int, spool: str) -> None:
    while True:
        pkt = _mqtt_read_packet(conn)
        if pkt is None:
            return
        ptype, flags, body = pkt
        if ptype == 1:  # CONNECT -> CONNACK (session 0, rc 0)
            conn.sendall(b"\x20\x02\x00\x00")
        elif ptype == 3:  # PUBLISH
            qos = (flags >> 1) & 0x3
            tlen = int.from_bytes(body[:2], "big")
            topic = body[2 : 2 + tlen].decode("utf-8", "replace")
            rest = body[2 + tlen :]
            pkt_id = rest[:2] if qos else b""
            payload = (rest[2:] if qos else rest).decode("utf-8", "replace")
            _append_lines(spool, [topic + "\t" + payload.replace("\n", " ")])
            if qos == 1:  # durable first, then PUBACK
                conn.sendall(b"\x40\x02" + pkt_id)
        elif ptype == 8:  # SUBSCRIBE -> SUBACK (maxQoS 0)
            conn.sendall(b"\x90\x03" + body[:2] + b"\x00")
        elif ptype == 12:  # PINGREQ -> PINGRESP
            conn.sendall(b"\xd0\x00")
        elif ptype == 14:  # DISCONNECT
            return


def from_mqtt(
    spark: SparkSession,
    port: int,
    spool: str,
    batch_size: int = 100,
) -> DataFrame:
    """Streaming DataFrame of messages PUBLISHed to a local MQTT 3.1.1
    endpoint (reference ``from_mqtt``): columns ``(line_no long,
    value string)`` where value is ``topic<TAB>payload``, at most
    ``batch_size`` lines per trigger.

    A broker-less stdlib endpoint speaking the server half of MQTT
    3.1.1: CONNECT→CONNACK, SUBSCRIBE→SUBACK, PINGREQ→PINGRESP,
    PUBLISH QoS 0 spooled / QoS 1 spooled-then-PUBACK (the ack ordering
    is what makes QoS 1 at-least-once end-to-end: the line is durable
    before the client is told), DISCONNECT closes. Same durable-spool
    exactly-once replay story as the http/websocket sources; a real
    deployment points from_kafka/file paths at a production broker —
    this is the reference's dev-ingest parity surface.
    """
    _serve("from_mqtt", port, spool, _serve_mqtt)
    return from_process_stream(spark, [], spool, batch_size)
