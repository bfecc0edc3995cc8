"""Native PySpark streaming DataSource for the ALO connector family.

The relay-family sources (UDP/Kinesis/RabbitMQ/Redis/ALO) reach Spark
via a disk spool (``SpoolRelay`` -> file stream source). PySpark 4.1
ships the Python streaming DataSource API
(``pyspark.sql.datasource.DataSource`` + ``SimpleDataSourceStreamReader``),
which removes the disk round-trip and the relay thread while keeping
exactly-once offsets: this module registers ``wally_alo``, so

    spark.dataSource.register(WallyALODataSource)
    df = (spark.readStream.format("wally_alo")
          .option("port", 7100).option("cookie", "...").load())

consumes the at-least-once connector wire protocol (reference
connectors.py / connector_wire_messages.py — see sources/alo.py for
the clean-room frame codec) directly into a streaming DataFrame with
schema (stream_id, message_id, event_time, key, value).

Offset model (the exactly-once contract):

- The reader owns an ``ALOIngestServer`` listener; accepted Messages
  land in an in-memory per-stream buffer keyed by (stream_id,
  message_id) — landing dedupes replays.
- Spark offsets are per-stream next-expected positions
  ``{str(stream_id): por}`` — exactly the protocol's point-of-ref
  convention (last accepted offset + 1).
- ``read(start)`` drains the buffer frontier; ``readBetweenOffsets``
  re-serves the RETAINED (uncommitted) slice deterministically.
- ``commit(end)`` prunes the buffer below ``end`` and publishes the
  committed positions as the server's resume state: a client that
  reconnects after a reader crash gets NotifyAck(por=committed) and
  replays everything Spark hasn't committed — the protocol's
  at-least-once replay is what makes the in-memory buffer safe, and
  Spark's checkpointed offsets turn it into exactly-once downstream.

SimpleDataSourceStreamReader runs in the query's long-lived driver-side
Python process — the documented fit for control-rate sources. The
spool path (sources/relay.py) stays as the fallback for high-rate
feeds where the listener must scale out separately from the driver.

Lifecycle note: Spark instantiates the Python DataSource (and so the
reader) more than once — at plan resolution, in the driver-side
streaming runner, and in EXECUTOR workers (each planned partition calls
``readBetweenOffsets``) — so (a) the listening socket opens LAZILY on
the first offset call, never in ``__init__``; (b) listeners are shared
through a per-process registry keyed by (host, port); and (c) each
``read()`` journals its batch slice into a tiny WAL of IN-FLIGHT
batches (``wal`` option; pruned at ``commit``), which is what executor
workers and post-restart replays read — the same role the offset/commit
log plays for Spark's own file source. On a multi-node cluster point
``wal`` at shared storage, exactly like a checkpointLocation.
"""

from __future__ import annotations

import base64
import errno
import json
import os
import socket
import tempfile
import threading
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

__all__ = [
    "WallyALODataSource",
    "WallyUDPDataSource",
    "WallyTCPSinkDataSource",
    "ALOStreamReader",
    "UDPStreamReader",
    "TCPStreamWriter",
    "register_native",
]

_SCHEMA = (
    "stream_id bigint, message_id bigint, event_time bigint,"
    " key binary, value binary"
)
# How long an ALO listener retries a port that is still in use. Spark
# ends a stopped query's source runner process without calling the
# reader's stop(), so a query restarted on the same port can find it
# held for a moment by the old listener.
BIND_RETRY_S = 5.0


class _ALOListener:
    """One ALO listening socket + in-memory landing buffer + committed
    positions; shared by every reader instance in this process that
    names the same (host, port)."""

    def __init__(
        self,
        host: str,
        port: int,
        cookie: str,
        ack_every: int,
        txn_log: str | None = None,
        initial_credits: int = 16,
    ):
        from wally_spark.sources.alo import ALOIngestServer

        self.lock = threading.Lock()
        # buf[sid] = {mid: (sid, mid, event_time, key, value)}
        self.buf: dict[int, dict[int, tuple]] = {}
        self.committed: dict[int, int] = {}
        if txn_log:
            os.makedirs(os.path.dirname(txn_log) or ".", exist_ok=True)
        self.server = ALOIngestServer(
            cookie=cookie,
            land=self._land,
            resume=self._resume,
            initial_credits=initial_credits,
            ack_every=ack_every,
            txn_log=txn_log,
        )
        self._lsock = socket.socket()
        self._lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        deadline = time.monotonic() + BIND_RETRY_S
        while True:
            try:
                self._lsock.bind((host, port))
                break
            except OSError as e:
                if e.errno != errno.EADDRINUSE or time.monotonic() > deadline:
                    self._lsock.close()
                    raise
                time.sleep(0.05)
        self._lsock.listen(8)
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._accept_loop, daemon=True
        )
        self._thread.start()

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._lsock.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve_one, args=(conn,), daemon=True
            ).start()

    def _serve_one(self, conn: socket.socket) -> None:
        # a reconnecting client must replay from the COMMITTED offset
        # (Spark may not have committed everything a previous session
        # landed): the server's ``resume`` hook (self._resume) rewinds
        # the announced stream to committed when its Notify arrives —
        # PER STREAM, so one client's reconnect no longer resets the
        # dedupe state of other live streams on this listener (r12
        # advice); the buffer dedupes re-pushed uncommitted rows by
        # (stream_id, message_id)
        try:
            self.server.serve_connection(conn)
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _resume(self, sid: int):
        """Committed por for a (re-)announced stream, or None if the
        stream has never committed (consulted by the server on Notify
        — the per-stream rewind)."""
        with self.lock:
            return self.committed.get(sid)

    def _land(
        self,
        sid: int,
        mid: int,
        payload: bytes | None,
        event_time: int = 0,
        key: bytes | None = None,
    ) -> None:
        # full wire Message lands: the advertised (event_time, key)
        # columns carry the frame's real values (r12 advice)
        with self.lock:
            self.buf.setdefault(sid, {})[mid] = (
                sid,
                mid,
                event_time,
                key,
                payload or b"",
            )

    def stop(self) -> None:
        self._stop.set()
        try:
            self._lsock.close()
        except OSError:
            pass


_LISTENERS: dict[tuple, object] = {}
_REGISTRY_LOCK = threading.Lock()


def _get_or_create_listener(key: tuple, factory):
    with _REGISTRY_LOCK:
        lst = _LISTENERS.get(key)
        if lst is None:
            lst = factory()
            _LISTENERS[key] = lst
        return lst


def _wal_key(start: dict, end: dict) -> str:
    import hashlib

    blob = json.dumps([start, end], sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:24]


class _BatchWal:
    """Tiny WAL of IN-FLIGHT batch slices (see module doc): one json
    file per planned (start, end) range, atomically published, pruned
    once the range commits. ``binary_cols`` marks which row positions
    carry bytes (base64 round-trip)."""

    def __init__(self, wal_dir: str, binary_cols: tuple = ()):
        self.dir = wal_dir
        self.binary_cols = set(binary_cols)

    def _enc(self, row: tuple) -> list:
        return [
            (base64.b64encode(v).decode() if v else None)
            if i in self.binary_cols
            else v
            for i, v in enumerate(row)
        ]

    def _dec(self, row: list) -> tuple:
        return tuple(
            (base64.b64decode(v) if v is not None else None)
            if i in self.binary_cols
            else v
            for i, v in enumerate(row)
        )

    def write(self, start: dict, end: dict, rows: list) -> None:
        os.makedirs(self.dir, exist_ok=True)
        entry = {
            "start": start,
            "end": end,
            "rows": [self._enc(r) for r in rows],
        }
        path = os.path.join(self.dir, _wal_key(start, end))
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, path)  # atomic publish

    def read(self, start: dict, end: dict) -> list | None:
        path = os.path.join(self.dir, _wal_key(start, end))
        if not os.path.exists(path):
            return None
        with open(path) as f:
            entry = json.load(f)
        return [self._dec(r) for r in entry["rows"]]

    def prune(self, committed: dict) -> None:
        """``committed``: str-keyed offset map; an entry whose whole
        end range is <= committed is no longer needed for replay."""
        if not os.path.isdir(self.dir):
            return
        for name in os.listdir(self.dir):
            path = os.path.join(self.dir, name)
            try:
                with open(path) as f:
                    entry = json.load(f)
                done = all(
                    int(por) <= int(committed.get(sid_s, 0))
                    for sid_s, por in entry["end"].items()
                )
                if done:
                    os.remove(path)
            except (OSError, ValueError, KeyError):
                continue


class ALOStreamReader(SimpleDataSourceStreamReader):
    """Driver-side ALO listener + offset bookkeeping (see module doc)."""

    def __init__(self, options: dict):
        self._host = options.get("host", "127.0.0.1")
        self._port = int(options.get("port", "7100"))
        self._cookie = options.get("cookie", "")
        self._ack_every = int(options.get("ack_every", "4"))
        # credit window = max client in-flight messages: the throughput
        # knob for pipelined senders (perfbench's stream_state sender
        # runs with a window of perfbench.loadgen.CREDITS)
        self._credits = int(options.get("credits", "16"))
        wal_dir = options.get(
            "wal",
            os.path.join(
                tempfile.gettempdir(), f"wally_alo_wal_{self._port}"
            ),
        )
        self._wal = _BatchWal(wal_dir, binary_cols=(3, 4))
        self._listener: _ALOListener | None = None

    def _lst(self) -> _ALOListener:
        if self._listener is None:
            self._listener = _get_or_create_listener(
                ("alo", self._host, self._port),
                lambda: _ALOListener(
                    self._host,
                    self._port,
                    self._cookie,
                    self._ack_every,
                    # 2PC txn spans journal beside the batch WAL: an
                    # abort arriving after a restart still rolls back
                    txn_log=os.path.join(self._wal.dir, "txn.json"),
                    initial_credits=self._credits,
                ),
            )
        return self._listener

    # -- SimpleDataSourceStreamReader contract ------------------------------
    def initialOffset(self) -> dict:
        self._lst()
        return {}

    def _frontier(self, start: dict, buf: dict) -> dict:
        out = {k: int(v) for k, v in start.items()}
        for sid, rows in buf.items():
            if rows:
                out[str(sid)] = max(max(rows) + 1, out.get(str(sid), 0))
        return out

    def read(self, start: dict):
        lst = self._lst()
        with lst.lock:
            end = self._frontier(start, lst.buf)
            rows = self._slice(start, end, lst.buf)
        if json.dumps(end, sort_keys=True) != json.dumps(
            start, sort_keys=True
        ):
            self._wal.write(start, end, rows)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        if json.dumps(end, sort_keys=True) == json.dumps(
            start, sort_keys=True
        ):
            return iter([])
        rows = self._wal.read(start, end)
        if rows is None:
            # same-process fallback only: NEVER create a listener here
            # (executor workers must not race the runner for the bind)
            with _REGISTRY_LOCK:
                lst = _LISTENERS.get(("alo", self._host, self._port))
            if lst is None:
                raise RuntimeError(
                    f"wally_alo: no WAL entry for batch {start}..{end} "
                    f"under {self._wal.dir} and no in-process listener — "
                    "on a multi-node cluster the 'wal' option must point "
                    "at shared storage (like a checkpointLocation)"
                )
            with lst.lock:
                rows = self._slice(start, end, lst.buf)
        return iter(rows)

    def _slice(self, start: dict, end: dict, buf: dict) -> list:
        rows = []
        for sid_s, hi in end.items():
            lo = int(start.get(sid_s, 0))
            b = buf.get(int(sid_s), {})
            rows.extend(b[mid] for mid in sorted(b) if lo <= mid < int(hi))
        return rows

    def commit(self, end: dict) -> None:
        lst = self._lst()
        with lst.lock:
            for sid_s, por in end.items():
                sid = int(sid_s)
                lst.committed[sid] = max(
                    int(por), lst.committed.get(sid, 0)
                )
                b = lst.buf.get(sid)
                if b:
                    for mid in [m for m in b if m < int(por)]:
                        del b[mid]
            committed = {str(k): v for k, v in lst.committed.items()}
        self._wal.prune(committed)

    def stop(self) -> None:
        if self._listener is not None:
            self._listener.stop()
            with _REGISTRY_LOCK:
                _LISTENERS.pop(("alo", self._host, self._port), None)
            self._listener = None


class WallyALODataSource(DataSource):
    """``readStream.format("wally_alo")`` — at-least-once connector
    wire protocol as a first-class streaming source. Options: host
    (default 127.0.0.1), port (default 7100), cookie, ack_every,
    credits (client in-flight window, default 16)."""

    @classmethod
    def name(cls) -> str:
        return "wally_alo"

    def schema(self) -> str:
        return _SCHEMA

    def simpleStreamReader(self, schema) -> ALOStreamReader:
        return ALOStreamReader(self.options)


class _UDPListener:
    """One bound UDP socket + in-memory datagram buffer, sequenced by
    arrival order; shared per (host, port) in this process."""

    def __init__(self, host: str, port: int, max_dgram: int = 65536):
        self.lock = threading.Lock()
        self.rows: dict[int, tuple] = {}  # seq -> (seq, value)
        self.next_seq = 0
        self._max = max_dgram
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._recv_loop, daemon=True)
        self._thread.start()

    def _recv_loop(self) -> None:
        while not self._stop.is_set():
            try:
                data, _ = self._sock.recvfrom(self._max)
            except OSError:
                return
            with self.lock:
                self.rows[self.next_seq] = (self.next_seq, data)
                self.next_seq += 1

    def fast_forward(self, lo: int) -> None:
        """Re-sequence a fresh listener at the checkpointed position:
        after a driver restart ``next_seq`` restarts at 0 while the
        checkpointed offset is high, so without this the reader would
        hand Spark a non-monotonic end offset and datagrams sequenced
        below the old committed position would be pruned unserved (r12
        advice). Datagrams already buffered (arrived between bind and
        the first post-restart ``read``) are renumbered onto
        ``lo, lo+1, ...`` in arrival order — preserved, not dropped;
        loss remains bounded to the documented at-most-once window
        (datagrams sent while no listener was bound)."""
        with self.lock:
            if self.next_seq >= lo:
                return
            buffered = [self.rows[i] for i in sorted(self.rows)]
            self.rows = {
                lo + j: (lo + j, row[1]) for j, row in enumerate(buffered)
            }
            self.next_seq = lo + len(buffered)

    def stop(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass


class UDPStreamReader(SimpleDataSourceStreamReader):
    """``readStream.format("wally_udp")`` reader: datagrams sequence
    by arrival; offsets are {"seq": next}; in-flight batches journal
    to the shared WAL for executor reads and restart replay. UDP has
    no replay protocol, so delivery is exactly-once WITHIN a query run
    (offsets + WAL) and at-most-once across a listener crash — the
    datagram contract itself (the reference udp_source makes the same
    trade); the spool relay remains the durable-landing alternative."""

    def __init__(self, options: dict):
        self._host = options.get("host", "127.0.0.1")
        self._port = int(options.get("port", "7200"))
        wal_dir = options.get(
            "wal",
            os.path.join(
                tempfile.gettempdir(), f"wally_udp_wal_{self._port}"
            ),
        )
        self._wal = _BatchWal(wal_dir, binary_cols=(1,))
        self._listener: _UDPListener | None = None

    def _lst(self) -> _UDPListener:
        if self._listener is None:
            self._listener = _get_or_create_listener(
                ("udp", self._host, self._port),
                lambda: _UDPListener(self._host, self._port),
            )
        return self._listener

    def initialOffset(self) -> dict:
        self._lst()
        return {"seq": 0}

    def read(self, start: dict):
        lst = self._lst()
        lo = int(start.get("seq", 0))
        lst.fast_forward(lo)  # post-restart: never regress below start
        with lst.lock:
            hi = lst.next_seq
            rows = [lst.rows[i] for i in range(lo, hi) if i in lst.rows]
        end = {"seq": hi}
        if hi > lo:
            self._wal.write(start, end, rows)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = int(start.get("seq", 0)), int(end.get("seq", 0))
        if hi <= lo:
            return iter([])
        rows = self._wal.read(start, end)
        if rows is None:
            with _REGISTRY_LOCK:
                lst = _LISTENERS.get(("udp", self._host, self._port))
            if lst is None:
                raise RuntimeError(
                    f"wally_udp: no WAL entry for batch {start}..{end} "
                    f"under {self._wal.dir} and no in-process listener — "
                    "on a multi-node cluster the 'wal' option must point "
                    "at shared storage (like a checkpointLocation)"
                )
            with lst.lock:
                rows = [
                    lst.rows[i] for i in range(lo, hi) if i in lst.rows
                ]
        return iter(rows)

    def commit(self, end: dict) -> None:
        lst = self._lst()
        hi = int(end.get("seq", 0))
        with lst.lock:
            for i in [i for i in lst.rows if i < hi]:
                del lst.rows[i]
        self._wal.prune({"seq": hi})

    def stop(self) -> None:
        if self._listener is not None:
            self._listener.stop()
            with _REGISTRY_LOCK:
                _LISTENERS.pop(("udp", self._host, self._port), None)
            self._listener = None


class WallyUDPDataSource(DataSource):
    """``readStream.format("wally_udp")`` — the reference udp_source
    connector as a first-class streaming source (no spool). Options:
    host (default 127.0.0.1), port (default 7200), wal."""

    @classmethod
    def name(cls) -> str:
        return "wally_udp"

    def schema(self) -> str:
        return "seq bigint, value binary"

    def simpleStreamReader(self, schema) -> UDPStreamReader:
        return UDPStreamReader(self.options)


class TCPStreamWriter(DataSourceStreamWriter):
    """Per-partition TCP writer: each task opens its own connection,
    no driver funnel (the fan-out face; TCPSink sends a stream's
    micro-batches from the driver). Wire modes as TCPSink's: newline
    JSON (default, encoded here in Python) or ``framed`` raw bytes
    from a binary ``frame`` column (functions/framing.encode_frame,
    the reference's length-prefixed format). Delivery is at-least-once
    under task retry — the reference connector protocol's own
    guarantee; pair with a receiver-side dedup key when exactly-once
    matters."""

    def __init__(self, options: dict):
        self._host = options.get("host", "127.0.0.1")
        self._port = int(options.get("port", "7300"))
        self._framed = str(options.get("framed", "false")).lower() == "true"

    def write(self, iterator) -> WriterCommitMessage:
        import json as _json

        n = 0
        if self._framed:
            chunks = []
            for row in iterator:
                chunks.append(bytes(row["frame"]))
                n += 1
            payload = b"".join(chunks)
        else:
            lines = []
            for row in iterator:
                lines.append(_json.dumps(row.asDict(), default=str) + "\n")
                n += 1
            payload = "".join(lines).encode()
        if payload:
            with socket.create_connection(
                (self._host, self._port), timeout=10
            ) as s:
                s.sendall(payload)
        return WriterCommitMessage()

    def commit(self, messages, batchId) -> None:
        return None

    def abort(self, messages, batchId) -> None:
        return None


class WallyTCPSinkDataSource(DataSource):
    """``writeStream.format("wally_tcp")`` — the TCP sink as a native
    v2 streaming sink. Options: host (default 127.0.0.1), port
    (default 7300), framed (send a pre-encoded binary ``frame``
    column raw instead of newline JSON)."""

    @classmethod
    def name(cls) -> str:
        return "wally_tcp"

    def schema(self) -> str:
        return "value binary"

    def streamWriter(self, schema, overwrite) -> TCPStreamWriter:
        return TCPStreamWriter(self.options)


def register_native(spark) -> None:
    """Register every native Python DataSource face on the session."""
    spark.dataSource.register(WallyALODataSource)
    spark.dataSource.register(WallyUDPDataSource)
    spark.dataSource.register(WallyTCPSinkDataSource)
