"""The stream_state load generator: its own process, holding an
open-loop ALO sender (one connection, a reader thread for acks) and
the TCP receiver the pipeline's sink writes to.

Open loop: event i of a paced phase is due at ``t0 + i / rate``
whether or not the system keeps up; each event carries its due time
as the ALO ``event_time``, and the pipeline copies it into every
output row, so latency = arrival at the receiver - due time includes
any wait a stall imposes on later events. An unpaced phase stamps the
send time instead. ``late`` records how far behind schedule the
sender itself ran.

The parent drives it through a pipe with (command, kwargs) requests;
see ``Generator``."""

from __future__ import annotations

import multiprocessing as mp
import socket
import threading
import time
from collections import deque

CREDITS = 4096  # the ALO credit window: more than a 20 ms tick at 8k ev/s
ACK_SAMPLE_EVERY = 16
TICK_S = 0.002  # paced sender wakes at most this often


class Receiver:
    """Accepts the sink's connections (one per partition per
    micro-batch) and keeps every chunk with its arrival time; lines
    are parsed only when the parent asks for them."""

    def __init__(self):
        self.lock = threading.Lock()
        self.chunks: list[tuple[int, bytes]] = []
        self.rows = 0
        self.bytes = 0
        self.connections = 0
        self._tails: dict[int, bytes] = {}
        self._sock = socket.socket()
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(64)
        self.port = self._sock.getsockname()[1]
        self._threads: list[threading.Thread] = []
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            with self.lock:
                self.connections += 1
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()

    def _serve(self, conn: socket.socket) -> None:
        tail = b""
        with conn:
            while True:
                try:
                    data = conn.recv(1 << 16)
                except OSError:
                    data = b""
                if not data:
                    break
                now = time.time_ns()
                data = tail + data
                cut = data.rfind(b"\n") + 1
                tail = data[cut:]
                if cut:
                    with self.lock:
                        self.chunks.append((now, data[:cut]))
                        self.rows += data.count(b"\n", 0, cut)
                        self.bytes += cut

    def take(self) -> list[tuple[int, bytes]]:
        with self.lock:
            out, self.chunks = self.chunks, []
        return out

    def close(self) -> None:
        self._sock.close()


class Sender:
    """One ALO connection with a reader thread that returns credits and
    samples per-message ack latency."""

    def __init__(self, port: int, cookie: str):
        from wally_spark.sources.alo import Hello, Ok, recv_frame, send_frame

        self._recv = recv_frame
        deadline = time.time() + 60
        while True:
            try:
                self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
                break
            except OSError:
                if time.time() > deadline:
                    raise
                time.sleep(0.05)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        send_frame(self.sock, Hello("0.0.1", cookie, "perfbench", "loadgen"))
        ok = recv_frame(self.sock)
        if not isinstance(ok, Ok):
            raise ConnectionError(f"ALO handshake rejected: {ok!r}")
        self.cond = threading.Condition()
        self.credits = self.window = ok.initial_credits
        self.acked = 0
        self.notified: set[int] = set()
        self.pending: deque = deque()  # (index, send_ns) of sampled messages
        self.sent = 0
        self.ack_ms: list[float] = []
        self.error: BaseException | None = None
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        from wally_spark.sources.alo import Ack, Error, NotifyAck

        try:
            while True:
                frame = self._recv(self.sock)
                if frame is None:
                    return
                now = time.time_ns()
                with self.cond:
                    if isinstance(frame, NotifyAck):
                        self.notified.add(frame.stream_id)
                    elif isinstance(frame, Ack):
                        self.credits += frame.credits
                        self.acked += frame.credits
                        while self.pending and self.pending[0][0] < self.acked:
                            _, ts = self.pending.popleft()
                            self.ack_ms.append((now - ts) / 1e6)
                    elif isinstance(frame, Error):
                        raise ConnectionError(frame.message)
                    self.cond.notify_all()
        except (OSError, ConnectionError) as e:
            with self.cond:
                self.error = e
                self.cond.notify_all()

    def notify(self, stream_id: int) -> None:
        from wally_spark.sources.alo import Notify, send_frame

        send_frame(self.sock, Notify(stream_id, b"%d" % stream_id, 0))
        with self.cond:
            if not self.cond.wait_for(
                lambda: stream_id in self.notified or self.error, timeout=60
            ) or self.error:
                raise ConnectionError(f"no NotifyAck for stream {stream_id}: {self.error}")

    def send(self, frames: list[bytes]) -> float:
        """Send ``frames`` once credits allow; returns seconds spent
        waiting for credits."""
        waited = 0.0
        with self.cond:
            if self.credits < len(frames):
                t = time.perf_counter()
                if not self.cond.wait_for(
                    lambda: self.credits >= len(frames) or self.error, timeout=120
                ):
                    raise TimeoutError("ALO credit starvation")
                waited = time.perf_counter() - t
            if self.error:
                raise ConnectionError(str(self.error))
            self.credits -= len(frames)
            now = time.time_ns()
            for i in range(self.sent, self.sent + len(frames)):
                if i % ACK_SAMPLE_EVERY == 0:
                    self.pending.append((i, now))
            self.sent += len(frames)
        self.sock.sendall(b"".join(frames))
        return waited

    def wait_acked(self, timeout: float = 120) -> None:
        with self.cond:
            if not self.cond.wait_for(
                lambda: self.acked >= self.sent or self.error, timeout=timeout
            ) or self.error:
                raise TimeoutError(f"ALO acks incomplete: {self.error}")

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self._reader.join(timeout=10)


def _phase(state: dict, port: int, cookie: str, stream_id: int,
           payloads: list[bytes], rate: float) -> dict:
    from wally_spark.sources.alo import Message, encode_frame

    snd = state.get("sender")
    if snd is None or state.get("port") != port:
        if snd is not None:
            snd.close()
        snd = state["sender"] = Sender(port, cookie)
        state["port"] = port
    snd.notify(stream_id)
    rcv: Receiver = state["receiver"]
    n = len(payloads)
    late_ms: list[float] = []
    credit_wait = 0.0
    backlog_max = 0
    rows0, sent0 = rcv.rows, snd.sent
    t0 = time.time_ns()
    i = 0
    while i < n:
        now = time.time_ns()
        if rate > 0:
            due_upto = min(n, int((now - t0) * rate / 1e9) + 1)
            if due_upto <= i:
                next_due = t0 + int(i * 1e9 / rate)
                time.sleep(max(0.0, min(TICK_S, (next_due - now) / 1e9)))
                continue
        else:
            due_upto = min(n, i + 256)
        # a send waits for credits for all its frames: never ask for more
        # than the whole window, even when the sender fell behind
        due_upto = min(due_upto, i + snd.window)
        frames = []
        for j in range(i, due_upto):
            due = t0 + int(j * 1e9 / rate) if rate > 0 else now
            frames.append(encode_frame(Message(stream_id, j, due, None, payloads[j])))
            if rate > 0:
                late_ms.append((now - due) / 1e6)
        credit_wait += snd.send(frames)
        i = due_upto
        backlog_max = max(backlog_max, (snd.sent - sent0) - (rcv.rows - rows0))
    send_s = (time.time_ns() - t0) / 1e9
    snd.wait_acked()
    return {"t0_ns": t0, "send_s": send_s, "late_ms": late_ms,
            "credit_wait_s": credit_wait, "backlog_max": backlog_max}


def _wait_rows(state: dict, rows: int, timeout: float) -> dict:
    """Wait until the receiver holds ``rows`` rows in total, sampling
    the backlog (rows sent - rows received) meanwhile."""
    rcv: Receiver = state["receiver"]
    snd = state.get("sender")
    deadline = time.time() + timeout
    backlog_max = 0
    while rcv.rows < rows and time.time() < deadline:
        if snd is not None:
            backlog_max = max(backlog_max, rows - rcv.rows)
        time.sleep(0.005)
    return {"rows": rcv.rows, "backlog_max": backlog_max}


def _serve(conn) -> None:
    state = {"receiver": Receiver()}
    conn.send(("ready", state["receiver"].port))
    try:
        while True:
            cmd, kw = conn.recv()
            try:
                if cmd == "stop":
                    break
                if cmd == "phase":
                    out = _phase(state, **kw)
                elif cmd == "wait_rows":
                    out = _wait_rows(state, **kw)
                elif cmd == "take":
                    out = state["receiver"].take()
                elif cmd == "sender_stats":
                    snd = state.get("sender")
                    out = {"ack_ms": list(snd.ack_ms) if snd else []}
                    if snd:
                        snd.ack_ms.clear()
                elif cmd == "sink_stats":
                    r = state["receiver"]
                    out = {"rows": r.rows, "bytes": r.bytes,
                           "connections": r.connections}
                else:
                    raise ValueError(f"unknown command {cmd}")
                conn.send(("ok", out))
            except Exception as e:  # report to the parent, keep serving
                conn.send(("error", f"{type(e).__name__}: {e}"))
    finally:
        if state.get("sender"):
            state["sender"].close()
        state["receiver"].close()
        conn.send(("stopped", None))


class Generator:
    """Parent-side handle on the generator process."""

    def __init__(self):
        ctx = mp.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child,), daemon=True)
        self._proc.start()
        tag, self.sink_port = self._conn.recv()
        assert tag == "ready"

    def call(self, cmd: str, **kw):
        self._conn.send((cmd, kw))
        tag, out = self._conn.recv()
        if tag != "ok":
            raise RuntimeError(f"load generator {cmd} failed: {out}")
        return out

    def close(self) -> None:
        if self._proc.is_alive():
            try:
                self._conn.send(("stop", {}))
                if self._conn.poll(10):
                    self._conn.recv()
            except (OSError, EOFError):
                pass
        self._proc.join(timeout=10)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join(timeout=5)
