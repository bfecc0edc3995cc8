"""giles-style load generator / receiving sink for the wally_spark
connector surface.

The reference soaks every example app with a wire load generator
(giles/sender/giles-sender.pony — configurable message count/size/
batching over the framed TCP protocol) and a receiving sink
(utils/data_receiver/data_receiver.pony — counts and timestamps what
the engine emits). This module is the Spark-side analogue for the
native source/sink faces in wally_spark/sources/native.py:

  send  — PIPELINED ALO sender: Hello/Ok, Notify per stream, then
          credit-governed Messages with a reader thread draining Acks
          (the lock-step ALOClient in sources/alo.py is the
          correctness face; this one measures throughput). Reports
          send msgs/s + per-message ack latency (p50/p99).
  recv  — data_receiver analogue: accepts TCP connections and counts
          newline-JSON rows pushed by writeStream.format("wally_tcp"),
          sampling end-to-end latency from an embedded send timestamp.
  udp   — datagram sender at a configurable rate.

Server-side modes for `send` (the native-vs-spool crossover the
module docstrings assert — MEASURE it here):

  --server buffer  bare native listener (_ALOListener): protocol +
                   landing cost only, no Spark in the loop.
  --server spool   ALOIngestServer landing into a SpoolRelay dir
                   (base64 line files) — the relay path's ingest side.
  --server spark   full readStream.format("wally_alo") micro-batch
                   pipeline into a foreachBatch counter: end-to-end
                   rows/s + micro-batch latency from the embedded
                   send timestamp (first 8 payload bytes, big-endian
                   time_ns).

Every run prints ONE json line, bench.py-style.

Usage:
  python tools/loadgen.py send --records 200000 --size 64 --streams 4 \
      --server buffer --credits 1024
  python tools/loadgen.py send --records 50000 --server spark
  python tools/loadgen.py tcp-sink --rows-per-second 50000 --seconds 8
  python tools/loadgen.py udp --records 50000 --rate 0 --server spark
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import struct
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _pct(samples: list, q: float) -> float:
    if not samples:
        return 0.0
    xs = sorted(samples)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


# ---------------------------------------------------------------------------
# pipelined ALO sender
# ---------------------------------------------------------------------------


class PipelinedALOSender:
    """Credit-governed pipelined sender: a writer loop coalesces up to
    ``coalesce`` frames per sendall while a reader thread drains Acks,
    replenishing the credit semaphore and matching ack order to send
    order (the server answers every frame with exactly one Ack over
    ordered TCP, so the i-th Ack credits the i-th Message) for
    per-message latency without per-frame timestamps on the wire.

    Payload layout: 8 bytes big-endian time_ns + zero padding to
    ``size`` — the embedded send timestamp every receiver mode uses
    for end-to-end latency.
    """

    def __init__(
        self,
        port: int,
        cookie: str,
        records: int,
        size: int = 64,
        streams: int = 1,
        rate: float = 0.0,
        coalesce: int = 64,
        latency_sample_every: int = 37,
        host: str = "127.0.0.1",
    ):
        from wally_spark.sources.alo import Hello, Ok, recv_frame, send_frame

        self.host, self.port, self.cookie = host, port, cookie
        self.records, self.size = records, max(size, 8)
        self.streams, self.rate, self.coalesce = streams, rate, coalesce
        self.sample_every = latency_sample_every
        self.latencies_ns: list[int] = []
        self.sent = 0
        self._send_ts: list = []  # deque-ish; reader pops from front
        self._ts_lock = threading.Lock()
        self._recv_frame, self._send_frame = recv_frame, send_frame
        self._Hello, self._Ok = Hello, Ok

    def run(self) -> dict:
        from wally_spark.sources.alo import (
            Ack,
            EosMessage,
            Message,
            Notify,
            NotifyAck,
            encode_frame,
        )

        sock = socket.create_connection((self.host, self.port), timeout=30)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        try:
            self._send_frame(sock, self._Hello("0.0.1", self.cookie, "loadgen", "w"))
            ok = self._recv_frame(sock)
            if not isinstance(ok, self._Ok):
                raise ConnectionError(f"handshake rejected: {ok}")
            credits = threading.Semaphore(ok.initial_credits)
            done = threading.Event()
            notify_acked = threading.Semaphore(0)
            eos_acked = threading.Semaphore(0)
            from collections import deque

            pending_ts: deque = deque()

            def reader():
                while not done.is_set():
                    try:
                        frame = self._recv_frame(sock)
                    except OSError:
                        return
                    if frame is None:
                        return
                    if isinstance(frame, NotifyAck):
                        notify_acked.release()
                    elif isinstance(frame, Ack):
                        now = time.time_ns()
                        for _ in range(frame.credits):
                            credits.release()
                            with self._ts_lock:
                                if pending_ts:
                                    i, ts = pending_ts.popleft()
                                    if i % self.sample_every == 0:
                                        self.latencies_ns.append(now - ts)
                        if frame.credits == 0:  # EOS final ack
                            eos_acked.release()

            rt = threading.Thread(target=reader, daemon=True)
            rt.start()

            for s in range(self.streams):
                self._send_frame(
                    sock, Notify(s + 1, b"%d" % (s + 1), 0)
                )
            for _ in range(self.streams):
                if not notify_acked.acquire(timeout=30):
                    raise TimeoutError("notify ack")

            pad = b"\x00" * (self.size - 8)
            per_stream = self.records // self.streams
            total = per_stream * self.streams
            t0 = time.time_ns()
            next_due = t0
            interval_ns = int(1e9 / self.rate) if self.rate > 0 else 0
            buf = bytearray()
            n_buf = 0
            i = 0
            for mid in range(per_stream):
                for s in range(self.streams):
                    if not credits.acquire(blocking=False):
                        # out of credits: flush buffered frames FIRST
                        # (the server replenishes per processed
                        # message — blocking with unsent frames in the
                        # coalesce buffer deadlocks on small windows)
                        if buf:
                            sock.sendall(buf)
                            buf.clear()
                            n_buf = 0
                        if not credits.acquire(timeout=60):
                            raise TimeoutError("credit starvation")
                    if interval_ns:
                        next_due += interval_ns
                        delay = next_due - time.time_ns()
                        if delay > 0:
                            if buf:
                                sock.sendall(buf)
                                buf.clear()
                                n_buf = 0
                            time.sleep(delay / 1e9)
                    ts = time.time_ns()
                    with self._ts_lock:
                        pending_ts.append((i, ts))
                    payload = struct.pack(">q", ts) + pad
                    buf += encode_frame(
                        Message(s + 1, mid, ts, None, payload)
                    )
                    n_buf += 1
                    i += 1
                    if n_buf >= self.coalesce:
                        sock.sendall(buf)
                        buf.clear()
                        n_buf = 0
            if buf:
                sock.sendall(buf)
            for s in range(self.streams):
                self._send_frame(sock, EosMessage(s + 1))
            for _ in range(self.streams):
                if not eos_acked.acquire(timeout=60):
                    raise TimeoutError("eos ack")
            t1 = time.time_ns()
            done.set()
            self.sent = total
            wall = (t1 - t0) / 1e9
            lat_ms = [x / 1e6 for x in self.latencies_ns]
            return {
                "sent": total,
                "wall_s": round(wall, 4),
                "send_msgs_per_s": round(total / wall, 1) if wall else 0.0,
                "ack_p50_ms": round(_pct(lat_ms, 0.50), 3),
                "ack_p99_ms": round(_pct(lat_ms, 0.99), 3),
            }
        finally:
            try:
                sock.close()
            except OSError:
                pass


# ---------------------------------------------------------------------------
# server-side modes
# ---------------------------------------------------------------------------


class ALOSpoolServer:
    """ALOIngestServer landing into a SpoolRelay directory — the
    relay-path ingest side, for the native-vs-spool measurement."""

    def __init__(
        self, port: int, cookie: str, spool_dir: str, credits: int = 1024
    ):
        from wally_spark.sources.alo import ALOIngestServer
        from wally_spark.sources.relay import SpoolRelay

        self.relay = SpoolRelay(
            spool_dir, encoding="base64", interval=0.05
        ).start()
        self.count = 0
        self._lock = threading.Lock()

        def land(sid, mid, payload, et, key):
            self.relay.push(payload or b"")
            with self._lock:
                self.count += 1

        self.server = ALOIngestServer(
            cookie=cookie, land=land, initial_credits=credits
        )
        self._lsock = socket.socket()
        self._lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._lsock.bind(("127.0.0.1", port))
        self._lsock.listen(8)
        self._stop = threading.Event()
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._lsock.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn) -> None:
        try:
            self.server.serve_connection(conn)
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def stop(self) -> None:
        self._stop.set()
        try:
            self._lsock.close()
        except OSError:
            pass
        self.relay.stop()


class ForeachBatchCounter:
    """foreachBatch sink: counts rows and samples end-to-end latency
    from the embedded big-endian time_ns prefix of ``value``."""

    def __init__(self, value_col: str = "value"):
        self.value_col = value_col
        self.rows = 0
        self.batches = 0
        self.lat_ms: list[float] = []
        self._lock = threading.Lock()

    def __call__(self, batch_df, batch_id) -> None:
        import pyspark.sql.functions as F

        arrival = time.time_ns()
        agg = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(
                F.conv(
                    F.hex(F.substring(self.value_col, 1, 8)), 16, 10
                ).cast("decimal(38,0)")
            ).alias("send_ns"),
        ).collect()[0]
        with self._lock:
            self.rows += agg["n"]
            self.batches += 1
            if agg["n"] and agg["send_ns"] is not None:
                self.lat_ms.append((arrival - int(agg["send_ns"])) / 1e6)


def _spark_session():
    from wally_spark.session import get_spark

    return get_spark("wally-loadgen")


# ---------------------------------------------------------------------------
# TCP receiving sink (data_receiver analogue)
# ---------------------------------------------------------------------------


class TCPReceiver:
    """Accepts connections from wally_tcp writer tasks and counts
    newline-JSON rows; every ``sample_every``-th row is parsed for its
    ``send_ns`` field to sample end-to-end latency."""

    def __init__(self, port: int, sample_every: int = 97):
        self.count = 0
        self.lat_ms: list[float] = []
        self.sample_every = sample_every
        self._lock = threading.Lock()
        self._lsock = socket.socket()
        self._lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._lsock.bind(("127.0.0.1", port))
        self._lsock.listen(64)
        self._stop = threading.Event()
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._lsock.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn) -> None:
        tail = b""
        try:
            while True:
                chunk = conn.recv(1 << 16)
                if not chunk:
                    return
                data = tail + chunk
                lines = data.split(b"\n")
                tail = lines.pop()
                now = time.time_ns()
                samples = []
                with self._lock:
                    for ln in lines:
                        self.count += 1
                        if self.count % self.sample_every == 0:
                            samples.append(ln)
                for ln in samples:
                    try:
                        send_ns = json.loads(ln)["send_ns"]
                        with self._lock:
                            self.lat_ms.append((now - int(send_ns)) / 1e6)
                    except (ValueError, KeyError):
                        pass
        except OSError:
            return
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def stop(self) -> None:
        self._stop.set()
        try:
            self._lsock.close()
        except OSError:
            pass


# ---------------------------------------------------------------------------
# runners
# ---------------------------------------------------------------------------


def run_send(args) -> dict:
    port = args.port or _free_port()
    cookie = "loadgen"
    result: dict = {
        "mode": f"alo_{args.server}",
        "records": args.records,
        "size": args.size,
        "streams": args.streams,
        "credits": args.credits,
        "rate": args.rate,
    }

    def sender_stats():
        sender = PipelinedALOSender(
            port,
            cookie,
            args.records,
            size=args.size,
            streams=args.streams,
            rate=args.rate,
        )
        return sender.run()

    if args.server == "buffer":
        from wally_spark.sources.native import _ALOListener

        lst = _ALOListener(
            "127.0.0.1", port, cookie, 4, initial_credits=args.credits
        )
        try:
            result.update(sender_stats())
            landed = sum(len(b) for b in lst.buf.values())
            result["landed"] = landed
            result["lost"] = result["sent"] - landed
        finally:
            lst.stop()
    elif args.server == "spool":
        spool = tempfile.mkdtemp(prefix="loadgen_spool_")
        srv = ALOSpoolServer(port, cookie, spool, credits=args.credits)
        try:
            result.update(sender_stats())
            srv.relay.flush()
            result["landed"] = srv.count
            result["lost"] = result["sent"] - srv.count
        finally:
            srv.stop()
    elif args.server in ("spark", "spark_spool"):
        spark = _spark_session()
        counter = ForeachBatchCounter()
        ckpt = tempfile.mkdtemp(prefix="loadgen_ckpt_")
        if args.server == "spark":
            from wally_spark.sources.native import register_native

            register_native(spark)
            df = (
                spark.readStream.format("wally_alo")
                .option("port", port)
                .option("cookie", cookie)
                .option("credits", args.credits)
                .load()
            )
            srv = None
        else:
            from wally_spark.sources.relay import _spool_stream

            spool = tempfile.mkdtemp(prefix="loadgen_spool_")
            srv = ALOSpoolServer(port, cookie, spool, credits=args.credits)
            df = _spool_stream(spark, spool, "base64")
        query = (
            df.writeStream.foreachBatch(counter)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            time.sleep(3)  # listener binds on first batch planning
            t0 = time.time_ns()
            result.update(sender_stats())
            deadline = time.time() + max(60, args.records / 2000)
            while counter.rows < result["sent"] and time.time() < deadline:
                time.sleep(0.25)
            t1 = time.time_ns()
            e2e_wall = (t1 - t0) / 1e9
            result["landed"] = counter.rows
            result["lost"] = result["sent"] - counter.rows
            result["batches"] = counter.batches
            result["e2e_rows_per_s"] = (
                round(counter.rows / e2e_wall, 1) if e2e_wall else 0.0
            )
            result["e2e_p50_ms"] = round(_pct(counter.lat_ms, 0.50), 1)
            result["e2e_p99_ms"] = round(_pct(counter.lat_ms, 0.99), 1)
        finally:
            query.stop()
            if srv is not None:
                srv.stop()
    else:
        raise SystemExit(f"unknown --server {args.server}")
    return result


def _wait_udp_bound(port: int, timeout: float = 60.0) -> None:
    """Block until a UDP socket is bound on ``port`` (/proc/net/udp
    scan, Linux). The wally_udp source binds lazily at first batch
    planning, so a sender must not start before this returns."""
    want = f":{port:04X}"
    deadline = time.time() + timeout
    while time.time() < deadline:
        for p in ("/proc/net/udp", "/proc/net/udp6"):
            try:
                with open(p) as f:
                    if any(want in ln.split()[1] for ln in f.readlines()[1:]):
                        return
            except OSError:
                continue
        time.sleep(0.2)
    raise TimeoutError(f"no UDP listener bound on {port} within {timeout}s")


def run_udp(args) -> dict:
    port = args.port or _free_port()
    result: dict = {
        "mode": f"udp_{args.server}",
        "records": args.records,
        "size": args.size,
        "rate": args.rate,
    }

    def send_all():
        pad = b"\x00" * (max(args.size, 8) - 8)
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        interval_ns = int(1e9 / args.rate) if args.rate > 0 else 0
        t0 = time.time_ns()
        next_due = t0
        for _ in range(args.records):
            if interval_ns:
                next_due += interval_ns
                delay = next_due - time.time_ns()
                if delay > 0:
                    time.sleep(delay / 1e9)
            s.sendto(struct.pack(">q", time.time_ns()) + pad, ("127.0.0.1", port))
        s.close()
        wall = (time.time_ns() - t0) / 1e9
        return {
            "sent": args.records,
            "wall_s": round(wall, 4),
            "send_msgs_per_s": round(args.records / wall, 1) if wall else 0.0,
        }

    if args.server == "buffer":
        from wally_spark.sources.native import _UDPListener

        lst = _UDPListener("127.0.0.1", port)
        try:
            result.update(send_all())
            time.sleep(1.0)
            result["landed"] = lst.next_seq
            result["lost"] = args.records - lst.next_seq
        finally:
            lst.stop()
    elif args.server == "spark":
        from wally_spark.sources.native import register_native

        spark = _spark_session()
        register_native(spark)
        counter = ForeachBatchCounter()
        ckpt = tempfile.mkdtemp(prefix="loadgen_ckpt_")
        query = (
            spark.readStream.format("wally_udp")
            .option("port", port)
            .load()
            .writeStream.foreachBatch(counter)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            # UDP is fire-and-forget: unlike the ALO sender (whose
            # Hello/Ok handshake blocks until the listener accepts),
            # nothing synchronizes the blast with the source's lazy
            # bind at first batch planning — a fixed sleep raced it
            # and measured 100% loss on a slow host. Wait for the
            # socket to actually appear.
            _wait_udp_bound(port, timeout=60.0)
            t0 = time.time_ns()
            result.update(send_all())
            deadline = time.time() + 60
            # UDP is lossy by contract: stop waiting when counts settle.
            # Don't start settle-counting at zero — the FIRST micro-batch
            # (planning + WAL journal) can take several seconds on a slow
            # host, and bailing on 4 s of stable-zero reported 100% loss
            # for rows that were sitting in the listener buffer.
            last, settle = -1, 0
            while time.time() < deadline and settle < 8:
                if counter.rows == last and counter.rows > 0:
                    settle += 1
                elif counter.rows != last:
                    settle, last = 0, counter.rows
                time.sleep(0.5)
            wall = (time.time_ns() - t0) / 1e9
            result["landed"] = counter.rows
            result["lost"] = args.records - counter.rows
            result["e2e_rows_per_s"] = round(counter.rows / wall, 1)
            result["e2e_p50_ms"] = round(_pct(counter.lat_ms, 0.50), 1)
            result["e2e_p99_ms"] = round(_pct(counter.lat_ms, 0.99), 1)
        finally:
            query.stop()
    else:
        raise SystemExit(f"unknown --server {args.server}")
    return result


def run_tcp_sink(args) -> dict:
    import pyspark.sql.functions as F

    from wally_spark.sources.native import register_native

    port = args.port or _free_port()
    recv = TCPReceiver(port)
    spark = _spark_session()
    register_native(spark)
    ckpt = tempfile.mkdtemp(prefix="loadgen_ckpt_")
    # rate source -> JSON rows with a send timestamp; the sink's task
    # opens its own connection per partition (no driver funnel)
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", args.rows_per_second)
        .option("numPartitions", args.partitions)
        .load()
        .select(
            F.col("value").alias("n"),
            (F.unix_micros(F.col("timestamp")) * 1000).alias("send_ns"),
        )
    )
    query = (
        df.writeStream.format("wally_tcp")
        .option("host", "127.0.0.1")
        .option("port", port)
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.time_ns()
    try:
        time.sleep(args.seconds)
    finally:
        query.stop()
        time.sleep(1.0)
        recv.stop()
    wall = (time.time_ns() - t0) / 1e9
    return {
        "mode": "tcp_sink",
        "rows_per_second_target": args.rows_per_second,
        "seconds": args.seconds,
        "partitions": args.partitions,
        "received": recv.count,
        "recv_rows_per_s": round(recv.count / wall, 1),
        "e2e_p50_ms": round(_pct(recv.lat_ms, 0.50), 1),
        "e2e_p99_ms": round(_pct(recv.lat_ms, 0.99), 1),
    }


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("send", help="pipelined ALO sender")
    p.add_argument("--records", type=int, default=100_000)
    p.add_argument("--size", type=int, default=64)
    p.add_argument("--streams", type=int, default=1)
    p.add_argument("--rate", type=float, default=0.0, help="msgs/s, 0=max")
    p.add_argument("--credits", type=int, default=1024)
    p.add_argument(
        "--server",
        default="buffer",
        choices=["buffer", "spool", "spark", "spark_spool"],
    )
    p.add_argument("--port", type=int, default=0)

    p = sub.add_parser("udp", help="datagram sender")
    p.add_argument("--records", type=int, default=50_000)
    p.add_argument("--size", type=int, default=64)
    p.add_argument("--rate", type=float, default=0.0)
    p.add_argument("--server", default="buffer", choices=["buffer", "spark"])
    p.add_argument("--port", type=int, default=0)

    p = sub.add_parser("tcp-sink", help="rate source -> wally_tcp -> receiver")
    p.add_argument("--rows-per-second", type=int, default=20_000)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--partitions", type=int, default=4)
    p.add_argument("--port", type=int, default=0)

    args = ap.parse_args(argv)
    if args.cmd == "send":
        out = run_send(args)
    elif args.cmd == "udp":
        out = run_udp(args)
    else:
        out = run_tcp_sink(args)
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
