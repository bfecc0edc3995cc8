"""Native PySpark 4.1 streaming DataSource face for the ALO protocol
(wally_spark/sources/native.py): the real-socket ALO flow must reach a
streaming DataFrame through ``readStream.format("wally_alo")`` — no
disk spool, no relay thread — with exactly-once rows across client
replay, and the micro-batch source must be the Python DataSource v2
scan."""

import socket
import time

import pytest


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _connect_with_retry(port: int, deadline_s: float = 30.0):
    end = time.time() + deadline_s
    while True:
        try:
            return socket.create_connection(("127.0.0.1", port), timeout=5)
        except OSError:
            if time.time() > end:
                raise
            time.sleep(0.2)


def _push_session(port: int, records, start: int = 0) -> None:
    """Minimal ALO client over a raw socket: handshake, Notify, then
    one Message per record from ``start``, draining replies."""
    from wally_spark.sources.alo import (
        Ack,
        EosMessage,
        Hello,
        Message,
        Notify,
        NotifyAck,
        Ok,
        recv_frame,
        send_frame,
    )

    sock = _connect_with_retry(port)
    try:
        send_frame(sock, Hello("0.0.1", "c", "native", "w"))
        assert isinstance(recv_frame(sock), Ok)
        send_frame(sock, Notify(1, b"1", start))
        nack = recv_frame(sock)
        assert isinstance(nack, NotifyAck) and nack.success
        # the server's resume position wins (committed offset replay)
        pos = max(start, 0)
        for mid in range(pos, len(records)):
            send_frame(sock, Message(1, mid, 0, None, records[mid]))
            assert isinstance(recv_frame(sock), Ack)
        send_frame(sock, EosMessage(1))
        assert isinstance(recv_frame(sock), Ack)
    finally:
        sock.close()


def test_wally_alo_native_stream(spark, tmp_path):
    from wally_spark.sources.native import register_native

    register_native(spark)
    port = _free_port()
    df = (
        spark.readStream.format("wally_alo")
        .option("port", port)
        .option("cookie", "c")
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<stream_id:bigint,message_id:bigint,event_time:bigint,"
        "key:binary,value:binary>"
    )
    query = (
        df.writeStream.format("memory")
        .queryName("alo_native")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        records = [b"r%d" % i for i in range(6)]
        _push_session(port, records)

        def table_rows():
            return sorted(
                (r["stream_id"], r["message_id"], bytes(r["value"]))
                for r in spark.sql("SELECT * FROM alo_native").collect()
            )

        deadline = time.time() + 60
        while len(table_rows()) < 6 and time.time() < deadline:
            time.sleep(0.5)
        assert table_rows() == [(1, i, records[i]) for i in range(6)]

        # client replay from 0 (the at-least-once crash shape): the
        # reader rewinds resume state to Spark's COMMITTED offsets, the
        # buffer dedupes the overlap — the table must never grow
        _push_session(port, records, start=0)
        time.sleep(3)
        assert table_rows() == [(1, i, records[i]) for i in range(6)]

        # the micro-batch source is the Python DataSource v2 scan
        descs = [
            s["description"]
            for p in query.recentProgress
            for s in p["sources"]
        ]
        assert any(
            "PythonMicroBatchStream" in (d or "") for d in descs
        ), descs
    finally:
        query.stop()


def test_wally_alo_native_restart_resumes_from_committed(spark, tmp_path):
    """Query restart from the checkpoint: the source must resume at
    the committed per-stream offset (NotifyAck hands it to the
    reconnecting client), and only post-resume records may reach the
    restarted sink — the exactly-once contract across restarts."""
    from wally_spark.sources.native import register_native

    register_native(spark)
    port = _free_port()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start_query():
        # parquet sink: the fault-tolerant sink shape that supports
        # checkpoint recovery (memory sink does not)
        return (
            spark.readStream.format("wally_alo")
            .option("port", port)
            .option("cookie", "c")
            .option("wal", str(tmp_path / "wal"))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def rows_of():
        try:
            return sorted(
                (r["message_id"], bytes(r["value"]))
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    records = [b"x%d" % i for i in range(10)]
    q1 = start_query()
    try:
        _push_session(port, records[:6])
        deadline = time.time() + 60
        while len(rows_of()) < 6 and time.time() < deadline:
            time.sleep(0.5)
        assert rows_of() == [(i, records[i]) for i in range(6)]
        time.sleep(2)  # let the commit land in the offset/commit log
    finally:
        q1.stop()

    q2 = start_query()
    try:
        # the reconnecting client is told to resume at the committed
        # offset and pushes only the tail
        _push_session(port, records)  # Notify(por=0) -> server says 6
        deadline = time.time() + 60
        while len(rows_of()) < 10 and time.time() < deadline:
            time.sleep(0.5)
        got = rows_of()
        # no duplicates of the committed prefix, the full tail present
        assert got == [(i, records[i]) for i in range(10)], got
    finally:
        q2.stop()


def test_busy_state_stream_stops_cleanly(spark, tmp_path):
    """Stopping a wally_alo -> key_by -> state_computation -> TCPSink
    query while a micro-batch is still running ends the query with no
    exception and releases the ALO port, so a new listener can bind
    it within seconds."""
    import threading

    import pyspark.sql.functions as F

    from wally_spark import api
    from wally_spark.sinks import TCPSink
    from wally_spark.sources import DataFrameSource
    from wally_spark.sources.native import register_native

    class Seen:
        def __init__(self):
            self.n = 0

    @api.state_computation("slow count", Seen, schema="message_id bigint, n bigint")
    def slow_count(ev, state):
        time.sleep(0.05)
        state.n += 1
        return {"message_id": ev.message_id, "n": state.n}

    sink = socket.socket()
    sink.bind(("127.0.0.1", 0))
    sink.listen(8)
    received = threading.Event()
    rows = []

    def serve():
        while True:
            try:
                conn, _ = sink.accept()
            except OSError:
                return
            with conn:
                while chunk := conn.recv(65536):
                    rows.append(chunk.count(b"\n"))
                    received.set()

    threading.Thread(target=serve, daemon=True).start()

    register_native(spark)
    port = _free_port()
    wire = (
        spark.readStream.format("wally_alo")
        .option("port", port)
        .option("cookie", "c")
        .option("wal", str(tmp_path / "wal"))
        .load()
    )
    pipeline = (
        api.source("wire", DataFrameSource("wire", wire))
        .to(api.computation("decode", exprs={
            "message_id": F.col("message_id"),
            "user": F.col("value").cast("string"),
        }))
        .key_by("user")
        .to(slow_count)
        .to_sink(TCPSink("127.0.0.1", sink.getsockname()[1]))
    )
    query = (
        api.build_application("busy", pipeline).run_stream(spark)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    records = [b"u%d" % (i % 5) for i in range(420)]
    try:
        _push_session(port, records[:20])
        assert received.wait(120), "no micro-batch reached the sink"
        _push_session(port, records, start=20)
        busy, deadline = False, time.time() + 60
        while not busy and time.time() < deadline:
            st = query.status
            busy = st["isTriggerActive"] and st["isDataAvailable"]
            time.sleep(0.05)
        assert busy
        time.sleep(0.5)  # into the batch's Python state tasks
    finally:
        query.stop()
        sink.close()
    assert not query.isActive
    assert sum(rows) < len(records)  # stopped before the last batch sent
    assert query.exception() is None
    # the listener lives in the source's Python runner process, which
    # Spark ends on stop without waiting for it to exit
    deadline = time.time() + 10
    while True:
        rebind = socket.socket()
        rebind.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        try:
            rebind.bind(("127.0.0.1", port))
            rebind.listen(1)
            break
        except OSError:
            if time.time() > deadline:
                raise
            time.sleep(0.05)
        finally:
            rebind.close()


def test_wally_udp_native_stream(spark, tmp_path):
    """Native UDP face: datagrams pushed at a real socket arrive as
    (seq, value) rows through readStream.format('wally_udp'), in
    arrival order, exactly once within the run."""
    from wally_spark.sources.native import register_native

    register_native(spark)
    port = _free_port()
    df = (
        spark.readStream.format("wally_udp")
        .option("port", port)
        .option("wal", str(tmp_path / "wal"))
        .load()
    )
    assert df.schema.simpleString() == "struct<seq:bigint,value:binary>"
    query = (
        df.writeStream.format("memory")
        .queryName("udp_native")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # wait for the listener to bind (first batch planning), then push
        time.sleep(2)
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        payloads = [b"dgram-%d" % i for i in range(8)]
        deadline = time.time() + 60

        def rows():
            return sorted(
                (r["seq"], bytes(r["value"]))
                for r in spark.sql("SELECT * FROM udp_native").collect()
            )

        sent = False
        while len(rows()) < 8 and time.time() < deadline:
            if not sent:
                for p in payloads:
                    s.sendto(p, ("127.0.0.1", port))
                sent = True
            time.sleep(0.5)
            # UDP may drop under load: one re-send is part of the test
            # contract only if nothing arrived at all
            if sent and not rows() and time.time() > deadline - 40:
                for p in payloads:
                    s.sendto(p, ("127.0.0.1", port))
        got = rows()
        s.close()
        # arrival-sequenced, no duplicates, payloads intact
        assert [v for _, v in got] == payloads, got
        assert [i for i, _ in got] == list(range(8))
    finally:
        query.stop()


def test_wally_tcp_native_sink(spark, tmp_path):
    """Native v2 TCP sink: micro-batch rows arrive at a real listening
    socket as newline JSON, one connection per partition, no driver
    funnel."""
    import json
    import threading

    from wally_spark.sources.native import register_native

    register_native(spark)
    port = _free_port()
    received, done = [], threading.Event()

    def serve():
        lsock = socket.socket()
        lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        lsock.bind(("127.0.0.1", port))
        lsock.listen(16)
        lsock.settimeout(60)
        buf = b""
        while not done.is_set():
            try:
                conn, _ = lsock.accept()
            except OSError:
                break
            with conn:
                while True:
                    b = conn.recv(65536)
                    if not b:
                        break
                    buf += b
            received.extend(
                json.loads(x) for x in buf.decode().splitlines() if x
            )
            buf = b""
            if {r["value"] for r in received} >= set(range(5)):
                done.set()
        lsock.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    import pyspark.sql.functions as F

    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "50")
        .load()
        .select(F.col("value"))
    )
    query = (
        df.writeStream.format("wally_tcp")
        .option("port", port)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert done.wait(60), f"received only {len(received)} rows"
    finally:
        query.stop()
        done.set()
    vals = {r["value"] for r in received}
    # rate source emits consecutive longs from 0, spread across
    # partitions (one connection each) — the first five must all land
    assert vals >= set(range(5)), sorted(vals)[:10]


def test_udp_listener_fast_forward_after_restart(tmp_path):
    """r12 advice (native.py item 2): after a driver restart the fresh
    listener's next_seq is 0 while the checkpointed offset is high —
    the reader fast-forwards the listener so (a) end offsets never
    regress below start, and (b) datagrams buffered before the first
    post-restart read are renumbered onto the committed frontier, not
    silently pruned."""
    from wally_spark.sources.native import UDPStreamReader, _UDPListener

    port = _free_port()
    lst = _UDPListener("127.0.0.1", port)
    try:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for p in (b"post-restart-0", b"post-restart-1"):
            s.sendto(p, ("127.0.0.1", port))
        s.close()
        deadline = time.time() + 30
        while lst.next_seq < 2 and time.time() < deadline:
            time.sleep(0.1)
        assert lst.next_seq == 2

        # checkpointed start is 10: fast-forward renumbers the buffer
        lst.fast_forward(10)
        assert lst.next_seq == 12
        assert sorted(lst.rows) == [10, 11]
        assert [lst.rows[i] for i in (10, 11)] == [
            (10, b"post-restart-0"),
            (11, b"post-restart-1"),
        ]
        # idempotent / never regresses
        lst.fast_forward(5)
        assert lst.next_seq == 12 and sorted(lst.rows) == [10, 11]

        # the reader path: read(start=10) serves both rows and hands
        # Spark a monotone end offset
        reader = UDPStreamReader(
            {"host": "127.0.0.1", "port": str(port),
             "wal": str(tmp_path / "wal")}
        )
        reader._listener = lst
        rows, end = reader.read({"seq": 10})
        assert end == {"seq": 12}
        assert [r[1] for r in rows] == [b"post-restart-0", b"post-restart-1"]
    finally:
        lst.stop()


def test_alo_native_buffer_lands_event_time_and_key():
    """The native listener's landing buffer carries the wire frame's
    real event_time/key into the advertised schema columns (r12
    advice item 1) — exercised over a real socket session."""
    from wally_spark.sources.alo import (
        Ack,
        EosMessage,
        Hello,
        Message,
        Notify,
        NotifyAck,
        Ok,
        recv_frame,
        send_frame,
    )
    from wally_spark.sources.native import _ALOListener

    port = _free_port()
    lst = _ALOListener("127.0.0.1", port, "c", ack_every=4)
    try:
        sock = _connect_with_retry(port)
        try:
            send_frame(sock, Hello("0.0.1", "c", "native", "w"))
            assert isinstance(recv_frame(sock), Ok)
            send_frame(sock, Notify(1, b"1", 0))
            assert isinstance(recv_frame(sock), NotifyAck)
            send_frame(sock, Message(1, 0, 111, b"k0", b"v0"))
            assert isinstance(recv_frame(sock), Ack)
            send_frame(sock, Message(1, 1, 222, None, b"v1"))
            assert isinstance(recv_frame(sock), Ack)
            send_frame(sock, EosMessage(1))
            assert isinstance(recv_frame(sock), Ack)
        finally:
            sock.close()
        deadline = time.time() + 30
        while len(lst.buf.get(1, {})) < 2 and time.time() < deadline:
            time.sleep(0.1)
        assert lst.buf[1][0] == (1, 0, 111, b"k0", b"v0")
        assert lst.buf[1][1] == (1, 1, 222, None, b"v1")
    finally:
        lst.stop()


def test_alo_listener_waits_for_a_held_port():
    """A listener started while its port is still held — a stopped
    query's source runner process lets go of it a moment later — comes
    up once the port is released, instead of failing on EADDRINUSE."""
    import threading

    from wally_spark.sources.native import _ALOListener

    holder = socket.socket()
    holder.bind(("127.0.0.1", 0))
    holder.listen(1)
    port = holder.getsockname()[1]
    threading.Timer(0.3, holder.close).start()
    lst = _ALOListener("127.0.0.1", port, "held", ack_every=4)
    try:
        _connect_with_retry(port).close()
    finally:
        lst.stop()
