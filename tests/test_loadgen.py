"""CI-budget soak of the benchmark's ALO sender (perfbench.loadgen.Sender)
against the native ALO listener: a credit-governed sender must land
every record exactly once at a sane rate. The benchmark itself is
``perfbench/run.py``; this test pins the protocol-level contract so
sender or server regressions surface in CI."""

import time


def _free_port():
    import socket

    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    p = s.getsockname()[1]
    s.close()
    return p


def _send(sender, stream_id, records, size):
    """Announce ``stream_id`` and send ``records`` messages of ``size``
    bytes, stamped with their send time, in slices no larger than the
    credit window."""
    from wally_spark.sources.alo import Message, encode_frame

    sender.notify(stream_id)
    payload = b"x" * size
    mid = 0
    while mid < records:
        n = min(sender.window, records - mid)
        now = time.time_ns()
        sender.send([
            encode_frame(Message(stream_id, m, now, None, payload))
            for m in range(mid, mid + n)
        ])
        mid += n


def test_pipelined_sender_soak_no_loss_no_dup():
    from perfbench.loadgen import Sender

    from wally_spark.sources.native import _ALOListener

    port = _free_port()
    lst = _ALOListener("127.0.0.1", port, "soak", 4, initial_credits=256)
    try:
        sender = Sender(port, "soak")
        t0 = time.perf_counter()
        for sid in (1, 2):
            _send(sender, sid, 10_000, 64)
        sender.wait_acked()
        rate = sender.sent / (time.perf_counter() - t0)
        sender.close()
        assert sender.sent == 20_000
        # exactly once into the landing buffer: per-stream mids dense
        assert set(lst.buf) == {1, 2}
        for sid in (1, 2):
            mids = sorted(lst.buf[sid])
            assert mids == list(range(10_000)), (sid, len(mids))
        # every landed row carries the wire event_time (the sender
        # stamps send-time ns)
        some = lst.buf[1][17]
        assert some[2] > 1_000_000_000  # event_time = real time_ns
        # soak floor: far below any measured run; catches
        # order-of-magnitude breaks
        assert rate > 1_000, rate
        ack_ms = sorted(sender.ack_ms)
        assert ack_ms and ack_ms[int(len(ack_ms) * 0.99) - 1] < 5_000, ack_ms[-5:]
    finally:
        lst.stop()


def test_pipelined_sender_respects_small_credit_window():
    """With a credit window of 8 the run must still complete: every
    send waits for credits for all of its frames, so no slice may
    exceed the window."""
    from perfbench.loadgen import Sender

    from wally_spark.sources.native import _ALOListener

    port = _free_port()
    lst = _ALOListener("127.0.0.1", port, "soak", 4, initial_credits=8)
    try:
        sender = Sender(port, "soak")
        assert sender.window == 8
        _send(sender, 1, 2_000, 32)
        sender.wait_acked()
        sender.close()
        assert sender.sent == 2_000
        assert sorted(lst.buf[1]) == list(range(2_000))
    finally:
        lst.stop()
