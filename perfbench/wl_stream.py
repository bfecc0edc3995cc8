"""stream_state: open-loop ALO wire -> decode exprs -> key_by(user)
-> python state_computation (running total + alert, one output per
event) -> TCPSink -> receiver in the load generator process.

Each set-up starts a fresh query and waits for its warm-up events to
come back correct. The last set-up's query then runs an unpaced phase
of a fixed event count (throughput and wall time), then a paced phase
at a fixed rate (latency). Every measured
phase starts once the query is idle, so how its events split into
micro-batches does not hang on where the previous phase's last batch
was. Every phase sends on its own ALO stream id, so no measured event
can be dropped as a replay of an already-committed (stream, message)
id."""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F

from perfbench import gen
from perfbench.common import (ENGINE_CPUS, SETUPS, free_port, median, percentile,
                              start_session, work_dir)
from perfbench.loadgen import CREDITS, Generator
from perfbench.reference import ALERT_TOTAL, check_stream_rows, running_totals
from wally_spark import api

COOKIE = "perfbench"
WARM_EVENTS = 200
# paced rate: well under the unpaced throughput_eps (~1.3k ev/s on 3
# of 4 cores), so the paced phase measures latency without a growing
# backlog; that latency is mostly the fixed cost of a micro-batch, and
# lower rates spread less from run to run
RATE = 800
# the paced phase sends for the run's seconds; latency counts only
# events due after the first LEAD_S, once the query left its idle state
LEAD_S = 1.0
# an unpaced phase from idle runs as two micro-batches: the first
# events alone, then the rest, so one phase already spreads little.
# The run's time goes to the paced phase, whose latency needs many
# micro-batches.
UNPACED_EVENTS = 10_000
STREAM_WARM, STREAM_PACED, STREAM_UNPACED, STREAM_TRACED = 1, 2, 3, 4
ID_STRIDE = 1_000_000_000  # event_id = stream_id * ID_STRIDE + message_id


class UserTotal:
    def __init__(self):
        self.total = 0


@api.state_computation(
    "running total alert",
    UserTotal,
    schema="event_id bigint, user string, amount bigint, total bigint,"
    " due_ns bigint, alert boolean",
)
def running_total(ev, state):
    state.total += ev.amount
    return {
        "event_id": ev.event_id,
        "user": ev.user,
        "amount": ev.amount,
        "total": state.total,
        "due_ns": ev.due_ns,
        "alert": state.total > ALERT_TOTAL,
    }


def _decode():
    parts = F.split(F.col("value").cast("string"), ",")
    return api.computation("decode", exprs={
        "event_id": F.col("stream_id") * ID_STRIDE + F.col("message_id"),
        "user": parts.getItem(0),
        "amount": parts.getItem(1).cast("long"),
        "due_ns": F.col("event_time"),
    })


def _start_query(spark, tracer, sink_port: int, tag: str):
    """Compile and start the pipeline; returns (query, ALO port)."""
    from wally_spark.sinks import TCPSink
    from wally_spark.sources import DataFrameSource
    from wally_spark.sources.native import register_native

    port = free_port()
    with tracer.span("api.compile"):
        register_native(spark)
        wire = (
            spark.readStream.format("wally_alo")
            .option("port", port)
            .option("cookie", COOKIE)
            .option("credits", CREDITS)
            .option("wal", work_dir(f"alo-wal-{tag}"))
            .load()
        )
        pipeline = (
            api.source("wire", DataFrameSource("wire", wire))
            .to(_decode())
            .key_by("user")
            .to(running_total)
            .to_sink(TCPSink("127.0.0.1", sink_port))
        )
        writer = api.build_application("stream_state", pipeline).run_stream(spark)
    query = writer.option("checkpointLocation", work_dir(f"ckpt-{tag}")).start()
    return query, port


class _Phase:
    """One sender phase: its events, and what came back."""

    def __init__(self, seed: int, tag: str, n: int, stream_id: int):
        users, amounts = gen.stream_events(seed, tag, n)
        self.n = n
        self.stream_id = stream_id
        self.events = list(zip(
            range(stream_id * ID_STRIDE, stream_id * ID_STRIDE + n),
            users.tolist(), amounts.tolist()))
        self.payloads = gen.stream_payloads(users, amounts)
        self.rows: list[dict] = []
        self.stats: dict = {}

    def run(self, g: Generator, tracer, port: int, rate: float, rows_before: int) -> int:
        """Send, wait for every output row; returns the receiver's
        row total afterwards."""
        with tracer.span(f"sources.send.{self.stream_id}"):
            self.stats = g.call("phase", port=port, cookie=COOKIE,
                                stream_id=self.stream_id,
                                payloads=self.payloads, rate=rate)
        with tracer.span(f"sinks.drain.{self.stream_id}"):
            w = g.call("wait_rows", rows=rows_before + self.n, timeout=150)
        self.stats["backlog_max"] = max(self.stats["backlog_max"], w["backlog_max"])
        for arrival, blob in g.call("take"):
            for line in blob.splitlines():
                r = json.loads(line)
                r["arrival_ns"] = arrival
                self.rows.append(r)
        return w["rows"]

    def wall_s(self) -> float:
        last = max((r["arrival_ns"] for r in self.rows), default=self.stats["t0_ns"])
        return (last - self.stats["t0_ns"]) / 1e9


def _settle(query, timeout: float = 30.0) -> None:
    """Wait until the query has no micro-batch running and no data
    waiting, three polls in a row."""
    deadline = time.time() + timeout
    idle = 0
    while idle < 3 and time.time() < deadline:
        st = query.status
        idle = idle + 1 if not (st["isTriggerActive"] or st["isDataAvailable"]) else 0
        time.sleep(0.05)


def run(seed: int, seconds: float, tracer, t_proc: float, cpus=ENGINE_CPUS,
        setups: int = SETUPS, paced: bool = True, overhead: bool = False) -> dict:
    from wally_spark.streaming.metrics import MetricsListener

    g = Generator()
    query = None
    listener = MetricsListener()
    setup_s, failed, attempted, received = [], 0, 0, 0
    try:
        spark = start_session(tracer, cpus)
        if tracer.enabled:
            spark.streams.addListener(listener)
        for k in range(setups):
            t0 = t_proc if k == 0 else time.time()
            if query is not None:
                query.stop()
            query, port = _start_query(spark, tracer, g.sink_port, f"{seed}-{k}")
            warm = _Phase(seed, f"warm{k}", WARM_EVENTS, STREAM_WARM)
            received = warm.run(g, tracer, port, 0, received)
            setup_s.append(time.time() - t0)
            failed += check_stream_rows(running_totals(warm.events), warm.rows)
            attempted += warm.n

        # the unpaced phase comes first: a fresh query's early batches
        # run slower (first sight of most keys, cold code paths), and
        # the paced phase, timed from due times, is the more sensitive
        plain_on = tracer.enabled
        if overhead:
            tracer.enabled = False
        u = _Phase(seed, "unpaced", UNPACED_EVENTS, STREAM_UNPACED)
        _settle(query)
        received = u.run(g, tracer, port, 0, received)
        phases = [u]
        tracer.enabled = plain_on
        pp = None
        if paced:
            pp = _Phase(seed, "paced", int(RATE * seconds), STREAM_PACED)
            _settle(query)
            received = pp.run(g, tracer, port, RATE, received)
            phases.append(pp)
        if overhead:
            t = _Phase(seed, "traced", UNPACED_EVENTS, STREAM_TRACED)
            _settle(query)
            received = t.run(g, tracer, port, 0, received)
            phases.append(t)
        sender = g.call("sender_stats")
        sink = g.call("sink_stats")
        query_id = str(query.id)
        query.stop()
    finally:
        if query is not None and query.isActive:
            query.stop()
        g.close()

    # the last query's state folds its warm-up and every measured phase
    fold = running_totals(warm.events + [e for ph in phases for e in ph.events])
    for ph in phases:
        failed += check_stream_rows({e[0]: fold[e[0]] for e in ph.events}, ph.rows)
        attempted += ph.n

    lat = []
    if paced:
        t_lead = pp.stats["t0_ns"] + int(LEAD_S * 1e9)
        lat = [(r["arrival_ns"] - r["due_ns"]) / 1e6 for r in pp.rows
               if r["due_ns"] >= t_lead]
    p50, n_lat = percentile(lat, 50)
    wall = u.wall_s()
    e2e = {
        "setup_s": median(setup_s),
        "latency_p50_ms": p50,
        "latency_p99_ms": percentile(lat, 99)[0],
        "throughput_eps": UNPACED_EVENTS / wall,
        "wall_s": wall,
    }
    layers = {
        "sources.ack_p99_ms": percentile(sender["ack_ms"], 99)[0],
        "sources.credit_wait_s": sum(ph.stats["credit_wait_s"] for ph in phases),
        "sources.backlog_max": max(ph.stats["backlog_max"] for ph in phases),
        "sinks.rows": sink["rows"],
        "sinks.bytes": sink["bytes"],
        "sinks.connections": sink["connections"],
        "loadgen.latency_samples": n_lat,
    }
    if paced:
        layers["loadgen.late_ms_p99"] = percentile(pp.stats["late_ms"], 99)[0]
    if tracer.enabled:
        layers.update(_streaming_layers(listener, query_id))
    if overhead:
        layers["trace.overhead_pct"] = 100 * (t.wall_s() / wall - 1)
    report = {
        "latency_samples": n_lat,
        "paced_rate_eps": RATE if paced else 0,
        "paced_events": pp.n if paced else 0,
        "unpaced_events": UNPACED_EVENTS,
        "setup_samples_s": setup_s,
        "ack_samples": len(sender["ack_ms"]),
    }
    return {"e2e": e2e, "layers": layers, "attempted": attempted,
            "failed": failed, "report": report, "spark": spark}


def _streaming_layers(listener, query_id: str) -> dict:
    hist = [m for m in listener.history
            if m.num_input_rows > 0 and m.query_name == query_id]
    ms = [m.batch_duration_ms for m in hist]
    rows = [m.num_input_rows for m in hist]
    last = hist[-1].state_operators if hist else []
    return {
        "streaming.batches": len(hist),
        "streaming.batch_ms_p50": percentile(ms, 50)[0],
        "streaming.batch_ms_max": max(ms, default=0),
        "streaming.rows_per_batch_p50": percentile(rows, 50)[0],
        "streaming.state_rows": sum(o["rows_total"] for o in last),
        "streaming.state_bytes": sum(o["memory_bytes"] for o in last),
    }
