"""Metric names and units; BENCHMARK.json lists the same ones (a test
keeps the two in step). Every workload reports every metric: a layer a
workload does not exercise reports 0."""

from perfbench.wl_registry import QUERIES

WORKLOADS = ("stream_state", "batch")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "throughput_eps": "1/s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "api.compile_ms": "ms",
    "sources.ack_p99_ms": "ms",
    "sources.credit_wait_s": "s",
    "sources.backlog_max": "count",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_max": "ms",
    "streaming.rows_per_batch_p50": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "sinks.rows": "count",
    "sinks.bytes": "bytes",
    "sinks.connections": "count",
    "operators.windows_py_s": "s",
    "operators.windows_fast_s": "s",
    "operators.state_replay_s": "s",
    "operators.count_windows_s": "s",
    "operators.py_groups": "count",
    "operators.ms_per_group": "ms",
    **{f"plans.{q}_s": "s" for q in QUERIES},
    "plans.jobs": "count",
    "loadgen.late_ms_p99": "ms",
    "loadgen.latency_samples": "count",
    "trace.overhead_pct": "%",
    "baseline.local1_throughput_eps": "1/s",
    "baseline.local1_wall_s": "s",
}
