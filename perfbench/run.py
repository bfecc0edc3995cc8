"""The benchmark of record for wally_spark.

    python3 perfbench/run.py --workload stream_state --seed 1 --seconds 12 --trace 0

Workloads: stream_state, batch (see README.md). Run
from the repository root. Inputs are generated from --seed; every
output is checked against a reference computation. The last line of
standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

With --trace 0 the metrics are the end-to-end ones, measured without
tracing; with --trace 1 they are the per-layer ones, from a run that
records spans around the benchmark's calls into each layer, plus the
tracing overhead and a local[1] single-threaded baseline (of the
pipelines alone, for batch). The line before it is a fuller report
(error rate, sample counts, every metric of the run)."""

import time

T_PROC = time.time()  # set-up 1 counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import metrics, wl_batch, wl_stream
    from perfbench.common import WORK, RSSSampler, Tracer, median, shutdown

    mod = {"stream_state": wl_stream, "batch": wl_batch}[workload]
    tracer = Tracer(trace)
    sampler = RSSSampler().start()
    try:
        res = mod.run(seed, seconds, tracer, T_PROC, overhead=trace)
        res["e2e"]["peak_rss_mb"] = sampler.stop()
        failed, attempted = res["failed"], res["attempted"]
        layers = res["layers"]
        if trace:
            layers["session.start_s"] = tracer.durations("session.start")[0]
            layers["api.compile_ms"] = 1000 * median(tracer.durations("api.compile"))
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{workload}-{seed}.jsonl"))
        res["spark"].stop()
        if trace:
            # single-threaded baseline of the same job, reported only
            off = Tracer(False)
            if workload == "stream_state":
                base = wl_stream.run(seed, seconds, off, time.time(), cpus=1, setups=1, paced=False)
                layers["baseline.local1_throughput_eps"] = base["e2e"]["throughput_eps"]
            else:
                base = wl_batch.run(seed, seconds, off, time.time(), cpus=1, setups=1, rounds=1,
                                    with_queries=False)
                layers["baseline.local1_wall_s"] = base["e2e"]["wall_s"]
            base["spark"].stop()
            failed += base["failed"]
            attempted += base["attempted"]
    finally:
        sampler.stop()
        shutdown()

    if trace:
        # a layer the workload does not exercise reports 0
        values = {n: float(layers.get(n, 0)) for n in metrics.PER_LAYER}
        values = {n: v if math.isfinite(v) else 0.0 for n, v in values.items()}
        units = metrics.PER_LAYER
    else:
        values = {n: float(res["e2e"][n]) for n in metrics.END_TO_END}
        units = metrics.END_TO_END
        bad = [n for n, v in values.items() if not math.isfinite(v) or v <= 0]
        if bad:
            raise RuntimeError(f"no measurement for {bad}")
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "error_rate": failed / attempted,
        **res["e2e"],
        **res["report"],
        "layers": layers,
    }
    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["stream_state", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the system under test must come from this checkout
    if not os.path.isfile(os.path.join(ROOT, "wally_spark", "__init__.py")):
        print("perfbench: no wally_spark package next to perfbench/ "
              "(run from a checkout of the repository)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.common import adopt_orphans, configure_env, stop_children

    adopt_orphans()
    configure_env()
    try:
        out = _measure(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_children()
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
