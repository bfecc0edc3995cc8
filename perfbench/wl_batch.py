"""batch: ``Application.run_batch`` over generated parquet events
(about 5% out of order) through four pipelines, then the
``plans.REGISTRY`` queries of ``wl_registry``, in one session:

  windows_py   python Aggregation over sliding range windows
  windows_fast the same windows through the spark_agg fast path, on a
               much larger input
  word_count   computation_multi -> key_by -> batch state_computation
               replay
  count_py     python Aggregation over count windows

A round runs the four pipelines, each materialised to pandas, then
each query, collected. Outputs are checked against pandas and DuckDB
references outside the timed region."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from perfbench import gen, reference
from perfbench.common import (ENGINE_CPUS, SETUPS, another_round, median, percentile,
                              start_session, work_dir)
from perfbench.wl_registry import QUERIES, Registry
from wally_spark import api

RANGE_US, SLIDE_US = 3_600_000_000, 1_200_000_000  # 1 h windows every 20 min
COUNT = 5
# (events, users, span seconds) per input; sized so one round takes
# about six seconds on 4 cores with the python paths dominating. The
# set-ups and the warm-up pass run each pipeline over its small "warm_"
# input first.
SIZES = {
    "windows_py": (400, 15, 12 * 3600),
    "windows_fast": (100_000, 1_000, 7 * 86400),
    "count_py": (500, 40, 12 * 3600),
    "warm_windows_py": (100, 5, 3 * 3600),
    "warm_windows_fast": (2_000, 50, 86400),
    "warm_count_py": (100, 5, 3 * 3600),
}
DOCS = {"word_count": 1_000, "warm_word_count": 100}
PIPELINES = ("windows_py", "windows_fast", "word_count", "count_py")
LAYER_OF = {
    "windows_py": "operators.windows_py_s",
    "windows_fast": "operators.windows_fast_s",
    "word_count": "operators.state_replay_s",
    "count_py": "operators.count_windows_s",
}


class PyTotal(api.Aggregation):
    """Python-path window aggregation (no spark_agg)."""

    output_schema = "total double, n bigint"

    def initial_accumulator(self):
        return {"total": 0.0, "n": 0}

    def update(self, ev, acc):
        acc["total"] += ev.value
        acc["n"] += 1

    def combine(self, a, b):
        return {"total": a["total"] + b["total"], "n": a["n"] + b["n"]}

    def output(self, key, acc):
        return {"total": acc["total"], "n": acc["n"]}


class FastTotal(PyTotal):
    def spark_agg(self):
        return {"total": F.sum("value"), "n": F.count(F.lit(1))}


@api.computation_multi("split words", schema="word string")
def split_words(doc):
    return [{"word": w} for w in doc.text.lower().split(" ") if w]


class WordTotal:
    def __init__(self):
        self.count = 0


@api.state_computation("count words", WordTotal, schema="word string, count bigint")
def count_word(data, state):
    state.count += 1
    return {"word": data.word, "count": state.count}


def make_inputs(seed: int) -> dict:
    """Write the generated inputs as parquet; returns, per input, its
    path and what the references use (a pandas frame or the texts)."""
    import pandas as pd

    d = work_dir("batch")
    out = {}
    for name, (n, users, span) in SIZES.items():
        pdf = gen.batch_events(seed, name, n, users, span)
        path = os.path.join(d, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        out[name] = (path, pdf)
    for name, n in DOCS.items():
        texts = gen.documents(seed, name, n)
        path = os.path.join(d, f"{name}.parquet")
        pd.DataFrame({"doc_id": range(n), "text": texts}).to_parquet(path, index=False)
        out[name] = (path, texts)
    return out


def _apps(inputs: dict, prefix: str = "") -> dict:
    """The four applications over the inputs named ``prefix + pipeline``."""
    from wally_spark.sinks import ReturnSink
    from wally_spark.sources import ParquetSourceConfig

    def src(name):
        name = prefix + name
        return api.source(name, ParquetSourceConfig(name, inputs[name][0]))

    def windows():
        return api.range_windows(api.microseconds(RANGE_US)).with_slide(
            api.microseconds(SLIDE_US))

    pipes = {
        "windows_py": src("windows_py").key_by("user_id").to(windows().over(PyTotal)),
        "windows_fast": src("windows_fast").key_by("user_id").to(windows().over(FastTotal)),
        "word_count": src("word_count").to(split_words).key_by("word").to(count_word),
        "count_py": src("count_py").key_by("user_id").to(api.count_windows(COUNT).over(PyTotal)),
    }
    return {k: api.build_application(k, p.to_sink(ReturnSink())) for k, p in pipes.items()}


def _check_word_count(pdf, texts) -> int:
    """Each word must show counts 1..n exactly once, n its frequency."""
    want = reference.word_counts(texts)
    got = pdf.groupby("word")["count"].agg(["size", "max", "sum"])
    bad = 0
    for w, n in want.items():
        if w not in got.index:
            bad += n
            continue
        size, mx, sm = got.loc[w]
        if size != n or mx != n or sm != n * (n + 1) // 2:
            bad += abs(int(size) - n) or 1
    bad += sum(int(got.loc[w, "size"]) for w in got.index if w not in want)
    return bad


def _check_windows(pdf, events) -> int:
    ref = reference.window_sums(events, RANGE_US, SLIDE_US)
    want = {(u, w): (t, n) for u, w, t, n in ref.itertuples(index=False)}
    ws = pdf["window_start"].values.astype("datetime64[us]").astype("int64")
    got = {}
    for u, w, t, n in zip(pdf["__key"], ws, pdf["total"], pdf["n"]):
        got[(u, int(w))] = (float(t), int(n))
    bad = sum(1 for k in want if got.get(k) != want[k])
    return bad + sum(1 for k in got if k not in want)


def _check_count(pdf, events) -> int:
    ref = reference.count_window_sums(events, COUNT)
    want = {(u, int(s)): float(t) for u, s, t in ref.itertuples(index=False)}
    got = {(u, int(s)): float(t) for u, s, t in zip(pdf["__key"], pdf["win_seq"], pdf["total"])}
    bad = sum(1 for k in want if got.get(k) != want[k])
    return bad + sum(1 for k in got if k not in want)


def check(name: str, pdf, inputs: dict, prefix: str = "") -> int:
    data = inputs[prefix + name][1]
    if name == "word_count":
        return _check_word_count(pdf, data)
    if name == "count_py":
        return _check_count(pdf, data)
    return _check_windows(pdf, data)


def expected_rows(inputs: dict, prefix: str = "") -> dict:
    """Output rows each pipeline must produce (the base of the error
    rate and of operators.ms_per_group)."""
    def ev(name):
        return inputs[prefix + name][1]

    return {
        "windows_py": len(reference.window_sums(ev("windows_py"), RANGE_US, SLIDE_US)),
        "windows_fast": len(reference.window_sums(ev("windows_fast"), RANGE_US, SLIDE_US)),
        "word_count": sum(reference.word_counts(ev("word_count")).values()),
        "count_py": len(reference.count_window_sums(ev("count_py"), COUNT)),
    }


def run(seed: int, seconds: float, tracer, t_proc: float, cpus=ENGINE_CPUS,
        setups: int = SETUPS, rounds: int | None = None, overhead: bool = False,
        with_queries: bool = True) -> dict:
    inputs = make_inputs(seed)
    sizes = expected_rows(inputs)
    setup_s, failed, attempted = [], 0, 0
    spark = None
    for k in range(setups):
        t0 = t_proc if k == 0 else time.time()
        spark = start_session(tracer, cpus)
        with tracer.span("api.compile"):
            warm_apps = _apps(inputs, "warm_")
            apps = _apps(inputs)
            warm_df = warm_apps["word_count"].run_batch(spark)
        with tracer.span("api.run_batch", trace="setup"):
            warm = warm_df.toPandas()
        setup_s.append(time.time() - t0)
        failed += check("word_count", warm, inputs, "warm_")
        attempted += len(warm)
        if k < setups - 1:
            spark.stop()

    # jobs of a round: name -> (span / layer metric, run, failures, attempted)
    jobs = {
        name: (LAYER_OF[name],
               lambda name=name: apps[name].run_batch(spark).toPandas(),
               lambda out, name=name: check(name, out, inputs),
               sizes[name])
        for name in PIPELINES
    }
    queries = QUERIES if with_queries else ()
    reg = Registry(seed) if queries else None
    for q in queries:
        jobs[q] = (f"plans.{q}_s", lambda q=q: reg.run(spark, q),
                   lambda out, q=q: reg.failures(q, out), 1)

    # warm-up pass, untimed: every pipeline the set-up did not run, once
    # over its small input, and every query once
    warm_sizes = expected_rows(inputs, "warm_")
    for name in (p for p in PIPELINES if p != "word_count"):
        failed += check(name, warm_apps[name].run_batch(spark).toPandas(), inputs, "warm_")
        attempted += warm_sizes[name]
    for q in queries:
        failed += reg.failures(q, reg.run(spark, q))
        attempted += 1

    sc = spark.sparkContext
    per_job: dict[str, list[float]] = {name: [] for name in jobs}
    traced_rounds, plain_rounds = [], []
    round_s, spark_jobs = [], []
    # a traced run needs an untraced and a traced round to compare
    least = rounds or (2 if overhead else 1)
    started = time.perf_counter()
    r = 0
    while another_round(r, least, started, round_s[-1] if round_s else 0.0,
                        0 if rounds else seconds):
        if overhead:
            tracer.enabled = r % 2 == 1
        group = f"perfbench-plans-{r}"  # the Spark jobs of the round's queries
        outs = {}
        # collect the warm-up's and the last round's garbage first, so a
        # round pays only for its own collections
        sc._jvm.System.gc()
        t_round = time.perf_counter()
        for name, (span, fn, _, _) in jobs.items():
            if name in queries:
                sc.setJobGroup(group, group)
            t = time.perf_counter()
            with tracer.span(span, trace=group):
                outs[name] = fn()
            per_job[name].append(time.perf_counter() - t)
        dt = time.perf_counter() - t_round
        sc.setJobGroup("", "")
        spark_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        round_s.append(dt)
        (traced_rounds if tracer.enabled else plain_rounds).append(dt)
        for name, (_, _, failures, n) in jobs.items():
            failed += failures(outs[name])
            attempted += n
        r += 1
    if overhead:
        tracer.enabled = True

    n_in = sum(SIZES[p][0] for p in PIPELINES if p in SIZES) + sum(
        len(t.split()) for t in inputs["word_count"][1])
    if reg is not None:
        n_in += sum(reg.table_rows.values())
    samples_ms = [1000 * x for xs in per_job.values() for x in xs]
    wall = median(round_s)
    e2e = {
        "setup_s": median(setup_s),
        # the jobs differ in kind: the median job's own median is
        # steadier than the middle sample of the mixture
        "latency_p50_ms": 1000 * median(median(xs) for xs in per_job.values()),
        "latency_p99_ms": percentile(samples_ms, 99)[0],
        "throughput_eps": n_in / wall,
        "wall_s": wall,
    }
    layers = {jobs[name][0]: median(xs) for name, xs in per_job.items()}
    layers["operators.py_groups"] = sizes["windows_py"]
    layers["operators.ms_per_group"] = 1000 * layers["operators.windows_py_s"] / sizes["windows_py"]
    if reg is not None:
        layers["plans.jobs"] = median(spark_jobs)
    report = {
        "rounds": len(round_s),
        "latency_samples": len(samples_ms),
        "pipeline_output_rows": sizes,
        "input_rows": n_in,
        "table_rows": reg.table_rows if reg is not None else {},
        "setup_samples_s": setup_s,
    }
    if overhead and plain_rounds and traced_rounds:
        report["overhead_rounds"] = [len(plain_rounds), len(traced_rounds)]
        layers["trace.overhead_pct"] = 100 * (median(traced_rounds) / median(plain_rounds) - 1)
    return {"e2e": e2e, "layers": layers, "attempted": attempted,
            "failed": failed, "report": report, "spark": spark}
