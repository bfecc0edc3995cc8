"""Streaming compile: Structured Streaming twins of the pipeline API.

File-source micro-batches with controlled ordering (one parquet file
per batch, mtime-ordered, maxFilesPerTrigger=1) drive deterministic
multi-batch runs; results land in memory sinks."""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
import pytest

from wally_spark import api
from wally_spark.operators.stateful import KEY_COL
from wally_spark.sinks import MemorySink, ParquetSink
from wally_spark.sources import DataFrameSource

SCHEMA = "ts timestamp, user_id string, value double"
BASE = "2024-01-01 00:00:"


def _write_batches(spark, tmpdir, batches, start=0):
    """One parquet file per micro-batch, mtime-ordered; ``start``
    numbers the files after ones an earlier call wrote."""
    path = os.path.join(tmpdir, "stream_src")
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(batches, start):
        df = spark.createDataFrame(
            [(r[0], r[1], float(r[2])) for r in rows],
            "ts string, user_id string, value double",
        ).select(
            F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
        )
        fdir = os.path.join(tmpdir, f"_stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(fdir)
        part = [f for f in os.listdir(fdir) if f.endswith(".parquet")][0]
        dst = os.path.join(path, f"batch_{i:03d}.parquet")
        os.rename(os.path.join(fdir, part), dst)
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))
    return path


def _stream_df(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def _run(writer, spark, name):
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


class SumAgg(api.Aggregation):
    output_schema = "total double, n bigint"

    def initial_accumulator(self):
        return {"t": 0.0, "n": 0}

    def update(self, data, acc):
        acc["t"] += data.value
        acc["n"] += 1

    def combine(self, a, b):
        return {"t": a["t"] + b["t"], "n": a["n"] + b["n"]}

    def output(self, key, acc):
        return {"total": round(acc["t"], 2), "n": acc["n"]}

    def spark_agg(self):
        return {
            "total": F.round(F.sum("value"), 2),
            "n": F.count(F.lit(1)),
        }


def test_stream_tumbling_fast_path(spark, tmp_path):
    path = _write_batches(
        spark,
        str(tmp_path),
        [
            [(BASE + "01", "a", 1), (BASE + "05", "a", 2), (BASE + "11", "b", 3)],
            [(BASE + "13", "a", 4), (BASE + "25", "b", 5)],
        ],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    sink = MemorySink(name, output_mode="complete")
    p = (
        api.source("s", DataFrameSource("s", _stream_df(spark, path)))
        .key_by("user_id")
        .to(api.range_windows(api.seconds(10)).over(SumAgg))
        .to_sink(sink)
    )
    out = _run(api.build_application("t", p).run_stream(spark), spark, name)
    rows = {
        (r[KEY_COL], r["window_start"].second, r["total"], r["n"])
        for r in out.collect()
    }
    assert rows == {
        ("a", 0, 3.0, 2),
        ("a", 10, 4.0, 1),
        ("b", 10, 3.0, 1),
        ("b", 20, 5.0, 1),
    }


def test_stream_state_computation(spark, tmp_path):
    class Total:
        def __init__(self):
            self.t = 0.0

    @api.state_computation("run_total", Total, schema="value double, running double")
    def run_total(rec, state):
        state.t += rec.value
        return {"value": rec.value, "running": round(state.t, 2)}

    path = _write_batches(
        spark,
        str(tmp_path),
        [
            [(BASE + "01", "a", 1), (BASE + "02", "a", 2)],
            [(BASE + "03", "a", 3), (BASE + "04", "b", 10)],
        ],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    p = (
        api.source("s", DataFrameSource("s", _stream_df(spark, path)))
        .key_by("user_id")
        .to(run_total)
        .to_sink(MemorySink(name))
    )
    out = _run(api.build_application("t", p).run_stream(spark), spark, name)
    got = {(r[KEY_COL], r["value"], r["running"]) for r in out.collect()}
    # state persists ACROSS micro-batches: a's running continues 1→3→6
    assert got == {("a", 1.0, 1.0), ("a", 2.0, 3.0), ("a", 3.0, 6.0), ("b", 10.0, 10.0)}


def test_stream_state_restart_keeps_pinned_partitions(spark, tmp_path):
    """A stateful query first started under 8 shuffle partitions (the
    older session default) restarts from its checkpoint under the
    session's own default: Spark keeps the 8 state partitions the
    checkpoint pinned, and each key's running total continues where
    the first run stopped."""

    class Total:
        def __init__(self):
            self.t = 0.0

    @api.state_computation("run_total", Total, schema="value double, running double")
    def run_total(rec, state):
        state.t += rec.value
        return {"value": rec.value, "running": state.t}

    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"

    def run(batches, start):
        path = _write_batches(spark, str(tmp_path), batches, start)
        p = (
            api.source("s", DataFrameSource("s", _stream_df(spark, path)))
            .key_by("user_id")
            .to(run_total)
            .to_sink(ParquetSink(out, checkpoint=ckpt))
        )
        q = (
            api.build_application("t", p).run_stream(spark)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    default = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run([[(BASE + "01", "a", 1), (BASE + "02", "b", 10)],
             [(BASE + "03", "a", 2)]], 0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    run([[(BASE + "04", "a", 4), (BASE + "05", "b", 20)],
         [(BASE + "06", "c", 7)]], 2)

    state_parts = [d for d in os.listdir(f"{ckpt}/state/0") if d.isdigit()]
    assert len(state_parts) == 8
    got = {
        (r[KEY_COL], r["value"], r["running"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("a", 1.0, 1.0), ("b", 10.0, 10.0), ("a", 2.0, 3.0),
        ("a", 4.0, 7.0), ("b", 20.0, 30.0), ("c", 7.0, 7.0),
    }


def test_stream_count_windows(spark, tmp_path):
    path = _write_batches(
        spark,
        str(tmp_path),
        [
            [(BASE + "01", "a", 1), (BASE + "02", "a", 2)],
            [(BASE + "03", "a", 3), (BASE + "04", "a", 4), (BASE + "05", "a", 5)],
        ],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    p = (
        api.source("s", DataFrameSource("s", _stream_df(spark, path)))
        .key_by("user_id")
        .to(api.count_windows(2).over(SumAgg))
        .to_sink(MemorySink(name))
    )
    out = _run(api.build_application("t", p).run_stream(spark), spark, name)
    got = {(r[KEY_COL], r["win_seq"], r["total"], r["n"]) for r in out.collect()}
    # 5 records, count=2 → windows fire at 2 and 4; the 5th stays open
    assert got == {("a", 0, 3.0, 2), ("a", 1, 7.0, 2)}


class PySumAgg(SumAgg):
    """Python-only aggregation: forces the custom pane operator (the
    fast path would hand late-data handling to Spark's watermark)."""

    def spark_agg(self):
        return None


def _panes_pipeline(spark, path, policy, name):
    p = (
        api.source("s", DataFrameSource("s", _stream_df(spark, path)))
        .key_by("user_id")
        .to(
            api.range_windows(api.seconds(10))
            .with_late_data_policy(policy)
            .over(PySumAgg)
        )
        .to_sink(MemorySink(name))
    )
    return api.build_application("t", p).run_stream(spark)


@pytest.mark.parametrize(
    "policy,expected",
    [
        # batch1: 1,5 in [0,10); 12 advances wm to 12 → [0,10) fires (3.0, n=2)
        # batch2: late 3 per policy; 25 advances wm → [10,20) fires
        (
            api.LateDataPolicy.DROP,
            {(0, 3.0, 2), (10, 12.0, 1)},
        ),
        # late 3 fires immediately as its own single-message window
        (
            api.LateDataPolicy.FIRE_PER_MESSAGE,
            {(0, 3.0, 2), (0, 3.0, 1), (10, 12.0, 1)},
        ),
        # late 3 is placed into the oldest open pane [10,20)
        (
            api.LateDataPolicy.PLACE_IN_OLDEST_WINDOW,
            {(0, 3.0, 2), (10, 15.0, 2)},
        ),
    ],
)
def test_stream_panes_late_policies(spark, tmp_path, policy, expected):
    path = _write_batches(
        spark,
        str(tmp_path),
        [
            [(BASE + "01", "a", 1), (BASE + "05", "a", 2), (BASE + "12", "a", 12)],
            [(BASE + "03", "a", 3), (BASE + "25", "a", 25)],
        ],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run(_panes_pipeline(spark, path, policy, name), spark, name)
    got = {(r["window_start"].second, r["total"], r["n"]) for r in out.collect()}
    assert got == expected


def test_stream_session_windows(spark, tmp_path):
    path = _write_batches(
        spark,
        str(tmp_path),
        [
            # session 1: 01,05; gap>10s; session 2: 20
            [(BASE + "01", "a", 1), (BASE + "05", "a", 2), (BASE + "20", "a", 3)],
            # far-future event closes session 2 past the watermark
            [("2024-01-01 00:02:00", "a", 4)],
        ],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    p = (
        api.source("s", DataFrameSource("s", _stream_df(spark, path)))
        .key_by("user_id")
        .to(api.session_windows(api.seconds(10)).over(SumAgg))
        .to_sink(MemorySink(name))
    )
    out = _run(api.build_application("t", p).run_stream(spark), spark, name)
    got = {
        (r["session_start"].second, r["total"], r["n"]) for r in out.collect()
    }
    # sessions [01..05] and [20] closed once the watermark passed; the
    # 02:00 session stays open at stream end (append mode)
    assert got == {(1, 3.0, 2), (20, 3.0, 1)}


def test_stream_word_count_app(spark, tmp_path):
    """Reference word_count end-to-end in streaming: computation_multi
    split → key_by word → stateful count, state carried across
    micro-batches (examples/python/word_count/word_count.py)."""
    import os

    path = os.path.join(str(tmp_path), "docs")
    os.makedirs(path, exist_ok=True)
    for i, text in enumerate(["hello wally hello", "wally counts words"]):
        df = spark.createDataFrame([(text,)], "text string")
        fdir = os.path.join(str(tmp_path), f"_d{i}")
        df.coalesce(1).write.mode("overwrite").parquet(fdir)
        part = [f for f in os.listdir(fdir) if f.endswith(".parquet")][0]
        dst = os.path.join(path, f"b{i}.parquet")
        os.rename(os.path.join(fdir, part), dst)
        os.utime(dst, (1_000_000 + i * 100,) * 2)

    @api.computation_multi("split", schema="word string")
    def split(rec):
        return [{"word": w} for w in rec.text.lower().split(" ") if w]

    class WordState:
        def __init__(self):
            self.n = 0

    @api.state_computation("count", WordState, schema="word string, running bigint")
    def count(rec, state):
        state.n += 1
        return {"word": rec.word, "running": state.n}

    sdf = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    p = (
        api.source("wc", DataFrameSource("wc", sdf))
        .to(split)
        .key_by("word")
        .to(count)
        .to_sink(MemorySink(name))
    )
    out = _run(api.build_application("wc", p).run_stream(spark), spark, name)
    final = {
        r["word"]: r["mx"]
        for r in out.groupBy("word").agg(F.max("running").alias("mx")).collect()
    }
    # 'wally' appears once per batch → stateful count reaches 2
    assert final == {"hello": 2, "wally": 2, "counts": 1, "words": 1}


def test_stream_panes_with_delay(spark, tmp_path):
    """with_delay keeps panes open past their end: the 03 record in
    batch2 is NOT late under a 15s delay (wm = 25-15 = 10 at arrival),
    so it lands in pane [0,10) which only fires once wm passes 10+15."""
    path = _write_batches(
        spark,
        str(tmp_path),
        [
            [(BASE + "01", "a", 1), (BASE + "05", "a", 2), (BASE + "12", "a", 12)],
            [(BASE + "03", "a", 3), (BASE + "25", "a", 25)],
            [(BASE + "59", "a", 59)],
        ],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    p = (
        api.source("s", DataFrameSource("s", _stream_df(spark, path)))
        .key_by("user_id")
        .to(
            api.range_windows(api.seconds(10))
            .with_delay(api.seconds(15))
            .over(PySumAgg)
        )
        .to_sink(MemorySink(name))
    )
    out = _run(api.build_application("t", p).run_stream(spark), spark, name)
    got = {(r["window_start"].second, r["total"], r["n"]) for r in out.collect()}
    # wm ends at 59-15=44: panes [0,10) incl late-but-in-delay 3,
    # [10,20), [20,30) fire; [50,60) still open
    assert got == {(0, 6.0, 3), (10, 12.0, 1), (20, 25.0, 1)}


def test_stream_merge_keyby_callable_collect(spark, tmp_path):
    """merge of two streaming pipelines + computed key + collect()."""
    p1 = _write_batches(
        spark, f"{tmp_path}/a", [[(BASE + "01", "a", 1), (BASE + "02", "b", 2)]]
    )
    p2 = _write_batches(
        spark, f"{tmp_path}/b", [[(BASE + "03", "c", 30), (BASE + "04", "d", 40)]]
    )
    ext = api.key_extractor(lambda rec: "hi" if rec.value >= 10 else "lo")

    class Total:
        def __init__(self):
            self.t = 0.0

    @api.state_computation("sum_band", Total, schema="running double")
    def sum_band(rec, state):
        state.t += rec.value
        return {"running": state.t}

    name = f"t_{uuid.uuid4().hex[:8]}"
    branch = api.source("s2", DataFrameSource("s2", _stream_df(spark, p2)))
    p = (
        api.source("s1", DataFrameSource("s1", _stream_df(spark, p1)))
        .merge(branch)
        .key_by(ext)
        .to(sum_band)
        .to_sink(MemorySink(name))
    )
    out = _run(api.build_application("t", p).run_stream(spark), spark, name)
    finals = {
        r["k"]: r["mx"]
        for r in out.groupBy(F.col("__key").alias("k"))
        .agg(F.max("running").alias("mx"))
        .collect()
    }
    assert finals == {"lo": 3.0, "hi": 70.0}
