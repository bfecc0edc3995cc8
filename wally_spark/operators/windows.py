"""Window operators (reference: lib/wallaroo/core/windows/).

Batch:
  range windows  — fast path: F.window + built-in aggs (spark_agg);
                   python path: explicit window-assignment expression
                   (epoch-aligned, identical to F.window) + per-group
                   replay of the user Aggregation.
  count windows  — row_number bucketing + per-group replay.

Streaming:
  range windows fast path — withWatermark + F.window groupBy agg
    (late policy: drop — Spark's watermark drop matches
    LateDataPolicy.drop, late_data_policy.pony:3).
  custom pane operator and count windows — folds over the one per-key
    stream state primitive, ``operators.stateful._keyed_state``, which
    keeps their state between micro-batches and hands them each key's
    rows in (ts, event_id) order. The pane fold re-creates the
    reference's pane semantics (panes_range_windows.pony) including the
    fire_per_message and place_in_oldest_window late policies; the
    count fold fires every N records per key.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from wally_spark.api import LateDataPolicy, _ns_to_spark_interval
from wally_spark.operators.stateful import KEY_COL, _in_order, _keyed_state, _records

TS_COL = "ts"
WINDOW_START = "window_start"


def _out_cols(out_schema: str) -> list[str]:
    return [c.strip().split()[0] for c in out_schema.split(",")]


def _assigned_windows_expr(range_ns: int, slide_ns: int):
    """Array of epoch-aligned window starts (as timestamps) containing
    `ts` — same assignment as F.window, usable without aggregation."""
    r_us, s_us = range_ns // 1000, slide_ns // 1000
    n = (r_us + s_us - 1) // s_us
    us = (F.col(TS_COL).cast("double") * 1_000_000).cast("long")
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda k: (F.floor(us / s_us) - k) * s_us,
        ),
        lambda ws: us < ws + r_us,
    )


# ---------------------------------------------------------------- batch
def range_windows_batch(df: DataFrame, win) -> DataFrame:
    agg = win.aggregation
    fast = agg.spark_agg()
    r_str = _ns_to_spark_interval(win.range_ns)
    s_str = _ns_to_spark_interval(win.slide_ns)
    if fast is not None:
        return (
            df.groupBy(F.window(TS_COL, r_str, s_str).alias("w"), KEY_COL)
            .agg(*[c.alias(n) for n, c in fast.items()])
            .select(
                F.col(KEY_COL),
                F.col("w.start").alias(WINDOW_START),
                *fast.keys(),
            )
        )
    if agg.output_schema is None:
        raise ValueError("python-path Aggregation needs output_schema")
    out_schema = f"{KEY_COL} string, {WINDOW_START} timestamp, " + agg.output_schema

    def runner(key_tuple, pdf: pd.DataFrame):
        key, ws = key_tuple
        acc = agg.initial_accumulator()
        for rec in _records(_in_order([pdf])):
            agg.update(rec, acc)
        res = agg.output(key, acc)
        if res is None:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in _out_cols(out_schema)})
        d = dict(res) if isinstance(res, dict) else vars(res)
        d[KEY_COL] = key
        d[WINDOW_START] = ws
        return pd.DataFrame([d])

    assigned = df.withColumn(
        WINDOW_START,
        F.explode(
            F.transform(
                _assigned_windows_expr(win.range_ns, win.slide_ns),
                lambda ws: F.timestamp_micros(ws),
            )
        ),
    )
    return assigned.groupBy(KEY_COL, WINDOW_START).applyInPandas(runner, out_schema)


def count_windows_batch(df: DataFrame, win) -> DataFrame:
    from pyspark.sql import Window as W

    agg = win.aggregation
    if agg.output_schema is None:
        raise ValueError("count_windows Aggregation needs output_schema")
    out_schema = f"{KEY_COL} string, win_seq bigint, " + agg.output_schema
    order = [c for c in (TS_COL, "event_id") if c in df.columns] or df.columns[:1]
    w = W.partitionBy(KEY_COL).orderBy(*order)
    bucketed = df.withColumn(
        "win_seq", F.floor((F.row_number().over(w) - 1) / win.count).cast("bigint")
    )

    def runner(key_tuple, pdf: pd.DataFrame):
        key, seq = key_tuple
        if len(pdf) < win.count:  # only full windows fire
            return pd.DataFrame({c: pd.Series(dtype="object") for c in _out_cols(out_schema)})
        acc = agg.initial_accumulator()
        for rec in _records(_in_order([pdf])):
            agg.update(rec, acc)
        res = agg.output(key, acc)
        if res is None:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in _out_cols(out_schema)})
        d = dict(res) if isinstance(res, dict) else vars(res)
        d[KEY_COL] = key
        d["win_seq"] = seq
        return pd.DataFrame([d])

    return bucketed.groupBy(KEY_COL, "win_seq").applyInPandas(runner, out_schema)


def session_windows_op(df: DataFrame, win, streaming: bool) -> DataFrame:
    """F.session_window in both modes (batch groups complete data;
    streaming needs a watermark to close sessions)."""
    fast = win.aggregation.spark_agg()
    gap = _ns_to_spark_interval(win.gap_ns)
    if streaming:
        df = df.withWatermark(TS_COL, gap)
    return (
        df.groupBy(F.session_window(TS_COL, gap).alias("w"), KEY_COL)
        .agg(*[c.alias(n) for n, c in fast.items()])
        .select(
            F.col(KEY_COL),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *fast.keys(),
        )
    )


# ---------------------------------------------------------------- streaming
def range_windows_stream_fast(df: DataFrame, win) -> DataFrame:
    agg = win.aggregation
    fast = agg.spark_agg()
    if fast is None:
        return range_windows_stream_panes(df, win)
    r_str = _ns_to_spark_interval(win.range_ns)
    s_str = _ns_to_spark_interval(win.slide_ns)
    delayed = df.withWatermark(TS_COL, _ns_to_spark_interval(max(win.delay_ns, 1_000_000_000)))
    return (
        delayed.groupBy(F.window(TS_COL, r_str, s_str).alias("w"), KEY_COL)
        .agg(*[c.alias(n) for n, c in fast.items()])
        .select(F.col(KEY_COL), F.col("w.start").alias(WINDOW_START), *fast.keys())
    )


def range_windows_stream_panes(df: DataFrame, win) -> DataFrame:
    """Custom pane operator: per-key panes keyed by window start,
    watermark = max event time − delay (per key), late data handled by
    the reference's three policies (panes_range_windows.pony:148-170).

    Output mode append: a pane fires once, when the key's watermark
    passes its end. State per key: (panes, max event µs)."""
    agg = win.aggregation
    if agg.output_schema is None:
        raise ValueError("pane-path Aggregation needs output_schema")
    out_schema = f"{KEY_COL} string, {WINDOW_START} timestamp, " + agg.output_schema
    r_us, s_us = win.range_ns // 1000, win.slide_ns // 1000
    delay_us = win.delay_ns // 1000
    n_win = (r_us + s_us - 1) // s_us
    policy = win.late_data_policy

    def assign(us: int) -> list[int]:
        base = us // s_us * s_us
        return [base - k * s_us for k in range(n_win) if us < base - k * s_us + r_us]

    def fold(key, rows, state):
        panes, max_us = state
        out = []

        def fire(ws_us, acc):
            res = agg.output(key, acc)
            if res is not None:
                d = dict(res) if isinstance(res, dict) else vars(res)
                d[KEY_COL] = key
                d[WINDOW_START] = pd.Timestamp(ws_us, unit="us")
                out.append(d)

        for rec in _records(rows):
            us = int(pd.Timestamp(rec.ts).value // 1000)
            max_us = max(max_us, us)
            wm = max_us - delay_us
            live = [ws for ws in assign(us) if ws + r_us > wm]
            if live:
                for ws in live:
                    acc = panes.get(ws)
                    if acc is None:
                        acc = agg.initial_accumulator()
                        panes[ws] = acc
                    agg.update(rec, acc)
            else:  # late record: every containing window already fired
                if policy == LateDataPolicy.DROP:
                    continue
                if policy == LateDataPolicy.FIRE_PER_MESSAGE:
                    acc = agg.initial_accumulator()
                    agg.update(rec, acc)
                    fire(assign(us)[-1], acc)
                elif policy == LateDataPolicy.PLACE_IN_OLDEST_WINDOW:
                    if panes:
                        agg.update(rec, panes[min(panes)])
                    else:
                        acc = agg.initial_accumulator()
                        agg.update(rec, acc)
                        panes[min(assign(us))] = acc
        wm = max_us - delay_us
        for ws in sorted([w for w in panes if w + r_us <= wm]):
            fire(ws, panes.pop(ws))
        return (panes, max_us), out

    return _keyed_state(df, KEY_COL, out_schema, lambda: ({}, -(1 << 62)), fold)


def count_windows_stream(df: DataFrame, win) -> DataFrame:
    """Per-key count windows that fire on every ``win.count``-th
    record. State per key: (accumulator, records in it, window seq)."""
    agg = win.aggregation
    if agg.output_schema is None:
        raise ValueError("count_windows Aggregation needs output_schema")
    out_schema = f"{KEY_COL} string, win_seq bigint, " + agg.output_schema

    def fold(key, rows, state):
        acc, n, seq = state
        out = []
        for rec in _records(rows):
            agg.update(rec, acc)
            n += 1
            if n == win.count:
                res = agg.output(key, acc)
                if res is not None:
                    d = dict(res) if isinstance(res, dict) else vars(res)
                    d[KEY_COL] = key
                    d["win_seq"] = seq
                    out.append(d)
                acc, n, seq = agg.initial_accumulator(), 0, seq + 1
        return (acc, n, seq), out

    return _keyed_state(
        df, KEY_COL, out_schema, lambda: (agg.initial_accumulator(), 0, 0), fold
    )
