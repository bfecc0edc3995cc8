"""Reference computations the benchmark checks the system's outputs
against. They share no code with wally_spark: a pure-Python fold for
the stream, pandas for the batch pipelines, DuckDB for the registry."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np

ALERT_TOTAL = 500  # stream_state raises an alert once a user's total passes this


# ---------------------------------------------------------------- stream_state
def running_totals(events) -> dict[int, int]:
    """``events``: (event_id, user, amount) in send order. Returns the
    running total of the event's user after each event, by event id."""
    totals: dict[int, int] = {}
    out = {}
    for eid, user, amount in events:
        t = totals.get(user, 0) + amount
        totals[user] = t
        out[eid] = t
    return out


def check_stream_rows(expected: dict[int, int], rows: list[dict]) -> int:
    """Count failures: events with no output row, duplicate rows, and
    rows whose total or alert flag differs from the fold."""
    seen = Counter(r["event_id"] for r in rows)
    bad = sum(n - 1 for n in seen.values())  # duplicates
    bad += sum(1 for eid in expected if eid not in seen)  # lost
    for r in rows:
        want = expected.get(r["event_id"])
        if want is None or r["total"] != want or r["alert"] != (want > ALERT_TOTAL):
            bad += 1
    return bad


# ---------------------------------------------------------------- batch pipelines
def window_starts_us(ts_us: np.ndarray, range_us: int, slide_us: int):
    """(row index, window start) for every epoch-aligned sliding window
    [start, start + range) that contains each timestamp."""
    n_win = -(-range_us // slide_us)
    base = ts_us // slide_us * slide_us
    idx, starts = [], []
    for k in range(n_win):
        ws = base - k * slide_us
        keep = ts_us < ws + range_us
        idx.append(np.nonzero(keep)[0])
        starts.append(ws[keep])
    return np.concatenate(idx), np.concatenate(starts)


def window_sums(pdf, range_us: int, slide_us: int):
    """pandas frame (user_id, ws_us, total, n) over sliding windows."""
    import pandas as pd

    ts_us = pdf["ts"].values.astype("datetime64[us]").astype(np.int64)
    idx, ws = window_starts_us(ts_us, range_us, slide_us)
    exploded = pd.DataFrame({
        "user_id": pdf["user_id"].values[idx],
        "ws_us": ws,
        "value": pdf["value"].values[idx],
    })
    return (
        exploded.groupby(["user_id", "ws_us"], sort=False)["value"]
        .agg(total="sum", n="size")
        .reset_index()
    )


def count_window_sums(pdf, count: int):
    """Per user, consecutive full windows of ``count`` events in
    (ts, event_id) order: frame (user_id, win_seq, total)."""
    s = pdf.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    pos = s.groupby("user_id", sort=False).cumcount().values
    s = s.assign(win_seq=pos // count)
    g = s.groupby(["user_id", "win_seq"], sort=False)["value"].agg(total="sum", n="size")
    g = g[g["n"] == count].reset_index()
    return g[["user_id", "win_seq", "total"]]


def word_counts(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        c.update(w for w in t.lower().split(" ") if w)
    return c


# ---------------------------------------------------------------- registry
def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v + 0.0:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """Order-insensitive digest of a result: columns sorted by name,
    floats to nine significant digits, rows sorted. Returns (row
    count, sha256)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode() + b"\x1e")
    return len(norm), h.hexdigest()


def oracle_digests(data_dir: str, tables, queries: dict[str, str]) -> dict[str, tuple]:
    """Digest of each oracle SQL query run by DuckDB over the parquet
    tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in queries.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = digest(cols, res.fetchall())
        return out
    finally:
        con.close()
