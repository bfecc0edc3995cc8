"""Streaming-specific operators beyond the pipeline API."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from wally_spark.operators.stateful import _keyed_state


def dedup_stream(df: DataFrame, keys: list[str], ts: str, watermark: str) -> DataFrame:
    """Exactly-once-per-key delivery within the watermark horizon —
    the streaming analog of dedup_exact. State is bounded by the
    watermark (old keys age out), so memory is O(keys inside horizon),
    which is what makes it viable on an unbounded 100 TB stream."""
    return df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    watermark: str,
    condition=None,
    how: str = "inner",
) -> DataFrame:
    """Windowed stream-stream join (market_spread's two live streams):
    both sides watermarked so Spark can discard state outside the
    join horizon."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = on if condition is None else (on & condition)
    return lw.join(rw, cond, how)


def inactivity_sessions_classic(df: DataFrame, gap_s: int) -> DataFrame:
    """Inactivity-closed sessions on the classic state API: per-key
    accumulator + EventTimeTimeout. When a key is quiet past the
    watermark, Spark invokes the function with timed_out=True and the
    session is emitted — same semantics the reference's ephemeral
    windows implement (ephemeral_window.pony), no new-API deps.

    Expects columns (ts timestamp, user_id, value) and a watermark on
    ts; emits (user_id, session_start_s, n_events, total).
    """
    import pandas as pd

    out_schema = "user_id string, session_start_s long, n_events long, total double"

    def fold(user, rows, state):
        start_s, last_s, n, total = state
        for ts, value in zip(rows["ts"], rows["value"]):
            s = int(pd.Timestamp(ts).value // 1_000_000_000)
            start_s = s if start_s is None else min(start_s, s)
            last_s = s if last_s is None else max(last_s, s)
            n += 1
            total += float(value)
        return (start_s, last_s, n, total), []

    return _keyed_state(
        df, "user_id", out_schema, lambda: (None, None, 0, 0.0), fold,
        # close the session once the watermark passes last event + gap
        expiry=lambda rows, s: (s[1] + gap_s) * 1000,
        on_timeout=lambda user, s: [(user, s[0], s[2], round(s[3], 2))],
    )


def session_entry_exit_stream(df: DataFrame, gap_s: int = 600) -> DataFrame:
    """Streaming face of the registered ``session_entry_exit`` batch
    lane — the reference shape (per-key session state,
    ephemeral_window.pony) at its most literal: per-user state holds
    the one OPEN session (entry event, last-seen event, count); an
    arriving event more than ``gap_s`` past the last one CLOSES the
    open session (emitting its entry/exit row) and opens a new one,
    and EventTimeTimeout closes idle sessions once the watermark
    passes last+gap — so every session is emitted exactly once.
    Downstream the (entry_type, exit_type) matrix is a plain rollup
    of the emitted rows (read-time fold; equivalence tested in
    tests/test_stream_twins.py).

    Expects (ts timestamp, event_id, user_id, event_type) with a
    watermark on ts and per-key in-order batch files (the reference's
    key_by routing guarantee); within a batch, rows sort by
    (ts, event_id) — the batch lane's deterministic rank. State is
    one tuple per ACTIVE user: O(active keys), independent of history.

    Emits (user_id, entry_type, exit_type, n_events) per closed
    session."""
    import pandas as pd

    out_schema = (
        "user_id long, entry_type string, exit_type string, n_events long"
    )
    gap_ns = int(gap_s) * 1_000_000_000

    def row(user, sess):
        return (user, sess[2], sess[5], sess[6])

    def fold(user, rows, state):
        sess = None if state is None else list(state)
        closed = []
        for ts, eid, etype in zip(
            rows["ts"], rows["event_id"], rows["event_type"]
        ):
            ts_ns, eid = int(pd.Timestamp(ts).value), int(eid)
            if sess is None:
                sess = [ts_ns, eid, etype, ts_ns, eid, etype, 1]
            elif ts_ns - sess[3] > gap_ns:
                closed.append(row(user, sess))
                sess = [ts_ns, eid, etype, ts_ns, eid, etype, 1]
            else:
                sess[3], sess[4], sess[5] = ts_ns, eid, etype
                sess[6] += 1
        return tuple(sess), closed

    return _keyed_state(
        df, "user_id", out_schema, lambda: None, fold,
        expiry=lambda rows, s: s[3] // 1_000_000 + gap_s * 1000,
        on_timeout=lambda user, s: [row(user, s)],
    )


def funnel_stage_stream(df: DataFrame, horizon_s: int = 3600) -> DataFrame:
    """Streaming face of the registered ``events_window_funnel`` batch
    lane — the reference's literal funnel shape (a per-key state
    machine over the keyed stream holding last-stage + deadline): per
    user, the first 'view' sets t0 (stage 1), the first 'click' in
    (t0, t0+horizon] sets t1 (stage 2), the first 'purchase' in
    (t1, t0+horizon] completes (stage 3); any other activity leaves
    the user at stage 0. Pure event-time arithmetic — no timeout
    needed, a stage only advances on an arriving event.

    Emits a VERSIONED (user_id, stage, ver) row whenever the user's
    stage changes (first event emits the initial stage, so every
    active user appears); the funnel histogram is the latest-ver fold,
    asserted equal to the batch lane in tests/test_stream_twins.py.
    State is one 4-tuple per user — O(active keys).

    Expects (ts timestamp, event_id, user_id, event_type) with
    per-key in-order batch files; within a batch, rows sort by
    (ts, event_id) — the batch lane's min()-based tie rule."""
    import pandas as pd

    out_schema = "user_id long, stage long, ver long"
    horizon_ns = int(horizon_s) * 1_000_000_000

    def fold(user, rows, state):
        stage, t0, t1, ver, emitted = state
        out = []
        for ts, etype in zip(rows["ts"], rows["event_type"]):
            ts_ns = int(pd.Timestamp(ts).value)
            if stage == 0 and etype == "view":
                stage, t0 = 1, ts_ns
            elif (
                stage == 1
                and etype == "click"
                and t0 < ts_ns <= t0 + horizon_ns
            ):
                stage, t1 = 2, ts_ns
            elif (
                stage == 2
                and etype == "purchase"
                and ts_ns > t1
                and ts_ns <= t0 + horizon_ns
            ):
                stage = 3
            if stage != emitted:
                ver += 1
                emitted = stage
                out.append((user, stage, ver))
        return (stage, t0, t1, ver, emitted), out

    return _keyed_state(
        df, "user_id", out_schema, lambda: (0, None, None, 0, -1), fold
    )


def count_windows_stream(df: DataFrame, n: int = 20) -> DataFrame:
    """Streaming twin of the registered `win_count` batch query: per-key
    count windows that fire exactly when the n-th event arrives
    (wallaroo count_windows(n).over(agg); partial trailing windows never
    fire). Assumes per-key in-order delivery — the same guarantee the
    reference's key_by routing provides — which the equivalence test
    arranges with time-ordered source files.

    Input: (ts, user_id, value); output one row per FILLED window:
    (user_id, win_id, sum_value, n_events). State per key is one open
    window (win_idx, count, running sum) — O(keys), unbounded streams
    safe."""
    out_schema = "user_id long, win_id long, sum_value double, n_events long"

    def fold(user, rows, state):
        win_idx, cnt, total = state
        fired = []
        for value in rows["value"]:
            cnt += 1
            total += float(value)
            if cnt == n:
                fired.append((user, win_idx, total, n))
                win_idx, cnt, total = win_idx + 1, 0, 0.0
        return (win_idx, cnt, total), fired

    return _keyed_state(df, "user_id", out_schema, lambda: (0, 0, 0.0), fold)


def topk_stream(df: DataFrame, k: int = 3) -> DataFrame:
    """Streaming twin of `topk_per_key`: per-key top-k by value
    (ties: lower event_id wins), maintained incrementally — O(k) state
    per key, order-insensitive so no delivery-order assumption. Emits
    the current top-k with a monotonically increasing `ver` each time a
    key sees data; downstream takes max(ver) per key for the final
    answer (memory-sink append mode has no retraction)."""
    out_schema = "event_type string, event_id long, value double, ver long"

    def fold(etype, rows, state):
        top, ver = state
        for event_id, value in zip(rows["event_id"], rows["value"]):
            top.append((-float(value), int(event_id)))
            top.sort()
            del top[k:]
        ver += 1
        return (top, ver), [(etype, eid, -nv, ver) for nv, eid in top]

    return _keyed_state(df, "event_type", out_schema, lambda: ([], 0), fold)


def interarrival_stream(df: DataFrame) -> DataFrame:
    """Streaming twin of `interarrival_stats`: per-key gap statistics
    between consecutive events, carried as (last_ts, n, sum, min, max)
    state — O(keys). Assumes per-key in-order delivery (see
    count_windows_stream). Emits running stats with `ver`; downstream
    takes max(ver) per key."""
    import pandas as pd

    out_schema = (
        "user_id long, n_gaps long, total_gap_s double,"
        " min_gap_s double, max_gap_s double, ver long"
    )

    def fold(user, rows, state):
        last_s, n, tot, mn, mx, ver = state
        for ts in rows["ts"]:
            # µs-exact double seconds, matching Spark's
            # cast(ts as double): ns epoch exceeds 2^53 so divide
            # from the µs integer, not the ns one
            s = (pd.Timestamp(ts).value // 1000) / 1e6
            if last_s is not None:
                gap = s - last_s
                n += 1
                tot += gap
                mn = gap if mn is None else min(mn, gap)
                mx = gap if mx is None else max(mx, gap)
            last_s = s
        ver += 1
        out = [(user, n, tot, mn, mx, ver)] if n else []
        return (last_s, n, tot, mn, mx, ver), out

    return _keyed_state(
        df, "user_id", out_schema, lambda: (None, 0, 0.0, None, None, 0), fold
    )


def running_total_stream(df: DataFrame, threshold: float = 2000.0) -> DataFrame:
    """Streaming twin of the registered `running_total` batch query
    (the Wallaroo state_computation shape, alerts_stateful): per-key
    cumulative sum, emitting one alert row per event whose running
    total exceeds the threshold. State per key is a single double —
    O(keys), unbounded-stream safe. Assumes per-key in-order delivery
    (see count_windows_stream). Emits the raw running value; the
    caller applies F.round so stream and batch round identically
    (Python round() is banker's, Spark's is HALF_UP)."""
    import pandas as pd

    out_schema = "user_id long, event_id long, ts_epoch long, running_value double"

    def fold(user, rows, running):
        fired = []
        for event_id, ts, value in zip(rows["event_id"], rows["ts"], rows["value"]):
            running += float(value)
            if running > threshold:
                epoch_s = (pd.Timestamp(ts).value // 1000) // 1_000_000
                fired.append((user, int(event_id), int(epoch_s), running))
        return running, fired

    return _keyed_state(df, "user_id", out_schema, lambda: 0.0, fold)


def transitions_stream(df: DataFrame) -> DataFrame:
    """Streaming twin of the registered `event_transitions` batch
    lane: per-key PREVIOUS-EVENT state — the most literal
    state_computation in the reference's repertoire (machida keeps
    "the last thing this key did" and emits on change; see
    lib/wallaroo/core/state semantics) — emitting one (src → dst)
    transition row per event after a key's first. State per key is one
    small string tuple, O(keys), unbounded-stream safe; assumes
    per-key in-order delivery (count_windows_stream contract). The
    Markov matrix itself is one aggregate over this lane's output —
    counts are mergeable, so a consumer folds micro-batch increments
    without reprocessing."""
    out_schema = "user_id long, src string, dst string"

    def fold(user, rows, last):
        out = []
        for et in rows["event_type"]:
            if last is not None:
                out.append((user, last, et))
            last = str(et)
        return last, out

    return _keyed_state(df, "user_id", out_schema, lambda: None, fold)


def attribution_stream(df: DataFrame) -> DataFrame:
    """Streaming twin of the registered `attribution_last_touch` batch
    lane: per-user LAST-NON-PURCHASE-TOUCH state (one short string per
    key, O(keys), unbounded-stream safe) — the same last-state shape
    as transitions_stream, emitting one attributed purchase row
    (user_id, channel, cents) per purchase event; purchases before any
    touch attribute to 'direct'. Revenue is exact integer cents
    (floor(value*100 + 0.5), the batch lane's convention), so the
    per-channel report — ONE mergeable aggregate over this lane's
    output — folds micro-batch increments without reprocessing and
    matches the batch lane bit-for-bit. Assumes per-key in-order
    delivery (count_windows_stream contract)."""
    import math

    out_schema = "user_id long, channel string, cents long"

    def fold(user, rows, last):
        out = []
        for et, val in zip(rows["event_type"], rows["value"]):
            if et == "purchase":
                out.append(
                    (user, last if last is not None else "direct",
                     int(math.floor(float(val) * 100.0 + 0.5)))
                )
            else:
                last = str(et)
        return last, out

    return _keyed_state(df, "user_id", out_schema, lambda: None, fold)


def sliding_windows_stream(df: DataFrame, watermark: str | None = "1 minute") -> DataFrame:
    """Streaming twin of `win_sliding`: the identical declarative plan
    (1h windows sliding every 15min), watermarked so append mode is the
    default path — each window's state is dropped once the watermark
    passes its end, which is the only configuration whose state stays
    bounded on an unbounded stream (complete mode rematerializes the
    whole result table every micro-batch). ``watermark=None`` opts out
    for complete/update-mode experiments; the append-mode closed-window
    equivalence is asserted in tests/test_stream_twins.py."""
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def ohlc_stream(df: DataFrame, watermark: str | None = "1 minute") -> DataFrame:
    """Streaming twin of `events_ohlc` (plans/timeseries.py): per
    (type, hour) candlestick bars maintained incrementally. Open/close
    are ``min_by``/``max_by`` over the (ts, event_id) ordering struct —
    a MERGEABLE aggregate (state keeps the current extremum and its
    ordering key), so micro-batch arrival order cannot change the
    result; event_id uniqueness makes the selection tie-free. Volume
    is the same per-row-integerized exact sum as the batch lane.
    Append + watermark keeps per-window state bounded; equivalence to
    the batch bars is asserted in tests/test_stream_twins.py."""
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    order = F.struct("ts", "event_id")
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", order).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", order).alias("close_v"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(1000 * F.col("value")).cast("bigint")).alias(
                "vol_milli"
            ),
        )
        .select(
            "event_type",
            F.unix_timestamp("w.start").alias("hour_epoch"),
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "n_events",
            "vol_milli",
        )
    )


def session_windows_stream(df: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Streaming twin of `win_session`: F.session_window with the same
    10-minute inactivity gap the batch gaps-and-islands uses
    (ref: lib/wallaroo/core/windows/ephemeral_window.pony). Sessions
    merge incrementally across micro-batches; complete mode (or append
    + watermark) yields the final merged sessions."""
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.floor(F.unix_timestamp("w.start")).cast("bigint").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def ann_probe_foreach_batch(spark, index_table: str, output_path: str, top_k: int = 5):
    """Streaming similarity service: returns a foreachBatch function
    that probes the persistent banded-LSH index
    (operators/ann_index.py) with each micro-batch of
    (query_id, embedding) vectors and appends ranked neighbors to
    `output_path`. The steady-state serving shape at 100 TB: the
    corpus index is built once, bucketed on disk; each arriving query
    batch is signed (one Arrow matmul), joined against only its
    buckets, and exactly re-ranked — no corpus scan, no state store;
    the index IS the state. Per-query top-k is self-contained in the
    query's own batch, so micro-batching cannot change results
    (equivalence with the batch probe asserted in
    tests/test_stream_twins.py).

    Attach with:
      queries_sdf.writeStream.foreachBatch(
          ann_probe_foreach_batch(spark, table, out)).start()
    """
    from wally_spark.operators.ann_index import query_ann_index

    def probe(batch_df, batch_id):
        out = query_ann_index(spark, index_table, batch_df, top_k=top_k)
        out.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            output_path
        )

    return probe



TOMBSTONE = "_superseded"  # marker file inside a compaction-superseded dir


def _tombstone_value(spark, dir_path: str) -> int | None:
    """The ``upto`` recorded in ``dir_path``'s tombstone marker, or
    None when the dir is live (no marker)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{TOMBSTONE}")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        txt = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(txt.strip() or -1)


def _write_marker(spark, path: str, content: str) -> None:
    """Atomically-enough write of a tiny marker file (overwrite=True)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


STORE_FORMAT_MARKER = "_WALLY_STORE_FORMAT"


def ensure_store_format(
    spark, base: str, fmt: str, required_cols: tuple = ()
) -> None:
    """Validate (and stamp) the on-disk format of a persistent store.

    Store layouts evolve (the near-dedup signature store moved from
    per-doc rows to band-exploded rows in r7); probing a store written
    by an older layout silently readmits historical duplicates (r7
    ADVICE). This guard makes the mismatch LOUD: a ``fmt`` marker file
    is stamped at ``base`` on first use, and every later use refuses a
    store whose marker disagrees. Pre-marker stores are grandfathered
    by schema check: if any existing corpus dir is missing one of
    ``required_cols``, the store predates ``fmt`` — raise with a
    migration hint instead of probing garbage."""
    jvm = spark._jvm
    hbase = jvm.org.apache.hadoop.fs.Path(base)
    fs = hbase.getFileSystem(spark._jsc.hadoopConfiguration())
    marker = jvm.org.apache.hadoop.fs.Path(f"{base}/{STORE_FORMAT_MARKER}")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            got = (
                jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            ).strip()
        finally:
            stream.close()
        if got != fmt:
            raise ValueError(
                f"store at {base} has format {got!r}, lane expects "
                f"{fmt!r}: migrate (rebuild via compact_corpus after "
                "re-signing) or point the lane at a fresh store"
            )
        return
    dirs = corpus_dirs(spark, base)
    if dirs and required_cols:
        cols = set(spark.read.parquet(*dirs).columns)
        missing = [c for c in required_cols if c not in cols]
        if missing:
            raise ValueError(
                f"store at {base} predates format {fmt!r} (existing "
                f"dirs lack column(s) {missing}): rebuild the store "
                "from source documents before probing, or start a "
                "fresh store path"
            )
    _write_marker(spark, f"{base}/{STORE_FORMAT_MARKER}", fmt)


def corpus_dirs(spark, base: str, exclude_batch: int | None = None) -> list[str]:
    """Resolve a persistent corpus under ``base``: the NEWEST
    ``compacted_upto_<N>`` directory (if any) plus every per-batch
    ``b<i>`` directory with i > N, excluding ``exclude_batch``'s own
    dir. This is the single read path every *_against_corpus lane uses.

    Crash-safe by resolution order: compact_corpus writes the new
    compacted dir BEFORE deleting its inputs, so a crash in between
    leaves both — and this resolver ignores any b<i> with i <= N and
    any older compacted dir, so readers never double-count. An absent
    ``base`` is an explicitly empty corpus; IO errors propagate."""
    import re

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    comps: list[tuple[int, str]] = []
    batches: dict[int, str] = {}
    static: list[str] = []
    for st in fs.listStatus(hpath) or []:
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        path = str(st.getPath())
        m = re.fullmatch(r"compacted_upto_(\d+)", name)
        if m:
            if _tombstone_value(spark, path) is None:
                comps.append((int(m.group(1)), path))
            continue
        m = re.fullmatch(r"b(\d+)", name)
        if m:
            # tombstoned dirs (superseded by a newer compacted dir,
            # awaiting deferred deletion) are resolution-invisible:
            # their rows live in the compacted dir
            if _tombstone_value(spark, path) is None:
                batches[int(m.group(1))] = path
        elif name.startswith("b"):
            # non-numeric b* dir = STATIC import (pre-seeded history):
            # always included, never excluded or compacted
            static.append(path)
    out: list[str] = sorted(static)
    hi = -1
    if comps:
        hi, newest = max(comps)
        out.append(newest)
    for i in sorted(batches):
        if i <= hi or i == exclude_batch:
            continue
        out.append(batches[i])
    return out


def corpus_table_name(base: str) -> str:
    """Deterministic catalog name for ``base``'s bucketed compacted
    corpus: derived from the path so every session (and every lane)
    resolves the same table without coordination."""
    import hashlib

    return "wally_corpus_" + hashlib.md5(base.rstrip("/").encode()).hexdigest()[:10]


def _table_location(spark, table: str) -> str | None:
    """Resolved LOCATION of ``table`` (scheme stripped), or None."""
    if not spark.catalog.tableExists(table):
        return None
    loc = next(
        (
            r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            if r.col_name == "Location"
        ),
        None,
    )
    if loc is None:
        return None
    return loc.split("://", 1)[-1].replace("file:", "", 1).rstrip("/")


def corpus_probe_parts(
    spark, base: str, exclude_batch: int | None = None
) -> list:
    """Resolve ``base`` for a probe join as a LIST of DataFrames
    instead of one glob read: the bucketed compacted table first (when
    ``compact_corpus(bucket_key=...)`` registered one for the newest
    compacted dir), then one plain read of the uncompacted per-batch
    tail. A lane that folds an anti-join/semi-join over the parts
    sequentially gets the same rows as the single-glob read — but the
    compacted part (the corpus' bulk) joins WITHOUT an Exchange or
    sort on its side (bucketed SortMergeJoin: only the tiny arriving
    batch shuffles), which is what keeps per-batch probe cost O(batch
    + tail), not O(corpus), as batches accumulate toward 100 TB.

    Falls back to the plain read for every dir when no table is
    registered (fresh session before the next compaction, or an
    unbucketed corpus) — resolution semantics are corpus_dirs',
    unchanged."""
    dirs = corpus_dirs(spark, base, exclude_batch=exclude_batch)
    if not dirs:
        return []
    comp = [d for d in dirs if d.rsplit("/", 1)[-1].startswith("compacted_upto_")]
    tail = [d for d in dirs if not d.rsplit("/", 1)[-1].startswith("compacted_upto_")]
    parts = []
    tbl = corpus_table_name(base)
    if comp:
        loc = _table_location(spark, tbl)
        want = comp[0].split("://", 1)[-1].replace("file:", "", 1).rstrip("/")
        if loc == want:
            parts.append(spark.table(tbl))
        else:
            tail = comp + tail
    if tail:
        parts.append(spark.read.parquet(*tail))
    return parts


def compact_corpus(
    spark,
    base: str,
    upto: int,
    n_files: int = 8,
    bucket_key: str | None = None,
    n_buckets: int = 32,
    max_bucket: int | None = None,
    fold=None,
) -> None:
    """Fold every ``b<i>`` (i <= upto) plus any older compacted dir
    into ONE ``compacted_upto_<upto>`` directory and delete the inputs
    — the maintenance job that keeps *_against_corpus probes reading
    O(1) directories as batches accumulate (at 100 TB, also the place
    to bucket the output by its join key and drop MAX_BUCKET-oversized
    buckets).

    Semantics-preserving by construction: compaction CONCATENATES rows
    only — count corpora stay mergeable (the lanes' folds aggregate on
    read) and content corpora tolerate duplicate rows across inputs.
    ``fold``: optional ``DataFrame -> DataFrame`` applied to the
    concatenated rows before writing — for ASSOCIATIVE-partial corpora
    (the RFM profile store's max/sum triples, NB class counts) it
    collapses per-key partials to one row per key, so the compacted
    dir is bounded by the KEY set, not batches × keys. The fold must
    be the same merge the lanes run on read (fold(concat(a, b)) ≡
    fold(concat(fold(a), b))), which associative aggregates satisfy;
    everything else (crash-safety, idempotent retry, static-dir
    handling, bucketing) is unchanged.
    Static ``b<name>`` imports (non-numeric suffix) are standing
    history: never folded, never deleted. Crash-safe AND idempotent:
    the new dir is written before anything else changes; a crash in
    between leaves extra dirs that corpus_dirs ignores, and a re-run
    with the same ``upto`` detects the existing target and only
    finishes the pending tombstones/deletes (it never re-reads a dir
    it is about to overwrite). Call it only for batches at least one
    behind the stream's committed offset — a foreachBatch replay
    revisits the LAST batch, and own-batch exclusion cannot reach
    inside a compacted dir.

    SAFE TO RUN CONCURRENTLY with lane micro-batches (r7 verdict):
    superseded inputs are never deleted in the cycle that supersedes
    them. Cycle N writes its target, then TOMBSTONES its inputs (a
    ``_superseded`` marker file inside each — parquet readers ignore
    ``_``-prefixed files, so a lane that resolved corpus_dirs just
    before the swap still reads its snapshot consistently); cycle N+1
    deletes dirs tombstoned by earlier cycles. Tombstoned dirs are
    invisible to corpus_dirs resolution (their rows live in the newer
    compacted dir) and are excluded from later compactions' inputs,
    so nothing is ever double-counted. The reader-safety window is
    one full compaction cycle — longer than any micro-batch.

    ``bucket_key``: when set, the compacted dir is written BUCKETED on
    that key (hash-clustered files + a catalog table named
    corpus_table_name(base) with explicit path) — probes through
    corpus_probe_parts then SortMergeJoin against the corpus with no
    Exchange/sort on the corpus side, so probe cost stays O(arriving
    batch + uncompacted tail) as the corpus grows. The dir stays plain
    parquet on disk: path-based readers (corpus_dirs glob) keep
    working unchanged, so bucketing is a pure probe-side upgrade.
    ``max_bucket``: drop rows of any bucket_key group larger than this
    before writing — a hot probe key (a million near-identical band
    signatures) multiplies EVERY probe that lands in it; past
    max_bucket the group's verdict is already decided by its first
    members, exactly the MAX_BUCKET contract of the batch LSH lanes
    (plans/dedup.py)."""
    import re

    jvm = spark._jvm
    hbase = jvm.org.apache.hadoop.fs.Path(base)
    fs = hbase.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hbase):
        return
    comps: list[tuple[int, str]] = []
    batches: list[str] = []
    doomed: list[str] = []  # tombstoned by an EARLIER cycle → delete now
    for st in fs.listStatus(hbase) or []:
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        path = str(st.getPath())
        m = re.fullmatch(r"compacted_upto_(\d+)", name)
        m2 = re.fullmatch(r"b(\d+)", name) if not m else None
        if not m and not m2:
            continue
        tomb = _tombstone_value(spark, path)
        if tomb is not None:
            # already folded into a newer compacted dir: never an input
            # again; delete once a full cycle has passed (tomb != upto)
            if tomb != upto:
                doomed.append(path)
            continue
        if m:
            n = int(m.group(1))
            if n > upto:
                raise ValueError(
                    f"corpus already compacted past {upto}: {name}"
                )
            comps.append((n, path))
        elif int(m2.group(1)) <= upto:
            batches.append(path)

    def tombstone(dirs: list[str]) -> None:
        for d in dirs:
            _write_marker(spark, f"{d}/{TOMBSTONE}", str(upto))

    def reap() -> None:
        for d in doomed:
            fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)

    stale = [p for n, p in comps if n < upto] + batches
    if any(n == upto for n, _ in comps):
        # Retry after a crash mid-swap: the target already holds every
        # row <= upto; finish the pending tombstones and reap old ones.
        tombstone(stale)
        reap()
        return
    if not stale:
        reap()
        return
    target = f"{base}/compacted_upto_{upto}"
    df = spark.read.parquet(*stale)
    if fold is not None:
        df = fold(df)
    if bucket_key is None:
        df.coalesce(n_files).write.mode("overwrite").parquet(target)
    else:
        if max_bucket is not None:
            small = (
                df.groupBy(bucket_key)
                .count()
                .where(F.col("count") <= max_bucket)
                .select(bucket_key)
            )
            df = df.join(small, bucket_key, "left_semi")
        tbl = corpus_table_name(base)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.mode("overwrite")
            .option("path", target)
            .bucketBy(n_buckets, bucket_key)
            .sortBy(bucket_key)
            .saveAsTable(tbl)
        )
    # Deferred deletion: this cycle's inputs are only TOMBSTONED (live
    # readers that resolved dirs pre-swap keep reading them); dirs
    # tombstoned by earlier cycles are reaped now.
    tombstone(stale)
    reap()


def dedup_against_corpus_foreach_batch(
    spark, seen_path: str, out_path: str, key_cols: list[str] | None = None
):
    """Incremental corpus dedup: returns a foreachBatch function that
    drops every arriving document whose content hash is already in the
    persistent `seen_path` table (the accumulated corpus), appends the
    survivors to `out_path`, and registers their hashes — the
    streaming face of dedup_exact for a crawl that must dedup against
    EVERYTHING ingested before, not just the current watermark window
    (dropDuplicatesWithinWatermark's scope).

    Scale shape: the anti-join is hash-keyed (uniform md5 — no skew);
    at 100 TB `seen_path` is a bucketed-by-hash table so the join is
    scan-side, and compaction of the hash table is an offline
    housekeeping job. Batch-internal dups collapse via the same hash
    before the join.

    Idempotence: foreachBatch is at-least-once, so each batch writes
    its OWN subdirectory (`b<batch_id>`) with overwrite — a replay
    after a partial failure rewrites the same directory instead of
    appending duplicates. `seen_path`/`out_path` are therefore
    directories of per-batch parquet dirs, read back with a glob."""
    from pyspark.sql import Window

    key_cols = key_cols or ["text"]

    def prior_parts(batch_id: int) -> list:
        """Corpus probe parts EXCLUDING this batch's own dir (a replay
        after a partial failure must not anti-join against its previous
        attempt's hashes — that would drop its own docs). Shared
        resolver handles compaction markers and empty corpora; when the
        corpus was compacted with bucket_key="content_hash" the bulk
        part anti-joins with no corpus-side Exchange."""
        return corpus_probe_parts(spark, seen_path, exclude_batch=batch_id)

    def dedup(batch_df, batch_id):
        # null-tag every key column: without it concat_ws skips NULLs,
        # making ('a', NULL) / (NULL, 'a') / ('a', '') hash-collide and
        # distinct documents get dropped as duplicates
        tagged = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x01<NULL>")) for c in key_cols
        ]
        h = F.md5(F.concat_ws("\x00", *tagged).cast("binary"))
        hashed = batch_df.withColumn("content_hash", h)
        # collapse intra-batch dups deterministically
        hashed = (
            hashed.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("content_hash").orderBy(*key_cols)
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        fresh = hashed
        for seen in prior_parts(batch_id):
            # sequential anti-joins over the parts ≡ one anti-join
            # against their union; the bucketed part joins scan-side
            fresh = fresh.join(
                seen.select("content_hash"), "content_hash", "left_anti"
            )
        fresh = fresh.localCheckpoint()
        fresh.drop("content_hash").write.mode("overwrite").parquet(
            f"{out_path}/b{batch_id}"
        )
        fresh.select("content_hash").write.mode("overwrite").parquet(
            f"{seen_path}/b{batch_id}"
        )

    return dedup


def neardedup_against_corpus_foreach_batch(
    spark,
    sigs_path: str,
    out_path: str,
    min_matching_hashes: int = 6,
):
    """Incremental NEAR-duplicate corpus dedup — the continuous-crawl
    companion to dedup_against_corpus_foreach_batch (which is exact):
    each arriving document's MinHash signature (plans/dedup.py, 8
    md5-minhashes over 3-word shingles) is banded and probed against
    the PERSISTENT signature store; a band collision makes it a
    candidate, and the minhash similarity estimate (matching hashes /
    8, an unbiased Jaccard estimator) decides the drop. Survivors'
    signatures append to the store.

    The store is BAND-EXPLODED: one row per (band_key, doc_id)
    carrying the full 8-hash signature (~n_bands rows per doc, narrow).
    That buys two things at 100 TB: (1) candidate collision and the
    matching-hash verify FUSE into a single band_key-equi join — no
    second join back to a per-doc signature table; (2) the store
    compacts BUCKETED on band_key (compact_corpus(bucket_key=
    "band_key"), corpus_probe_parts) so the corpus bulk joins with no
    corpus-side Exchange — only the arriving batch shuffles, keeping
    per-batch probe cost O(batch + tail), not O(corpus). Compaction's
    max_bucket drops pathological hot bands (a million near-identical
    signatures multiply every probe landing on them — those documents
    are exact-dedup's job).

    Intra-batch near-dups resolve first (keep the lowest doc_id of a
    matching pair — deterministic under replay), then the batch probes
    the store. Idempotence: per-batch overwrite dirs, own-batch dir
    excluded from the probe (same replay contract as the exact
    variant).

    min_matching_hashes=6 of 8 ≈ Jaccard ≥ 0.75 expected.

    The store carries a format marker (``ensure_store_format``): a
    pre-existing store written by the retired per-doc layout fails
    LOUDLY at lane construction instead of silently readmitting
    historical near-duplicates (r7 ADVICE)."""
    from wally_spark.plans.dedup import BAND_ROWS, N_HASHES, minhash_signatures

    ensure_store_format(
        spark,
        sigs_path,
        "neardedup-band-exploded-v2",
        required_cols=("band_key", "band_id", "doc_id", "mh0"),
    )
    n_bands = N_HASHES // BAND_ROWS

    def bands_of(sigs):
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    # band_id folded into the key (":"-separated like
                    # the batch band build — bigint minhashes of
                    # different digit lengths must not collide by plain
                    # concatenation) so every join needs ONE key, which
                    # is also the store's bucket key
                    F.concat_ws(
                        ":",
                        F.lit(b),
                        F.col(f"mh{BAND_ROWS * b}"),
                        F.col(f"mh{BAND_ROWS * b + 1}"),
                    ).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
        return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
            "doc_id", "b.band_id", "b.band_key"
        )

    def n_matching(a_prefix, b_prefix):
        m = None
        for h in range(N_HASHES):
            t = F.when(
                F.col(f"{a_prefix}mh{h}") == F.col(f"{b_prefix}mh{h}"), 1
            ).otherwise(0)
            m = t if m is None else m + t
        return m

    def a_sig(df):
        return df.select(
            "doc_id", *[F.col(f"mh{h}").alias(f"a_mh{h}") for h in range(N_HASHES)]
        )

    def dedup(batch_df, batch_id):
        sigs = minhash_signatures(batch_df).localCheckpoint()
        batch_keyed = batch_df.join(sigs.select("doc_id"), "doc_id")

        # 1) intra-batch: drop the HIGHER doc_id of any matching pair
        bands = bands_of(sigs)
        intra_cand = (
            bands.alias("x")
            .join(
                bands.alias("y"),
                (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
            )
            .distinct()
        )
        sa = a_sig(sigs).withColumnRenamed("doc_id", "doc_a")
        sb = sigs.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"mh{h}").alias(f"b_mh{h}") for h in range(N_HASHES)],
        )
        intra_dups = (
            intra_cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .where(n_matching("a_", "b_") >= min_matching_hashes)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        sigs1 = sigs.join(intra_dups, "doc_id", "left_anti")

        # 2) cross-store probe: one fused join per store part — the
        # exploded store row already carries the matched signature
        probe = bands_of(sigs1).join(a_sig(sigs1), "doc_id")
        dup_ids = None
        for part in corpus_probe_parts(spark, sigs_path, exclude_batch=batch_id):
            hits = (
                probe.join(
                    part.select(
                        "band_key",
                        *[
                            F.col(f"mh{h}").alias(f"b_mh{h}")
                            for h in range(N_HASHES)
                        ],
                    ),
                    "band_key",
                )
                .where(n_matching("a_", "b_") >= min_matching_hashes)
                .select("doc_id")
                .distinct()
            )
            dup_ids = hits if dup_ids is None else dup_ids.unionByName(hits)
        survivors = (
            sigs1
            if dup_ids is None
            else sigs1.join(dup_ids, "doc_id", "left_anti")
        )
        survivors = survivors.localCheckpoint()

        batch_keyed.join(survivors.select("doc_id"), "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/b{batch_id}")
        # persist band-EXPLODED signature rows: (band_key, band_id,
        # doc_id, mh0..7) — the format that makes the probe a single
        # (bucketable) join
        bands_of(survivors).join(survivors, "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{sigs_path}/b{batch_id}")

    return dedup


def hourly_dedup_stream(df: DataFrame, watermark: str = "1 minute") -> DataFrame:
    """Streaming twin of the registered `events_dedup_hourly` batch
    query, built as two CHAINED stateful aggregations in append mode
    (Spark 3.5+ chained time-window aggregation): first a per
    (1h-window, event_type, user_id) count whose state closes when the
    watermark passes the window end, then a re-window over the closed
    windows into the per (hour, type) dedup summary — n_users counts
    the distinct users (one row each from stage 1, the windowed dedup),
    n_events sums their raw counts. No count(DISTINCT) — which
    streaming aggregation forbids — and state at both stages is
    watermark-bounded, so the plan runs unmodified on an unbounded
    stream."""
    per_user = (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_user.groupBy(F.window("w", "1 hour").alias("w2"), "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )
        .select(
            F.col("w2.start").alias("hour"),
            "event_type",
            "n_events",
            "n_users",
            (F.col("n_events") - F.col("n_users")).cast("bigint").alias("n_dups"),
        )
    )


def mix_drift_foreach_batch(
    spark,
    counts_path: str,
    alerts_path: str,
    ref_shares_bp: dict,
    drift_bp: int = 500,
):
    """Streaming corpus-mix drift monitor — the incremental face of
    corpus_mix_report: as documents stream in, maintain RUNNING
    per-(lang, source) character totals and alert when any cell's
    running share drifts more than ``drift_bp`` basis points from the
    reference mix (``ref_shares_bp``: {(lang, source): share_bp}).

    A training-data ingest team runs exactly this: the target mix is a
    design decision (so many parts code, so many parts each language),
    and a crawler or loader gone wrong shows up as share drift long
    before it shows up in model metrics.

    Shapes and guarantees (mirrors dedup_against_corpus_foreach_batch):
    - per batch: ONE tiny groupBy over the arriving docs (cells are
      few), written to ``counts_path/b<batch_id>`` with overwrite —
      foreachBatch is at-least-once, so a replay rewrites its own
      directory instead of double-counting;
    - running totals re-aggregate the per-batch cell files (cells ×
      batches rows — KBs at any corpus size; the corpus itself is
      never rescanned);
    - alerts for this batch land in ``alerts_path/b<batch_id>``
      (overwrite, same idempotence) with the running share, the
      reference share, and the signed drift. NULL lang/source are
      first-class cells (they usually ARE the bug being caught).
    - integer basis points end-to-end (the registry's float-free
      convention), so replays and engines agree bit-for-bit.
    """

    ref_rows = [
        (k[0], k[1], int(v)) for k, v in sorted(ref_shares_bp.items())
    ]

    def monitor(batch_df, batch_id):
        b = spark.createDataFrame
        cells = (
            batch_df.groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("chars"),
            )
        )
        cells.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        running = (
            spark.read.parquet(*corpus_dirs(spark, counts_path))
            .groupBy("lang", "source")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("chars").cast("bigint").alias("chars"),
            )
        )
        total = running.agg(F.sum("chars")).collect()[0][0] or 0
        ref = b(
            ref_rows, "lang string, source string, ref_bp long"
        )
        shares = running.withColumn(
            "share_bp",
            ((10000 * F.col("chars")) / F.lit(max(total, 1)))
            .cast("bigint"),
        )
        # full outer: a cell MISSING from the stream but present in the
        # reference is drift too (share 0), and an unexpected new cell
        # has reference 0
        joined = shares.join(
            ref, ["lang", "source"], "full_outer"
        ).select(
            "lang",
            "source",
            F.coalesce("share_bp", F.lit(0)).alias("share_bp"),
            F.coalesce("ref_bp", F.lit(0)).alias("ref_bp"),
            (
                F.coalesce("share_bp", F.lit(0))
                - F.coalesce("ref_bp", F.lit(0))
            ).alias("drift"),
        )
        alerts = joined.where(
            F.abs(F.col("drift")) > drift_bp
        ).withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        alerts.write.mode("overwrite").parquet(f"{alerts_path}/b{batch_id}")

    return monitor


def read_mix_alerts(spark, alerts_path: str) -> DataFrame:
    """All drift alerts recorded so far (empty DataFrame if none)."""
    try:
        return spark.read.parquet(f"{alerts_path}/b*")
    except Exception:
        return spark.createDataFrame(
            [],
            "lang string, source string, share_bp bigint, ref_bp bigint,"
            " drift bigint, batch_id bigint",
        )


def substring_dup_against_corpus_foreach_batch(
    spark, grams_path: str, out_path: str
):
    """Incremental ExactSubstr — the streaming face of the batch
    `dedup_substring` query: every arriving document's anchor grams
    probe the PERSISTENT gram table (every anchor ever ingested), plus
    intra-batch cross-doc duplicates, and the merged duplicated-span
    report (n_spans / dup_tokens / dup_bp per doc) lands in
    ``out_path/b<batch_id>``. The batch's own distinct grams are then
    registered in ``grams_path/b<batch_id>`` so later batches see
    them. Detects a crawl re-serving passages of anything ingested
    before — not just within the current watermark window.

    Shapes (mirrors dedup_against_corpus_foreach_batch): gram-keyed
    joins on the uniform anchor hash (no skew); at 100 TB ``grams_path`` is
    compacted offline into a bucketed-by-gram table so the probe is
    scan-side. Idempotence: per-batch overwrite dirs; a replay excludes
    its OWN prior gram registration (matching against it would flag
    every passage of the replayed batch as a duplicate of itself).
    Duplicate grams across batch dirs are harmless to the island merge
    (same positions, same spans) but are distinct-ed for join cost."""
    from wally_spark.operators.checkpoint import pin
    from wally_spark.plans.curation import (
        anchor_gram_docs,
        explode_anchor_grams,
        substring_span_report,
    )

    def prior_batch_dirs(batch_id: int) -> list[str]:
        return corpus_dirs(spark, grams_path, exclude_batch=batch_id)

    def proc(batch_df, batch_id):
        # pinned: the batch's gram arrays feed the report join, the
        # zero-span doc list, AND the gram registration
        base = pin(anchor_gram_docs(batch_df))
        ex = explode_anchor_grams(base)
        intra = (
            ex.groupBy("gram")
            .agg(F.min("doc_id").alias("a"), F.max("doc_id").alias("b"))
            .where(F.col("a") != F.col("b"))
            .select("gram")
        )
        dirs = prior_batch_dirs(batch_id)
        if dirs:
            corpus = spark.read.parquet(*dirs).select("gram")
            dup_grams = intra.union(corpus).distinct()
        else:
            dup_grams = intra
        report = substring_span_report(ex, dup_grams, base)
        report.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        ex.select("gram").distinct().write.mode("overwrite").parquet(
            f"{grams_path}/b{batch_id}"
        )

    return proc


def nb_score_against_corpus_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental Naive-Bayes quality gate — the streaming face of the
    batch `doc_nb_classifier`: every batch's per-class token counts and
    doc counts persist to ``counts_path`` (per-batch dirs), the model
    (top-V + UNK integer log-odds, plans/curation.nb_model) is folded
    from EVERYTHING ingested so far — including the current batch,
    matching the batch query's train-on-corpus shape — and the batch's
    scores land in ``out_path/b<batch_id>``. The filter gets sharper as
    the corpus accumulates, with no retraining job: training is
    count-merging.

    Scale shape: per-batch counts are (vocab_batch x 3) rows; the fold
    is one word-keyed aggregate over count rows (not text); the weight
    table is ≤ NB_VOCAB rows broadcast. Idempotence: per-batch
    overwrite dirs — a replayed batch overwrites its OWN counts (the
    fold sums replacements, never duplicates) and re-scores
    identically."""
    from wally_spark.plans.curation import (
        _nb_unk_w,
        _words_col,
        nb_doc_counts,
        nb_model,
        nb_scored_counts,
        nb_token_counts,
    )

    def all_dirs(base: str) -> list[str]:
        return corpus_dirs(spark, base)

    def proc(batch_df, batch_id):
        nb_token_counts(batch_df).write.mode("overwrite").parquet(
            f"{counts_path}/tok/b{batch_id}"
        )
        nb_doc_counts(batch_df).write.mode("overwrite").parquet(
            f"{counts_path}/doc/b{batch_id}"
        )
        train = (
            spark.read.parquet(*all_dirs(f"{counts_path}/tok"))
            .groupBy("word")
            .agg(
                F.sum("c1").cast("bigint").alias("c1"),
                F.sum("c0").cast("bigint").alias("c0"),
            )
        )
        doc_tot = spark.read.parquet(*all_dirs(f"{counts_path}/doc")).agg(
            F.sum("n1").cast("bigint").alias("n1"),
            F.sum("n0").cast("bigint").alias("n0"),
        )
        weights, stats, priors = nb_model(train, doc_tot)
        tok = batch_df.select("doc_id", F.explode(_words_col()).alias("word"))
        score = F.col("pw") + F.col("seen_w") + F.col("n_unk") * _nb_unk_w()
        out = (
            nb_scored_counts(tok, weights)
            .crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(priors))
            .select(
                "doc_id",
                "n_tokens",
                score.cast("bigint").alias("score_mnat"),
                F.when(score > 0, 1).otherwise(0).cast("bigint").alias("pred_en"),
            )
        )
        out.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")

    return proc


def bpe_pairs_against_corpus_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental BPE merge-pair statistics — the streaming face of
    the batch `bpe_merge_pairs`: each batch's (word, count) vocabulary
    increment persists to ``counts_path/b<batch_id>``; the folded
    corpus vocabulary re-derives adjacent-char pair counts and the
    current top-BPE_TOP merge ranking lands in ``out_path/b<batch_id>``
    — the tokenizer-training statistic stays continuously current as a
    crawl ingests, with no retraining job (training is count-merging,
    the nb_score_against_corpus_foreach_batch contract).

    Scale shape: per-batch increments are vocabulary-sized (words, not
    tokens — the explode collapses batch-side with map-side combine);
    the fold is one word-keyed aggregate over count rows; pair
    explosion runs over the folded vocabulary only. Idempotence:
    per-batch overwrite dirs — a replay overwrites its own increment
    and re-ranks identically."""
    from pyspark.sql import Window

    from wally_spark.plans.curation import BPE_TOP, _words_col

    def all_dirs(base: str) -> list[str]:
        return corpus_dirs(spark, base)

    def proc(batch_df, batch_id):
        (
            batch_df.select(F.explode(_words_col()).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("c"))
            .write.mode("overwrite")
            .parquet(f"{counts_path}/b{batch_id}")
        )
        wc = (
            spark.read.parquet(*all_dirs(counts_path))
            .groupBy("word")
            .agg(F.sum("c").alias("c"))
        )
        pairs = wc.where(F.length("word") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(word) - 1, 1)),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
            "c",
        )
        agg = pairs.groupBy("pair").agg(
            F.sum("c").cast("bigint").alias("pair_count")
        )
        top = agg.orderBy(F.desc("pair_count"), "pair").limit(BPE_TOP)
        rank_w = Window.orderBy(F.desc("pair_count"), "pair")
        (
            top.select(
                F.row_number().over(rank_w).cast("bigint").alias("rank"),
                "pair",
                "pair_count",
            )
            .write.mode("overwrite")
            .parquet(f"{out_path}/b{batch_id}")
        )

    return proc


def sliding_uniques_foreach_batch(
    spark, presence_path: str, out_path: str, slide_hours: int = 6
):
    """Streaming face of the registered `sliding_distinct_users` batch
    lane (plans/sequence.py): maintains a persistent DEDUPED
    (user_id, hour) presence store and republishes the trailing
    ``slide_hours`` sliding distinct-user report each micro-batch.

    Why not chained append-mode aggregation: the batch lane's explode
    maps each presence pair to up to ``slide_hours`` window ends — a
    derived event-time column that Spark's chained stateful operators
    cannot watermark-track — and streaming aggregation forbids
    count(DISTINCT). The corpus pattern sidesteps both: the stateful
    part is an md5-free exact anti-join dedup against the accumulated
    presence store (same shape as dedup_against_corpus_foreach_batch),
    and the report recomputes from the store, which holds ONE ROW per
    (user, hour) — bounded by users x hours, not event volume, so the
    per-batch recompute stays cheap at 100 TB event throughput.

    Idempotence: each batch writes only its NEWLY-SEEN pairs into its
    own ``b<batch_id>`` dir with overwrite; a replay rewrites the same
    dir and republishes an identical report. The store supports
    compact_corpus(bucket_key="user_id") like every other corpus."""

    def proc(batch_df, batch_id):
        pairs = batch_df.select(
            "user_id", F.date_trunc("hour", "ts").alias("h")
        ).distinct()
        fresh = pairs
        for seen in corpus_probe_parts(spark, presence_path, exclude_batch=batch_id):
            fresh = fresh.join(seen, ["user_id", "h"], "left_anti")
        fresh = fresh.localCheckpoint()
        fresh.write.mode("overwrite").parquet(f"{presence_path}/b{batch_id}")

        parts = corpus_probe_parts(spark, presence_path, exclude_batch=batch_id)
        uh = fresh
        for p in parts:
            uh = uh.unionByName(p)
        hours = uh.select("h").distinct()
        ex = uh.select(
            "user_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {slide_hours - 1}),"
                    " i -> h + make_interval(0, 0, 0, 0, i, 0, 0))"
                )
            ).alias("wend"),
        )
        report = (
            ex.join(hours.hint("broadcast"), ex["wend"] == hours["h"], "left_semi")
            .groupBy("wend")
            .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
            .select(
                F.unix_timestamp("wend").cast("bigint").alias("wend_epoch"),
                "n_users",
            )
        )
        report.write.mode("overwrite").parquet(out_path)

    return proc


def decode_route_streams(df: DataFrame):
    """Streaming dead-letter routing for the JSON decode path — the
    stream face of the registered `events_decode_audit` batch lane
    (plans/sequence.py): returns (ok, dlq) DataFrames from one input
    stream. `ok` carries the decoded integer key; `dlq` carries the
    raw row plus its verdict (malformed / missing_k / out_of_range)
    so the quarantine sink preserves everything needed for replay
    after a decoder fix.

    Both branches are STATELESS projections/filters — they attach to
    any sink in append mode with no watermark or state store, and the
    verdict expression is shared with the batch lane's oracle-checked
    routing (corrupt-record from_json for syntax errors, try_cast for
    the type verdict, ANSI-safe)."""
    parsed = F.from_json(
        "props",
        "k string, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    k = F.get_json_object("props", "$.k").try_cast("int")
    verdict = (
        F.when(
            F.col("props").isNull() | parsed["_corrupt"].isNotNull(),
            "malformed",
        )
        .when(k.isNull(), "missing_k")
        .when(k.between(0, 99), "ok")
        .otherwise("out_of_range")
    )
    tagged = df.withColumn("verdict", verdict)
    ok = tagged.where(F.col("verdict") == "ok").withColumn("k", k).drop("verdict")
    dlq = tagged.where(F.col("verdict") != "ok")
    return ok, dlq


def rfm_profile_fold(df: DataFrame) -> DataFrame:
    """Associative merge of RFM profile partials — the read-time fold
    of rfm_foreach_batch and the ``fold=`` argument that lets
    compact_corpus collapse the profile store to ONE row per user."""
    return df.groupBy("user_id").agg(
        F.max("last_ts").alias("last_ts"),
        F.sum("freq").cast("bigint").alias("freq"),
        F.sum("monetary_milli").cast("bigint").alias("monetary_milli"),
    )


def rfm_foreach_batch(spark, profile_path: str, out_path: str):
    """Streaming face of the registered `user_rfm_segments` batch lane
    (plans/analytics_ext.py): maintains a persistent per-user PROFILE
    corpus and republishes the full RFM quartile grid each micro-batch.

    The profile triple is associative — max(last_ts), sum(freq),
    sum(monetary_milli) — so each batch writes only its OWN per-user
    partial aggregates into its ``b<batch_id>`` dir (overwrite), and
    the corpus merges at read time with one user-keyed aggregate:
    training is count-merging, never a rescan of the raw stream (the
    same incremental contract as nb_score_against_corpus). The store
    is one row per (batch, user) — bounded by the active-user set per
    batch, not event volume — and supports
    compact_corpus(bucket_key="user_id") like every other corpus.

    The republished report reuses the batch lane's exact scoring tail
    (plans/analytics_ext.rfm_grid: distributed global_ntile — no
    single-partition window — and the 4×4×4 rollup), so batch and
    stream answers are identical over the same events by construction
    of the shared code path, and the equivalence test pins it.

    Idempotence: an at-least-once replay of a batch rewrites the same
    ``b<batch_id>`` dir with identical partials and republishes an
    identical grid."""

    def proc(batch_df, batch_id):
        part = batch_df.groupBy("user_id").agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.floor(1000 * F.col("value")).cast("bigint"))
            .cast("bigint")
            .alias("monetary_milli"),
        )
        part = part.localCheckpoint()
        part.write.mode("overwrite").parquet(f"{profile_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, profile_path, exclude_batch=batch_id):
            merged = merged.unionByName(p)
        per_user = rfm_profile_fold(merged)
        from wally_spark.operators.checkpoint import free_blocks
        from wally_spark.plans.analytics_ext import rfm_grid

        pinned: list = []
        rfm_grid(per_user, pinned_out=pinned).write.mode(
            "overwrite"
        ).parquet(out_path)
        # release this batch's localCheckpoint blocks — a long-running
        # stream would otherwise accumulate two block sets per batch
        free_blocks(part, *pinned)

    return proc


def cusum_alarm_stream(
    df: DataFrame,
    mu_milli: int,
    kappa_milli: int,
    h_milli: int,
) -> DataFrame:
    """Online two-sided Page CUSUM alarm per event_type — the
    STREAMING face of changepoint detection. The registered batch lane
    (`events_cusum_changepoint`) is retrospective: its statistic
    |S_t·n − t·S_n| needs the series' final totals, so it cannot
    stream one-pass. The online form keeps the classic pair of
    one-sided cumulative sums as per-key state instead:

        s⁺ ← max(0, s⁺ + (x − μ − κ))      (upward mean shift)
        s⁻ ← max(0, s⁻ + (μ − x − κ))      (downward mean shift)

    and emits an alarm row whenever either crosses h, then resets both
    (standard restart-after-signal). All arithmetic is exact bigint
    milli-units (x integerized per row, μ/κ/h given in milli), so the
    sequential-Python reference test reproduces it bit-for-bit.

    State per key is two longs + a counter — O(types), unbounded-
    stream safe; assumes per-key in-order delivery (the
    transitions_stream contract)."""
    import math

    out_schema = (
        "event_type string, ts timestamp, t long, side string, s_milli long"
    )

    def fold(et, rows, state):
        s_pos, s_neg, t = state
        out = []
        for ts, val in zip(rows["ts"], rows["value"]):
            x = int(math.floor(1000 * val))
            t += 1
            s_pos = max(0, s_pos + (x - mu_milli - kappa_milli))
            s_neg = max(0, s_neg + (mu_milli - x - kappa_milli))
            if s_pos > h_milli:
                out.append((et, ts, t, "up", s_pos))
                s_pos, s_neg = 0, 0
            elif s_neg > h_milli:
                out.append((et, ts, t, "down", s_neg))
                s_pos, s_neg = 0, 0
        return (s_pos, s_neg, t), out

    return _keyed_state(df, "event_type", out_schema, lambda: (0, 0, 0), fold)


def linededup_against_corpus_foreach_batch(spark, segs_path: str, out_path: str):
    """Incremental LINE/PARAGRAPH dedup — the streaming face of the
    batch ``dedup_lines`` query (CCNet shape): every arriving
    document's SEG_N-word segments probe the PERSISTENT segment-hash
    store (every segment ever ingested); a segment drops if its hash
    is already in the store, or if an earlier (doc_id, position)
    occurrence exists within the batch. The per-doc drop report
    (n_segs / n_words / n_dropped_segs / dropped_words / drop_bp —
    dedup_lines' exact schema) lands in ``out_path/b<batch_id>``, and
    the batch's distinct segment hashes register in
    ``segs_path/b<batch_id>`` so later batches see them.

    Equivalence contract (tested): when batches arrive in ascending
    doc_id order, the union of per-batch reports is row-identical to
    the batch lane over the concatenated corpus — the store membership
    IS "an earlier occurrence exists". Store format is stamped
    (ensure_store_format) so a foreign store fails loudly.

    Shapes (mirrors dedup/substring corpus lanes): probes are
    hash-equi joins through corpus_probe_parts, so after a
    compact_corpus(bucket_key="h") the corpus side joins with no
    Exchange; per-batch overwrite dirs + own-batch exclusion give
    replay idempotence."""
    from wally_spark.operators.checkpoint import pin
    from wally_spark.plans.web import _line_report, segment_docs

    ensure_store_format(
        spark, segs_path, "linededup-seghash-v1", required_cols=("h",)
    )

    def proc(batch_df, batch_id):
        seg = pin(segment_docs(batch_df))
        firsts = seg.groupBy("h").agg(
            F.min(F.struct("doc_id", "p")).alias("first")
        )
        flagged = seg.join(firsts, "h").withColumn(
            "dropped",
            (F.struct("doc_id", "p") != F.col("first")).cast("bigint"),
        )
        for part in corpus_probe_parts(spark, segs_path, exclude_batch=batch_id):
            hit = seg.join(part.select("h"), "h", "left_semi").select(
                "doc_id", "p"
            )
            flagged = flagged.join(
                hit.withColumn("_c", F.lit(1)), ["doc_id", "p"], "left"
            ).withColumn(
                "dropped",
                F.greatest("dropped", F.coalesce("_c", F.lit(0)).cast("bigint")),
            ).drop("_c")
        _line_report(flagged).write.mode("overwrite").parquet(
            f"{out_path}/b{batch_id}"
        )
        seg.select("h").distinct().write.mode("overwrite").parquet(
            f"{segs_path}/b{batch_id}"
        )

    return proc


def phashdedup_against_corpus_foreach_batch(spark, sigs_path: str, out_path: str):
    """Incremental PERCEPTUAL image dedup — the streaming face of the
    batch ``mm_phash_dup`` lane: every arriving (doc_id, payload) BMP
    decodes executor-side to its 64-bit dHash (operators/multimodal.
    bmp_dhash — payloads never shuffle), and a doc is a dup if its
    fingerprint sits within PHASH_HAM_T bits of any fingerprint in the
    PERSISTENT signature store (every image ever ingested) or of a
    lower-doc_id image in the same batch. Candidates come through the
    same 4x16-bit band index (pigeonhole-exact for the threshold);
    verification is one codegen bit_count(xor) predicate inside a
    semi-join, so a hot store bucket never materializes pair rows —
    the verdict-only shape a crawl-ingest gate needs. Reports
    (doc_id, dhash, is_dup) land in ``out_path/b<batch_id>``; the
    batch's distinct (band, bv, dhash) rows register in
    ``sigs_path/b<batch_id>``.

    Equivalence contract (tested): with ascending doc_id batches, the
    union of verdicts equals "exists a lower-id doc within the
    threshold sharing a band" over the concatenated corpus. Store is
    format-stamped; per-batch overwrite dirs + own-batch exclusion
    give replay idempotence; compact_corpus(bucket_key="bv") keeps the
    store probe-cheap."""
    from wally_spark.operators.checkpoint import free_blocks, pin
    from wally_spark.operators.multimodal import bmp_dhash
    from wally_spark.plans.multimodal import PHASH_HAM_T

    ensure_store_format(
        spark, sigs_path, "phashdedup-bands-v1",
        required_cols=("band", "bv", "dhash"),
    )

    def _bands(d):
        return d.select(
            "doc_id",
            "dhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright("dhash", 16 * i).bitwiseAND(F.lit(65535))
                        for i in range(4)
                    ]
                )
            ).alias("band", "bv"),
        )

    def proc(batch_df, batch_id):
        d = pin(bmp_dhash(batch_df).where(F.col("dhash").isNotNull()))
        b = pin(_bands(d))
        a, x = b.alias("a"), b.alias("x")
        intra = (
            a.join(
                x,
                (F.col("a.band") == F.col("x.band"))
                & (F.col("a.bv") == F.col("x.bv"))
                & (F.col("x.doc_id") < F.col("a.doc_id"))
                & (
                    F.bit_count(
                        F.col("a.dhash").bitwiseXOR(F.col("x.dhash"))
                    )
                    <= PHASH_HAM_T
                ),
                "left_semi",
            )
            .select("doc_id")
            .distinct()
        )
        dup = intra
        for part in corpus_probe_parts(spark, sigs_path, exclude_batch=batch_id):
            p = part.select(
                F.col("band").alias("p_band"),
                F.col("bv").alias("p_bv"),
                F.col("dhash").alias("p_dhash"),
            )
            hit = (
                b.join(
                    p,
                    (F.col("band") == F.col("p_band"))
                    & (F.col("bv") == F.col("p_bv"))
                    & (
                        F.bit_count(F.col("dhash").bitwiseXOR(F.col("p_dhash")))
                        <= PHASH_HAM_T
                    ),
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
            dup = dup.unionByName(hit).distinct()
        d.join(dup.withColumn("_d", F.lit(True)), "doc_id", "left").select(
            "doc_id",
            "dhash",
            F.coalesce("_d", F.lit(False)).alias("is_dup"),
        ).write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        b.select("band", "bv", "dhash").distinct().write.mode(
            "overwrite"
        ).parquet(f"{sigs_path}/b{batch_id}")
        free_blocks(b)
        free_blocks(d)

    return proc


def urldedup_against_corpus_foreach_batch(spark, urls_path: str, out_path: str):
    """Incremental canonical-URL dedup — the streaming face of the
    batch ``url_canonical_dedup`` lane (r8 web family): every arriving
    (doc_id, raw_url) row canonicalizes with the SAME shared
    expression (plans/web.canonical_url_col — scheme/host/path
    lowercase, fragment + trailing slash dropped, tracking params
    stripped), then its keeper verdict is "no earlier occurrence": the
    canonical form is absent from the PERSISTENT url store (every
    canonical URL ever ingested) AND this doc_id is the batch-minimum
    for its form. The per-doc report (doc_id, canon_url, keeper) lands
    in ``out_path/b<batch_id>``; the batch's distinct canonical forms
    register in ``urls_path/b<batch_id>`` so later crawls see them —
    the always-on recrawl-collapse gate in front of a crawl-merge job.

    Equivalence contract (tested): when batches arrive in ascending
    doc_id order, the union of per-batch verdicts is row-identical to
    the batch lane's keeper column over the concatenated corpus
    (store membership IS "an earlier occurrence exists"). Store format
    is stamped (ensure_store_format) so a foreign store fails loudly.

    Shapes (mirrors the linededup corpus lane): probes are
    canonical-form equi-joins through corpus_probe_parts, so after a
    compact_corpus(bucket_key="u") the corpus side joins with no
    Exchange; per-batch overwrite dirs + own-batch exclusion give
    replay idempotence."""
    from wally_spark.operators.checkpoint import pin
    from wally_spark.plans.web import canonical_url_col

    ensure_store_format(
        spark, urls_path, "urldedup-canon-v1", required_cols=("u",)
    )

    def proc(batch_df, batch_id):
        canon = pin(
            batch_df.select(
                "doc_id", canonical_url_col(F.col("raw_url")).alias("u")
            )
        )
        firsts = canon.groupBy("u").agg(F.min("doc_id").alias("first_id"))
        flagged = canon.join(firsts, "u").withColumn(
            "keeper", F.col("doc_id") == F.col("first_id")
        )
        for part in corpus_probe_parts(spark, urls_path, exclude_batch=batch_id):
            hit = canon.join(part.select("u"), "u", "left_semi").select("doc_id")
            flagged = (
                flagged.join(hit.withColumn("_c", F.lit(1)), "doc_id", "left")
                .withColumn("keeper", F.col("keeper") & F.col("_c").isNull())
                .drop("_c")
            )
        flagged.select(
            "doc_id", F.col("u").alias("canon_url"), "keeper"
        ).write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        canon.select("u").distinct().write.mode("overwrite").parquet(
            f"{urls_path}/b{batch_id}"
        )

    return proc


def churn_foreach_batch(spark, profile_path: str, out_path: str):
    """Streaming face of the registered `user_churn_features` batch
    lane (plans/behavior.py): maintains a persistent (user, day,
    event_type) PROFILE corpus and republishes the full churn feature
    table each micro-batch — the always-fresh feature store.

    Each batch writes only its OWN churn_profile partials into its
    ``b<batch_id>`` dir (overwrite → at-least-once replay rewrites the
    identical dir); the corpus merges at read time with one
    churn_profile_fold aggregate and supports
    compact_corpus(bucket_key="user_id", fold=churn_profile_fold)
    like every other corpus. The republished table reuses the batch
    lane's exact scoring tail (churn_features_from_profile), so batch
    and stream answers over the same events are identical by
    construction of the shared code path; the equivalence test pins
    it. Profile rows are bounded by active (user, day, type) combos
    per batch, not event volume."""
    from wally_spark.plans.behavior import (
        churn_features_from_profile,
        churn_profile,
        churn_profile_fold,
    )

    def proc(batch_df, batch_id):
        part = churn_profile(batch_df).localCheckpoint()
        part.write.mode("overwrite").parquet(f"{profile_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, profile_path, exclude_batch=batch_id):
            merged = merged.unionByName(p)
        per = churn_profile_fold(merged)
        churn_features_from_profile(per).write.mode("overwrite").parquet(
            out_path
        )
        from wally_spark.operators.checkpoint import free_blocks

        free_blocks(part)

    return proc


def ewma_stream(df: DataFrame, k: int = 8) -> DataFrame:
    """Streaming face of the registered `events_ewma` batch lane
    (plans/timeseries.py): per-user trailing EWMA spend baseline,
    maintained as a last-k ring buffer of integer cents — the
    app_market_spread per-key last-state shape. Each micro-batch emits
    every touched user's refreshed (n_events, ewma_cents, last_cents,
    ratio_bp); the LATEST row per user equals the batch lane's answer
    over the same prefix of events by construction (identical weights
    2^(k-1-j), identical integer div), and the equivalence test pins
    it including cross-batch ring carry.

    State per key is k longs + a counter — O(users), unbounded-stream
    safe; assumes per-key in-order delivery (the cusum_alarm_stream
    contract)."""
    import math

    out_schema = (
        "user_id long, n_events long, ewma_cents long, "
        "last_cents long, ratio_bp long"
    )

    def fold(uid, rows, state):
        ring, n = state  # ring: newest-first v_cents, len <= k
        for val in rows["value"]:
            ring.insert(0, int(math.floor(val * 100.0 + 0.5)))
            del ring[k:]
            n += 1
        ws = sum((1 << (k - 1 - j)) * v for j, v in enumerate(ring))
        w = sum(1 << (k - 1 - j) for j in range(len(ring)))
        # exact trunc-toward-zero div, matching Spark's `div`
        ewma = ws // w if ws >= 0 else -((-ws) // w)
        if ewma == 0:
            ratio = None
        else:
            num = 10000 * ring[0]
            ratio = (
                num // ewma
                if (num >= 0) == (ewma > 0)
                else -((-num) // ewma if num < 0 else num // (-ewma))
            )
        return (ring, n), [(uid, n, ewma, ring[0], ratio)]

    return _keyed_state(df, "user_id", out_schema, lambda: ([], 0), fold)


def markov_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental Markov stationary distribution — the streaming face
    of the registered `events_markov_stationary` batch lane: consume
    the (src, dst) rows `transitions_stream` emits (per-user
    previous-event state does the sequencing, so transition COUNTS are
    purely associative), keep a persistent count corpus, and
    republish the stationary distribution each micro-batch.

    Each batch writes only its own (src, dst, n) increments into its
    ``b<batch_id>`` dir (overwrite → at-least-once replay rewrites the
    identical dir); the corpus merges at read time with one summing
    aggregate; probabilities are re-derived with the batch lane's ppm
    formula and the π fixpoint reuses the batch lane's exact
    power-iteration tail (plans/sequence.stationary_from_transitions)
    — batch ≡ stream by shared code path. The corpus is |types|²-sized
    rows per batch: trivially compactable, never event-volume."""
    import pyspark.sql.functions as F  # noqa: F811 (module-level alias)
    from pyspark.sql import Window

    from wally_spark.plans.sequence import stationary_from_transitions

    def proc(batch_df, batch_id):
        part = batch_df.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        part = part.localCheckpoint()
        part.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, counts_path, exclude_batch=batch_id):
            merged = merged.unionByName(p)
        counts = merged.groupBy("src", "dst").agg(
            F.sum("n").cast("bigint").alias("n")
        )
        wsrc = Window.partitionBy("src")
        tr = counts.select(
            "src", "dst",
            F.floor((F.lit(1000000) * F.col("n")) / F.sum("n").over(wsrc))
            .cast("bigint")
            .alias("prob_ppm"),
        )
        stationary_from_transitions(tr).write.mode("overwrite").parquet(
            out_path
        )
        from wally_spark.operators.checkpoint import free_blocks

        free_blocks(part)

    return proc


def ltv_foreach_batch(spark, profile_path: str, out_path: str):
    """Incremental cohort-LTV — the streaming face of the registered
    `cohort_revenue_ltv` batch lane (plans/behavior.py): a persistent
    (o_custkey, month) PROFILE corpus of associative partials (sum n,
    sum cents; the cohort itself is a min over the merged profile, so
    a customer's cohort month can only move EARLIER as late data
    arrives — exactly the batch semantics), republishing the full LTV
    curve each micro-batch through the batch lane's exact scoring tail
    (ltv_from_profile). Profile rows are bounded by active
    customer-months per batch; compactable with
    fold=ltv_profile_fold."""
    from wally_spark.plans.behavior import (
        ltv_from_profile,
        ltv_profile,
        ltv_profile_fold,
    )

    def proc(batch_df, batch_id):
        part = ltv_profile(batch_df).localCheckpoint()
        part.write.mode("overwrite").parquet(f"{profile_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, profile_path, exclude_batch=batch_id):
            merged = merged.unionByName(p)
        ltv_from_profile(ltv_profile_fold(merged)).write.mode(
            "overwrite"
        ).parquet(out_path)
        from wally_spark.operators.checkpoint import free_blocks

        free_blocks(part)

    return proc


def conversion_lag_stream(df: DataFrame, gap_s: int = 600) -> DataFrame:
    """Streaming face of the registered `session_conversion_lag` batch
    lane (plans/behavior.py): per-user OPEN-SESSION state — (session
    start, last event ts, converted flag), one small tuple per key —
    emitting one (user_id, lag_min) row at the FIRST purchase of each
    inactivity session (gap_s quiet closes it, the win_session
    semantics). The batch histogram is one aggregate over this lane's
    emissions; the equivalence test folds them with the batch lane's
    exact share formulas and matches it bit-for-bit.

    Lag arithmetic mirrors the batch lane exactly: whole seconds are
    truncated per timestamp (unix_timestamp semantics), then
    whole-minute trunc division; the session boundary compares
    double-seconds differences like the batch window does. Assumes
    per-key in-order delivery (the cusum_alarm_stream contract)."""
    out_schema = "user_id long, lag_min long"

    def fold(uid, rows, state):
        start_ns, last_ns, converted = state
        out = []
        for ts, et in zip(rows["ts"], rows["event_type"]):
            ns = ts.value
            if last_ns is None or (ns / 1e9 - last_ns / 1e9) > float(gap_s):
                start_ns, converted = ns, False
            last_ns = ns
            if et == "purchase" and not converted:
                lag_s = ns // 1_000_000_000 - start_ns // 1_000_000_000
                out.append((uid, lag_s // 60))
                converted = True
        return (start_ns, last_ns, converted), out

    return _keyed_state(
        df, "user_id", out_schema, lambda: (None, None, False), fold
    )


def benford_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental Benford first-digit DQ monitor — the streaming face
    of the registered `events_benford` batch lane: leading-digit
    counts are purely associative, so each batch writes its own
    9-row-bounded (digit, n) increment into ``b<batch_id>``
    (overwrite → replay-idempotent), the corpus folds by sum at read
    time, and the full audit republishes each micro-batch through the
    batch lane's exact scoring tail (quality.benford_from_counts,
    shared literal expectation table) — the always-on
    fabricated-data/instrumentation alarm."""
    import pyspark.sql.functions as F  # noqa: F811 (module-level alias)

    from wally_spark.plans.quality import benford_digit_counts, benford_from_counts

    def proc(batch_df, batch_id):
        part = benford_digit_counts(batch_df).localCheckpoint()
        part.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, counts_path, exclude_batch=batch_id):
            merged = merged.unionByName(p)
        counts = merged.groupBy("digit").agg(
            F.sum("n").cast("bigint").alias("n")
        )
        benford_from_counts(counts).write.mode("overwrite").parquet(out_path)
        from wally_spark.operators.checkpoint import free_blocks

        free_blocks(part)

    return proc


def heavy_hitters_foreach_batch(
    spark, counts_path: str, out_path: str, top_k: int = 5
):
    """Incremental heavy-hitter profiler — the streaming face of the
    registered `heavy_hitters_report` batch lane for ONE keyed stream:
    per-key counts are associative, so each batch writes its own
    (key, n) increments into ``b<batch_id>`` (overwrite →
    replay-idempotent), the corpus folds by sum at read time, and the
    exact top-K + share-bp report republishes per micro-batch via
    orderBy().limit() (TakeOrderedAndProject — the batch lane's
    distributed partial top-K, never a window). The corpus is bounded
    by distinct keys per batch; compact with bucket_key='key'."""
    import pyspark.sql.functions as F  # noqa: F811 (module-level alias)

    def proc(batch_df, batch_id):
        part = batch_df.groupBy("key").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        part = part.localCheckpoint()
        part.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, counts_path, exclude_batch=batch_id):
            merged = merged.unionByName(p)
        counts = merged.groupBy("key").agg(
            F.sum("n").cast("bigint").alias("n")
        )
        total = counts.agg(F.sum("n").cast("bigint").alias("total"))
        top = (
            counts.orderBy(F.col("n").desc(), F.col("key"))
            .limit(top_k)
            .crossJoin(total)
            .selectExpr(
                "key", "n",
                "CAST((10000 * n) div total AS BIGINT) AS share_bp",
            )
        )
        top.write.mode("overwrite").parquet(out_path)
        from wally_spark.operators.checkpoint import free_blocks

        free_blocks(part)

    return proc


def winnowdedup_against_corpus_foreach_batch(
    spark, fps_path: str, out_path: str, pair_emit_bucket: int | None = None
):
    """Incremental WINNOWING near-dedup — the streaming face of the
    batch ``dedup_winnowing`` lane (MOSS fingerprinting): every
    arriving document's winnowing-selected fingerprint set
    (plans/dedup.winnow_fingerprints — the shared selector) probes the
    PERSISTENT (doc_id, fp) store; the doc is a near-dup if it shares
    >= WINNOW_MIN_SHARED fingerprints with any single earlier document
    (store or lower-id in-batch). Reports
    (doc_id, n_fp, n_shared_max, match_doc, is_neardup) land in
    ``out_path/b<batch_id>``; the batch's fingerprint rows register in
    ``fps_path/b<batch_id>``.

    Hot-fingerprint discipline matches the batch lane GLOBALLY (r10
    advice fix — the r9 spelling capped per corpus part and per
    batch, so a fp split across slices could be under-cap everywhere
    yet over-cap globally): holder counts fold across the batch AND
    every probed corpus part first, and fingerprints held by more
    than the cap across the whole corpus are excluded from pairing
    everywhere — they are mass-dup boilerplate, exact-dedup
    territory — so a boilerplate fp can never emit B² match rows.
    The fold is one uniform fp-keyed aggregate over relations the
    probe joins already scan. Store format-stamped; per-batch
    overwrite dirs + own-batch exclusion give replay idempotence;
    compact_corpus(bucket_key="fp") keeps probes Exchange-free.
    ``pair_emit_bucket`` overrides the cap (tests); default is the
    batch lane's PAIR_EMIT_BUCKET."""
    from wally_spark.operators.checkpoint import free_blocks, pin
    from wally_spark.plans.dedup import (
        PAIR_EMIT_BUCKET,
        WINNOW_MIN_SHARED,
        winnow_fingerprints,
    )

    cap = PAIR_EMIT_BUCKET if pair_emit_bucket is None else pair_emit_bucket

    ensure_store_format(
        spark, fps_path, "winnowdedup-fps-v1", required_cols=("doc_id", "fp")
    )

    def proc(batch_df, batch_id):
        fps = pin(winnow_fingerprints(batch_df))
        nfp = fps.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp")
        )
        parts = [
            p.select("doc_id", "fp")
            for p in corpus_probe_parts(spark, fps_path, exclude_batch=batch_id)
        ]
        # GLOBAL holder count per fp (batch + every store part): the
        # hot set is the over-cap tail — small by construction
        allfps = fps.select("doc_id", "fp")
        for p in parts:
            allfps = allfps.unionByName(p)
        hot = (
            allfps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .where(F.col("bsz") > cap)
            .select("fp")
        )
        hot = pin(hot)  # consumed by the batch self-join + every part probe
        capped = fps.join(hot, "fp", "left_anti")
        older = capped.select(
            F.col("doc_id").alias("match_doc"), "fp"
        )
        matches = (
            capped.join(older, "fp")
            .where(F.col("match_doc") < F.col("doc_id"))
            .groupBy("doc_id", "match_doc")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        )
        for part in parts:
            p = part.join(hot, "fp", "left_anti").select(
                F.col("doc_id").alias("match_doc"), "fp"
            )
            hit = (
                capped.join(p, "fp")
                .groupBy("doc_id", "match_doc")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            )
            matches = matches.unionByName(hit)
        best = (
            matches.where(F.col("n_shared") >= WINNOW_MIN_SHARED)
            .groupBy("doc_id")
            .agg(
                F.max(F.struct("n_shared", (-F.col("match_doc")).alias("nm")))
                .alias("b")
            )
            .select(
                "doc_id",
                F.col("b.n_shared").alias("n_shared_max"),
                (-F.col("b.nm")).cast("bigint").alias("match_doc"),
            )
        )
        nfp.join(best, "doc_id", "left").select(
            "doc_id",
            "n_fp",
            F.coalesce("n_shared_max", F.lit(0)).cast("bigint").alias(
                "n_shared_max"
            ),
            "match_doc",
            F.col("n_shared_max").isNotNull().alias("is_neardup"),
        ).write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        fps.write.mode("overwrite").parquet(f"{fps_path}/b{batch_id}")
        free_blocks(fps)
        free_blocks(hot)

    return proc


def reservoir_fold(df: DataFrame, k: int | None = None) -> DataFrame:
    """Associative merge of reservoir partials — rank the union of
    per-batch top-K rows by the SAME (md5(doc_id), doc_id) permutation
    and keep K per stratum. min-K by a fixed hash is a semigroup, so
    fold(fold(a,b),c) == fold(a,b,c); also the ``fold=`` argument that
    lets compact_corpus collapse the sample store."""
    from pyspark.sql import Window as W

    from wally_spark.plans.sampling import RESERVOIR_K

    k = k or RESERVOIR_K
    w = W.partitionBy("lang").orderBy("hkey", "doc_id")
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("lang", "doc_id", "hkey")
    )


def reservoir_foreach_batch(spark, sample_path: str, out_path: str):
    """Incremental deterministic reservoir sample — the streaming face
    of the batch ``sample_reservoir`` lane: K docs per language
    stratum under the SAME seed-free md5(doc_id) permutation, folded
    incrementally. Each batch writes only its OWN per-stratum top-K
    partial into ``sample_path/b<batch_id>`` (bounded: K rows per
    stratum per batch, never event volume), and the published sample
    is the read-time fold over all partials — identical to the batch
    lane over the concatenated corpus because min-K by a fixed hash is
    a semigroup (the equivalence test pins it, rk spelling and all).

    Idempotence: replaying a batch rewrites the same ``b<batch_id>``
    partial and republishes an identical sample. The store supports
    compact_corpus(fold=reservoir_fold) to collapse history to one
    top-K per stratum."""
    from wally_spark.operators.checkpoint import free_blocks

    ensure_store_format(
        spark, sample_path, "reservoir-sample-v1",
        required_cols=("lang", "doc_id", "hkey"),
    )

    def proc(batch_df, batch_id):
        d = batch_df.select(
            "lang",
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("hkey"),
        )
        part = reservoir_fold(d).localCheckpoint()
        part.write.mode("overwrite").parquet(f"{sample_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, sample_path, exclude_batch=batch_id):
            merged = merged.unionByName(p.select("lang", "doc_id", "hkey"))
        from pyspark.sql import Window as W

        from wally_spark.plans.sampling import RESERVOIR_K

        w = W.partitionBy("lang").orderBy("hkey", "doc_id")
        (
            merged.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= RESERVOIR_K)
            .select("lang", F.col("rk").cast("bigint").alias("rk"), "doc_id")
        ).write.mode("overwrite").parquet(out_path)
        free_blocks(part)

    return proc


def oov_counts_fold(df: DataFrame) -> DataFrame:
    """Associative merge of the per-slice term-count partials — the
    read-time fold of oov_report_foreach_batch and the ``fold=`` that
    lets compact_corpus collapse the store to one row per
    (lang, source, term)."""
    return df.groupBy("lang", "source", "term").agg(
        F.sum("c").cast("bigint").alias("c")
    )


def oov_report_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental OOV tracking — the streaming face of the batch
    ``oov_rate_by_source`` lane: each batch writes its OWN
    (lang, source, term, count) partial aggregate (bounded by the
    batch vocabulary, never token volume), and every micro-batch
    republishes the FULL per-(lang, source) OOV report by folding the
    count corpus: global term frequency = sum over slices, a term is
    in-vocab iff its corpus-wide frequency >= OOV_MIN_FREQ, and each
    slice's token/OOV masses are conditional sums over its own counts.

    Because the report is a pure function of the associative count
    corpus, batch and stream answers are IDENTICAL over the same
    documents at every point — docs ingested before a term crossed the
    vocab threshold are re-scored correctly on every republish (the
    property a per-batch-report design cannot have). The store
    supports compact_corpus(fold=oov_counts_fold).

    Scale: partials are vocab-bounded; the fold is one uniform
    term-keyed aggregate; the slice rollup is |lang×source|-bounded."""
    from wally_spark.operators.checkpoint import free_blocks
    from wally_spark.plans.text import OOV_MIN_FREQ

    ensure_store_format(
        spark, counts_path, "oov-counts-v1",
        required_cols=("lang", "source", "term", "c"),
    )

    def proc(batch_df, batch_id):
        words = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
        part = (
            batch_df.select(
                "lang", "source", F.explode(words).alias("term")
            )
            .groupBy("lang", "source", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .localCheckpoint()
        )
        part.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, counts_path, exclude_batch=batch_id):
            merged = merged.unionByName(p.select("lang", "source", "term", "c"))
        counts = oov_counts_fold(merged)
        freq = counts.groupBy("term").agg(
            F.sum("c").cast("bigint").alias("gf")
        )
        j = counts.join(freq, "term")
        oov_c = F.when(F.col("gf") < OOV_MIN_FREQ, F.col("c")).otherwise(F.lit(0))
        (
            j.groupBy("lang", "source")
            .agg(
                F.sum("c").cast("bigint").alias("n_tokens"),
                F.sum(oov_c).cast("bigint").alias("oov_tokens"),
                F.expr(
                    f"(10000 * sum(case when gf < {OOV_MIN_FREQ} then c"
                    " else 0 end)) div sum(c)"
                )
                .cast("bigint")
                .alias("oov_bp"),
                F.countDistinct(
                    F.when(F.col("gf") < OOV_MIN_FREQ, F.col("term"))
                )
                .cast("bigint")
                .alias("oov_types"),
            )
        ).write.mode("overwrite").parquet(out_path)
        free_blocks(part)

    return proc


def joinskew_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental join-skew monitor — the streaming face of the
    registered `join_skew_audit` batch lane: per-user event counts are
    associative, so each batch writes only its own (user_id, n_rows)
    increments (overwrite → replay-idempotent), the corpus folds by
    sum at read time, and every micro-batch republishes the full
    top-10 skew report — share bp, multiple-of-average bp, and the
    32-way salt factor — exactly the numbers a long-running ingest
    consults before repartitioning a user-keyed join. Batch and stream
    answers are identical over the same events by construction (the
    report is a pure function of the folded counts; the equivalence
    test pins it, TakeOrdered spelling and all). Store is
    format-stamped, bounded by active users per batch, and compacts
    with bucket_key='user_id' or fold=joinskew_counts_fold."""

    ensure_store_format(
        spark, counts_path, "joinskew-counts-v1",
        required_cols=("user_id", "n_rows"),
    )

    def proc(batch_df, batch_id):
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows")
        )
        part = part.localCheckpoint()
        part.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, counts_path, exclude_batch=batch_id):
            merged = merged.unionByName(p.select("user_id", "n_rows"))
        k = merged.groupBy("user_id").agg(
            F.sum("n_rows").cast("bigint").alias("n_rows")
        )
        t = k.agg(
            F.sum("n_rows").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        )
        (
            k.crossJoin(F.broadcast(t))
            .selectExpr(
                "user_id",
                "n_rows",
                "CAST((10000 * n_rows) div total AS BIGINT) AS share_bp",
                "CAST((10000 * n_rows * n_keys) div total AS BIGINT)"
                " AS x_avg_bp",
                "CAST((n_rows * 32 + total - 1) div total AS BIGINT)"
                " AS salt_factor",
            )
            .orderBy(F.col("n_rows").desc(), "user_id")
            .limit(10)
        ).write.mode("overwrite").parquet(out_path)
        from wally_spark.operators.checkpoint import free_blocks

        free_blocks(part)

    return proc


def joinskew_counts_fold(df: DataFrame) -> DataFrame:
    """Associative merge of the per-user count partials — the
    ``fold=`` that lets compact_corpus collapse the skew-monitor store
    to one row per user."""
    return df.groupBy("user_id").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows")
    )


def kl_counts_fold(df: DataFrame) -> DataFrame:
    """Associative merge of the per-slice (source, token) count
    partials — the read-time fold of kl_report_foreach_batch and the
    ``fold=`` that lets compact_corpus collapse the store to one row
    per (source, token)."""
    return df.groupBy("source", "token").agg(
        F.sum("c").cast("bigint").alias("c")
    )


def kl_report_foreach_batch(spark, counts_path: str, out_path: str):
    """Incremental mixture-drift monitor — the streaming face of the
    batch ``source_token_kl`` lane: each batch writes its OWN
    (source, token, count) partial aggregate (bounded by the batch
    vocabulary, never token volume), and every micro-batch republishes
    the FULL per-source KL report by folding the count corpus and
    running plans.llm_ext.kl_report_from_joint — the SAME plan the
    batch lane runs, so their micro-bit-quantized float expression
    trees are literally identical and batch/stream answers match
    bit-for-bit over the same documents at every point. Corpus-relative
    by construction: a source's KL moves when OTHER sources shift the
    corpus mix, and every republish re-scores all of them (the property
    a per-batch-report design cannot have).

    Scale: partials are vocab-bounded; the fold is one uniform
    (source, token)-keyed aggregate; the report is |sources|-bounded.
    Store is format-stamped and compacts with fold=kl_counts_fold."""
    from wally_spark.operators.checkpoint import free_blocks
    from wally_spark.plans.llm_ext import kl_report_from_joint, token_joint

    ensure_store_format(
        spark, counts_path, "klcounts-v1",
        required_cols=("source", "token", "c"),
    )

    def proc(batch_df, batch_id):
        part = token_joint(batch_df).localCheckpoint()
        part.write.mode("overwrite").parquet(f"{counts_path}/b{batch_id}")
        merged = part
        for p in corpus_probe_parts(spark, counts_path, exclude_batch=batch_id):
            merged = merged.unionByName(p.select("source", "token", "c"))
        joint = kl_counts_fold(merged).localCheckpoint()
        kl_report_from_joint(joint).write.mode("overwrite").parquet(out_path)
        free_blocks(part, joint)

    return proc


def editdedup_against_corpus_foreach_batch(spark, sigs_path: str, out_path: str):
    """Incremental edit-distance-verified dedup — the streaming face
    of the batch ``dedup_edit_verified`` lane: every arriving doc
    fingerprints with plans.dedup.simhash_of (identical expressions),
    and a doc is a dup iff some LOWER-doc_id doc — in the persistent
    signature store (everything ever ingested) or earlier in the same
    batch — shares one of its 8x8-bit band values (plans.dedup's
    simhash_candidate_pairs scheme, r11: the single 16-bit prefix
    measured 113 bp recall at T=12 and was retired in lockstep with
    the batch lane) within EDIT_CAND_HAMMING bits AND its normalized
    EDIT_PREFIX_CHARS-char prefix verifies at ≤ EDIT_KEEP_BP
    Levenshtein. Band values derive from the stored simhash by
    expression, so the sigs-v1 store format is unchanged; both
    predicates sit inside LEFT-SEMI joins over the band-exploded
    sides, so a hot band value never materializes pair rows — the
    verdict-only shape a crawl-ingest gate needs. Verdicts
    (doc_id, is_dup) land in ``out_path/b<batch_id>``; the batch's
    (doc_id, simhash, bucket, prefix) rows register in
    ``sigs_path/b<batch_id>``.

    Equivalence contract (tested): with ascending doc_id batches, the
    dup set equals {doc_b of dedup_edit_verified pairs} over the
    concatenated corpus — same bucket cap regime caveat as the batch
    lane (the face probes the full store; the batch lane's MAX_BUCKET
    applies to pathological hot buckets both sides never hit in the
    tested regime). Store is format-stamped; per-batch overwrite dirs
    + own-batch exclusion give replay idempotence;
    compact_corpus still folds the per-batch dirs into one probe part
    (the bucket_key='bucket' layout no longer prunes the band-keyed
    join but remains valid — bands derive from the stored simhash)."""
    from wally_spark.operators.checkpoint import free_blocks, pin
    from wally_spark.plans.dedup import (
        _SIMHASH_BAND_MASK,
        SIMHASH_BAND_BITS,
        SIMHASH_BANDS,
        simhash_of,
    )
    from wally_spark.plans.llm_ext import (
        _EDIT_MAX,
        EDIT_CAND_HAMMING,
        EDIT_KEEP_BP,
        EDIT_PREFIX_CHARS,
    )

    ensure_store_format(
        spark, sigs_path, "editdedup-sigs-v1",
        required_cols=("doc_id", "simhash", "bucket", "prefix"),
    )

    def _verify(l_pre, r_pre):
        # banded threshold Levenshtein, same soundness argument as the
        # batch lane: a passing pair's edit is <= _EDIT_MAX, past-band
        # rows return -1 and fail the >= 0 guard. r14: equality
        # short-circuit shared with the batch lane (editforest
        # .edit_distance) — verbatim re-ingests are the common case.
        from wally_spark.operators.editforest import edit_distance

        edit = edit_distance(l_pre, r_pre, _EDIT_MAX)
        mx = F.greatest(F.length(l_pre), F.length(r_pre))
        return (edit >= 0) & ((10000 * edit) <= EDIT_KEEP_BP * mx)

    def _band_rows(df, keep_as: dict):
        """Band-explode on the simhash column: one (band, bv) row per
        8-bit band, columns renamed per keep_as — the equi-join keys
        that replace the r10 prefix-bucket equality."""
        return df.select(
            *[
                F.col(src).alias(dst)
                for src, dst in keep_as.items()
                if not src.startswith("_")
            ],
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(
                            F.col("simhash"), SIMHASH_BAND_BITS * i
                        ).bitwiseAND(F.lit(_SIMHASH_BAND_MASK))
                        for i in range(SIMHASH_BANDS)
                    ]
                )
            ).alias(keep_as.get("_band", "band"), keep_as.get("_bv", "bv")),
        )

    def proc(batch_df, batch_id):
        prefix = F.substring(F.lower("text"), 1, EDIT_PREFIX_CHARS)
        d = pin(
            simhash_of(batch_df.select("doc_id", "text")).join(
                batch_df.select("doc_id", prefix.alias("prefix")), "doc_id"
            )
        )
        db = _band_rows(
            d,
            {"doc_id": "doc_id", "simhash": "simhash", "prefix": "prefix"},
        )
        xb = _band_rows(
            d,
            {
                "doc_id": "x_doc",
                "simhash": "x_simhash",
                "prefix": "x_prefix",
                "_band": "x_band",
                "_bv": "x_bv",
            },
        )
        ham_ax = F.bit_count(
            F.col("simhash").bitwiseXOR(F.col("x_simhash"))
        )
        intra = (
            db.join(
                xb,
                (F.col("band") == F.col("x_band"))
                & (F.col("bv") == F.col("x_bv"))
                & (F.col("x_doc") < F.col("doc_id"))
                & (ham_ax <= EDIT_CAND_HAMMING)
                & _verify(F.col("prefix"), F.col("x_prefix")),
                "left_semi",
            )
            .select("doc_id")
            .distinct()
        )
        dup = intra
        for part in corpus_probe_parts(spark, sigs_path, exclude_batch=batch_id):
            pb = _band_rows(
                part.select("doc_id", "simhash", "prefix"),
                {
                    "doc_id": "p_doc",
                    "simhash": "p_simhash",
                    "prefix": "p_prefix",
                    "_band": "p_band",
                    "_bv": "p_bv",
                },
            )
            hit = (
                db.join(
                    pb,
                    (F.col("band") == F.col("p_band"))
                    & (F.col("bv") == F.col("p_bv"))
                    & (F.col("p_doc") < F.col("doc_id"))
                    & (
                        F.bit_count(
                            F.col("simhash").bitwiseXOR(F.col("p_simhash"))
                        )
                        <= EDIT_CAND_HAMMING
                    )
                    & _verify(F.col("prefix"), F.col("p_prefix")),
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
            dup = dup.unionByName(hit).distinct()
        d.join(dup.withColumn("_d", F.lit(True)), "doc_id", "left").select(
            "doc_id",
            F.coalesce("_d", F.lit(False)).alias("is_dup"),
        ).write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        d.select("doc_id", "simhash", "bucket", "prefix").write.mode(
            "overwrite"
        ).parquet(f"{sigs_path}/b{batch_id}")
        free_blocks(d)

    return proc


def poolgate_foreach_batch(spark, store_path: str, out_path: str):
    """Crawl-ingest admission gate — the streaming face of the batch
    ``pool_filter_report`` lane (r10 verdict item 8): every arriving
    document is judged by the four standing gates AS OF ITS INGEST —

      gopher   stateless rule bundle (one codegen scan of the batch)
      NB       model folded from EVERYTHING ingested so far including
               the current batch (the nb_score face's count store)
      ppl      unigram LM folded the same way (sampled word counts,
               top-LM_VOCAB + UNK, integer milli-nats)
      dup      ≥ 0.8 exact-Jaccard loser vs any LOWER-doc_id doc in
               the persistent signature/shingle store or earlier in
               the batch (minhash-banded candidates, MAX_BUCKET cap
               computed over the WHOLE corpus-so-far band relation —
               the batch lane's global cap, not a per-part one)

    and the verdict ledger republishes the running per-source ablation
    (plans.curation.pool_rollup — the batch lane's own aggregate).

    Equivalence contract (tested): with ascending doc_id batches, each
    batch's verdicts equal plans.curation._pool_doc_verdicts over the
    CONCATENATED corpus-so-far restricted to the batch's docs (same
    gate expressions, same folded models), and a single-batch ingest
    reproduces pool_filter_report cell-for-cell. Verdicts are
    point-in-time admission decisions: retroactive re-scoring of old
    docs under a drifted model is the batch lane's offline question,
    not this gate's.

    Stores under ``store_path``: nbtok/nbdoc (NB counts), lm (sampled
    word counts), sigs (minhash signatures), sh (doc shingles), shsz
    (doc shingle counts), verdicts (the ledger). All per-batch
    overwrite dirs — replay rewrites its own partials and re-reports
    identically; count stores compact with their associative folds
    (see poolgate_lm_fold / nb's word fold), the ledger concatenates."""
    from wally_spark.operators.checkpoint import free_blocks, pin
    from wally_spark.plans.curation import (
        LM_VOCAB,
        PPL_MAX_MNAT,
        _nb_unk_w,
        _words_col,
        nb_doc_counts,
        nb_model,
        nb_scored_counts,
        nb_token_counts,
        pool_rollup,
    )
    from wally_spark.plans.dedup import (
        BAND_ROWS,
        MAX_BUCKET,
        N_HASHES,
        minhash_signatures,
        shingles_of,
    )
    from wally_spark.plans.quality import _gopher_feat, _gopher_rule_cols

    ensure_store_format(spark, store_path, "poolgate-v1")

    def all_parts(sub: str):
        dirs = corpus_dirs(spark, f"{store_path}/{sub}")
        return spark.read.parquet(*dirs) if dirs else None

    def proc(batch_df, batch_id):
        d = pin(batch_df)

        # -- 1. persist this batch's state partials (own dirs).
        # NB and the LM both train on the batch lanes' deterministic
        # md5-quarter doc sample, so the folded models equal the batch
        # queries' over the concatenated corpus at every step.
        sampled = F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 1
        ).isin("0", "1", "2", "3")
        nb_token_counts(d.where(sampled)).write.mode("overwrite").parquet(
            f"{store_path}/nbtok/b{batch_id}"
        )
        nb_doc_counts(d.where(sampled)).write.mode("overwrite").parquet(
            f"{store_path}/nbdoc/b{batch_id}"
        )
        d.where(sampled).select(
            "doc_id", F.explode(_words_col()).alias("word")
        ).groupBy("word").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        ).write.mode("overwrite").parquet(f"{store_path}/lm/b{batch_id}")
        sigs = pin(minhash_signatures(d))
        sigs.write.mode("overwrite").parquet(f"{store_path}/sigs/b{batch_id}")
        sh = pin(shingles_of(d))
        sh.write.mode("overwrite").parquet(f"{store_path}/sh/b{batch_id}")
        sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).write.mode("overwrite").parquet(f"{store_path}/shsz/b{batch_id}")

        # -- 2. gopher: stateless conjunction over the batch ----------
        rules = _gopher_rule_cols()
        verdict = None
        for c in rules.values():
            verdict = c if verdict is None else (verdict & c)
        g = _gopher_feat(d).select("doc_id", verdict.alias("g_raw"))

        # -- 3. NB: fold counts so far (incl. own), score the batch ---
        train = (
            all_parts("nbtok")
            .groupBy("word")
            .agg(
                F.sum("c1").cast("bigint").alias("c1"),
                F.sum("c0").cast("bigint").alias("c0"),
            )
        )
        doc_tot = all_parts("nbdoc").agg(
            F.sum("n1").cast("bigint").alias("n1"),
            F.sum("n0").cast("bigint").alias("n0"),
        )
        weights, stats, priors = nb_model(train, doc_tot)
        tok = d.select("doc_id", F.explode(_words_col()).alias("word"))
        nb_score = F.col("pw") + F.col("seen_w") + F.col("n_unk") * _nb_unk_w()
        nb = (
            nb_scored_counts(tok, weights)
            .crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(priors))
            .select("doc_id", (nb_score > 0).alias("nb_raw"))
        )

        # -- 4. perplexity: fold the sampled LM, score the batch ------
        lm_train = (
            all_parts("lm")
            .groupBy("word")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        tot = lm_train.agg(F.sum("c").cast("bigint").alias("t_all"))
        top = lm_train.orderBy(F.desc("c"), "word").limit(LM_VOCAB)
        lstats = top.agg(
            F.sum("c").cast("bigint").alias("t_top"),
            F.count(F.lit(1)).cast("bigint").alias("v_top"),
        ).crossJoin(F.broadcast(tot))
        denom = (F.col("t_all") + F.col("v_top") + 1).cast("double")
        probs = top.crossJoin(F.broadcast(lstats)).select(
            "word",
            F.floor(1000.0 * F.log((F.col("c") + 1).cast("double") / denom))
            .cast("bigint")
            .alias("mnat"),
        )
        lm_scored = (
            tok.join(F.broadcast(probs), "word", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum(F.coalesce("mnat", F.lit(0)))
                .cast("bigint")
                .alias("seen_mnat"),
                F.sum(F.when(F.col("mnat").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_unk"),
            )
        )
        # the batch lane's exact integer mnat_per_token expression
        ppl = lm_scored.crossJoin(F.broadcast(lstats)).select(
            "doc_id",
            (
                F.expr(
                    "CAST(-(seen_mnat + n_unk * CAST(floor(1000.0 * ln("
                    "CAST(t_all - t_top + 1 AS DOUBLE) /"
                    " CAST(t_all + v_top + 1 AS DOUBLE)"
                    ")) AS BIGINT)) DIV n_tokens AS BIGINT)"
                )
                <= PPL_MAX_MNAT
            ).alias("ppl_raw"),
        )

        # -- 5. dup: global-cap banded candidates, exact Jaccard ------
        sig_parts = [sigs] + corpus_probe_parts(
            spark, f"{store_path}/sigs", exclude_batch=batch_id
        )
        all_sigs = sig_parts[0].select("doc_id", *[f"mh{h}" for h in range(N_HASHES)])
        for p in sig_parts[1:]:
            all_sigs = all_sigs.unionByName(
                p.select("doc_id", *[f"mh{h}" for h in range(N_HASHES)])
            )
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.concat_ws(
                        ":", F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")
                    ).alias("band_key"),
                )
                for b in range(N_HASHES // BAND_ROWS)
            ]
        )
        bands = pin(
            all_sigs.select("doc_id", F.explode(band_structs).alias("b"))
            .select("doc_id", "b.band_id", "b.band_key")
        )
        bsz = bands.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("bsz")
        )
        bands_k = bands.join(
            bsz.where(F.col("bsz") <= MAX_BUCKET), ["band_id", "band_key"]
        ).select("doc_id", "band_id", "band_key")
        batch_ids = d.select("doc_id")
        # only pairs whose LOSER (doc_b, the larger id) is in this
        # batch decide this batch's verdicts — so restrict the b-side
        # band rows to the batch BEFORE the pair join (r11 advice):
        # per-batch candidate work then scales with batch x corpus /
        # bands, not corpus^2 / bands. The bucket cap above stays
        # computed over the GLOBAL band relation.
        bands_b = bands_k.join(batch_ids, "doc_id", "left_semi")
        a, b_ = bands_k.alias("a"), bands_b.alias("b")
        cand = pin(
            a.join(
                b_,
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sh_parts = [sh] + corpus_probe_parts(
            spark, f"{store_path}/sh", exclude_batch=batch_id
        )
        all_sh = sh_parts[0].select("doc_id", "shingle")
        for p in sh_parts[1:]:
            all_sh = all_sh.unionByName(p.select("doc_id", "shingle"))
        sz_dirs = corpus_dirs(spark, f"{store_path}/shsz")
        all_sz = spark.read.parquet(*sz_dirs).groupBy("doc_id").agg(
            F.sum("n").alias("n")
        )
        shared = (
            cand.join(
                all_sh.select(F.col("doc_id").alias("doc_a"), "shingle"),
                "doc_a",
            )
            .join(
                all_sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
                ["doc_b", "shingle"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        jac = (
            shared.join(
                all_sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
                "doc_a",
            )
            .join(
                all_sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
                "doc_b",
            )
        )
        dup_docs = (
            jac.where(
                10000.0 * F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
                >= 8000.0
            )
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("is_dup", F.lit(True))
        )

        # -- 6. verdicts + running ablation ----------------------------
        v = (
            d.select("doc_id", "source")
            .join(g, "doc_id", "left")
            .join(nb, "doc_id", "left")
            .join(ppl, "doc_id", "left")
            .join(dup_docs, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                F.coalesce("g_raw", F.lit(False)).alias("g_ok"),
                F.coalesce("nb_raw", F.lit(False)).alias("nb_ok"),
                F.coalesce("ppl_raw", F.lit(False)).alias("ppl_ok"),
                F.col("is_dup").isNull().alias("dup_ok"),
            )
            .localCheckpoint()
        )
        v.write.mode("overwrite").parquet(f"{store_path}/verdicts/b{batch_id}")
        v.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        vdirs = corpus_dirs(spark, f"{store_path}/verdicts")
        ledger = spark.read.parquet(*vdirs)
        pool_rollup(ledger).write.mode("overwrite").parquet(
            f"{out_path}/report"
        )
        free_blocks(d, sigs, sh, bands, cand)

    return proc


def attention_manifest_foreach_batch(spark, store_path: str, out_path: str):
    """Streaming face of the batch `pack_attention_boundaries` lane —
    the EOD/attention-reset manifest a CONTINUOUSLY-PACKING training
    reader consumes (r11 verdict item 8): each micro-batch persists its
    documents' (doc_id, word, k) counts into a per-batch store dir,
    then the face retrains the BPE merge table on the FOLDED corpus
    vocabulary, recomputes every doc's token count, lays the corpus out
    in the batch lane's md5(doc_id) packing order, and republishes the
    full per-chunk boundary manifest to ``out_path/b<batch_id>`` plus
    the stable ``out_path/report``.

    Shares the batch lane's derivation verbatim (curation.py's
    _bpe_encoded_vocab_from_wc + _layout_from_doctot +
    attention_manifest_from_layout), so the manifest after batch N
    equals pack_attention_boundaries over the concatenated corpus —
    the equivalence the test pins. Retraining per batch is the honest
    semantics: a new batch shifts merge winners, which can re-tokenize
    OLD documents — a frozen tokenizer would silently drift from the
    batch lane.

    Scale shape: the store is vocabulary-shaped per batch (doc-word
    counts, map-side combined), the fold is one word-keyed aggregate,
    merge training runs on the folded vocab only (corpus-size
    independent), the layout is the bounded two-phase prefix sum, and
    the manifest emits one row per (doc, touched chunk). Idempotence:
    per-batch overwrite dirs — a foreachBatch replay overwrites its
    own increment and republishes identically; compaction-safe (the
    dw store is a count corpus: compact_corpus concatenation keeps the
    word fold exact)."""
    from wally_spark.plans.curation import (
        _BPE_D,
        _bpe_encoded_vocab_from_wc,
        _layout_from_doctot,
        _words_col,
        attention_manifest_from_layout,
    )

    ensure_store_format(spark, store_path, "attention-v1")

    def proc(batch_df, batch_id):
        (
            batch_df.select("doc_id", F.explode(_words_col()).alias("word"))
            .groupBy("doc_id", "word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
            .write.mode("overwrite")
            .parquet(f"{store_path}/dw/b{batch_id}")
        )
        dw = spark.read.parquet(*corpus_dirs(spark, f"{store_path}/dw"))
        wc = dw.groupBy("word").agg(F.sum("k").cast("bigint").alias("c"))
        vocab = _bpe_encoded_vocab_from_wc(wc)
        dd = _BPE_D + _BPE_D
        wsyms = vocab.select(
            "word",
            F.split(F.expr("substring(s, 2, length(s)-2)"), dd).alias("sy"),
        )
        doctot = (
            dw.join(wsyms, "word")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("k") * F.size("sy"))
                .cast("bigint")
                .alias("n_tokens")
            )
        )
        manifest = attention_manifest_from_layout(
            _layout_from_doctot(spark, doctot)
        ).localCheckpoint()
        manifest.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        manifest.write.mode("overwrite").parquet(f"{out_path}/report")

    return proc


def decode_check_foreach_batch(spark, store_path: str, out_path: str):
    """Streaming face of the batch `bpe_decode_check` lane — the
    tokenizer round-trip INTEGRITY MONITOR run continuously (r12
    verdict item 5: id-table drift is an ingest-time event, so the
    check is most valuable per micro-batch, not per offline audit).
    Each batch persists its documents' ordered word stream
    (doc_id, wpos, word) and metadata (doc_id, lang, source, norm_md5)
    into per-batch store dirs, then retrains the BPE merge table on
    the FOLDED corpus vocabulary, re-encodes every document symbol ->
    dense id, decodes back through the same table, reconstructs each
    document in (word, symbol) order and verifies md5 against the
    stored normalized original — republishing the per-(lang, source)
    n_docs / n_ok / token-mass report to ``out_path/b<batch_id>`` and
    the stable ``out_path/report``.

    Shares the batch lane's report body verbatim
    (plans/curation.decode_check_report — the
    attention_manifest_foreach_batch retrain-on-folded-vocabulary
    pattern), so the report after batch N equals `bpe_decode_check`
    over the concatenated corpus — the equivalence the test pins.
    Retraining per batch is the honest semantics: a new batch shifts
    merge winners and re-tokenizes OLD documents; the round-trip must
    hold under the CURRENT table, exactly as the batch lane checks.

    Scale shape: the dw store is token-mass-shaped (one row per word
    occurrence — the same class as the lane's own toks explode), the
    docs store one row per document; the fold is one word-keyed
    aggregate; merge training runs on the folded vocabulary only; the
    decode joins broadcast the bounded id table. Idempotence:
    per-batch overwrite dirs — replay overwrites its own increment and
    republishes identically; compaction-safe for BOTH stores (rows
    carry their own order in wpos — concatenation loses nothing)."""
    from wally_spark.plans.curation import (
        _BPE_D,
        _bpe_encoded_vocab_from_wc,
        _words_col,
        decode_check_report,
    )

    ensure_store_format(spark, store_path, "decode-check-v1")

    def proc(batch_df, batch_id):
        (
            batch_df.select(
                "doc_id", F.posexplode(_words_col()).alias("wpos", "word")
            )
            .write.mode("overwrite")
            .parquet(f"{store_path}/dw/b{batch_id}")
        )
        (
            batch_df.select(
                "doc_id",
                "lang",
                "source",
                F.md5(
                    F.concat_ws(" ", _words_col()).cast("binary")
                ).alias("norm_md5"),
            )
            .write.mode("overwrite")
            .parquet(f"{store_path}/docs/b{batch_id}")
        )
        dw = spark.read.parquet(*corpus_dirs(spark, f"{store_path}/dw"))
        docs = spark.read.parquet(
            *corpus_dirs(spark, f"{store_path}/docs")
        )
        wc = dw.groupBy("word").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        vocab = _bpe_encoded_vocab_from_wc(wc)
        dd = _BPE_D + _BPE_D
        wsyms = vocab.select(
            "word",
            F.split(F.expr("substring(s, 2, length(s)-2)"), dd).alias("sy"),
        )
        dwj = dw.join(wsyms, "word")
        report = decode_check_report(docs, wsyms, dwj).localCheckpoint()
        report.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")
        report.write.mode("overwrite").parquet(f"{out_path}/report")

    return proc
