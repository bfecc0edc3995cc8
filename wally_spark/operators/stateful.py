"""Per-key stateful computations (reference: state_computation,
machida/__init__.py:465-487).

Batch: applyInPandas per key — rows are replayed in event order
through the user's (data, state) function, exactly the semantics a
Wallaroo state step sees; distributed by key hash, no driver loops.

Streaming: one primitive, ``_keyed_state``, carries every per-key
stream state step in the package (``run_state_stream``, the pane and
count-window operators in ``operators/windows.py`` and the twins in
``streaming/ops.py``). It is the only applyInPandasWithState call:
it keeps each key's state as one cloudpickled ``blob binary`` column
in the state store between micro-batches, hands the operator's fold
the key's rows of the micro-batch in (ts, event_id) order, builds the
output frame and runs the optional event-time expiry. An operator
supplies only its fold and, when it expires keys, its final rows.
"""

from __future__ import annotations

from pyspark import cloudpickle as pickle
from types import SimpleNamespace

import pandas as pd
from pyspark.sql import DataFrame

KEY_COL = "__key"


def _in_order(chunks) -> pd.DataFrame:
    """One key's rows in (ts, event_id) order — whichever of the two
    the frame has — by one stable sort across all of its chunks."""
    chunks = list(chunks)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    cols = [c for c in ("ts", "event_id") if c in pdf.columns]
    return pdf.sort_values(cols, kind="mergesort") if cols else pdf


def _records(pdf: pd.DataFrame):
    for t in pdf.itertuples(index=False):
        yield SimpleNamespace(**t._asdict())


def _apply_state_fn(fn, is_multi, pdf: pd.DataFrame, key: str, state):
    """Replay ``pdf`` (already in order) through the user's state
    function; returns the output rows as dicts."""
    out = []
    for rec in _records(pdf):
        res = fn(rec, state)
        if res is None:
            continue
        rows = res if is_multi else [res]
        for r in rows:
            d = dict(r) if isinstance(r, dict) else vars(r)
            d[KEY_COL] = key
            out.append(d)
    return out


def _keyed_state(
    df: DataFrame, key_col: str, out_schema: str, init, fold,
    expiry=None, on_timeout=None,
) -> DataFrame:
    """The per-key stream state operator, over ``df`` grouped by
    ``key_col``. Per key and micro-batch:

    - the state is loaded from its ``blob binary`` column (cloudpickle),
      or is ``init()`` for a key without one;
    - ``fold(key, rows, state)`` returns ``(state, out)``: ``rows`` is
      every row of the key in the micro-batch, in (ts, event_id) order
      across Arrow chunks; ``out`` is a list of rows, tuples in
      ``out_schema`` order or dicts by column name;
    - the state is stored back and ``out`` emitted.

    ``expiry(rows, state)`` turns on event-time expiry (it needs a
    watermark upstream): it gives the key's timeout in epoch ms after
    each fold, or None for none. When the watermark passes it, the
    key's state is removed and ``on_timeout(key, state)``, if given,
    returns the key's final rows."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = [c.strip().split()[0] for c in out_schema.split(",")]

    def load(group_state):
        (blob,) = group_state.get
        return pickle.loads(bytes(blob))

    def runner(key_tuple, chunks, group_state):
        key = key_tuple[0]
        if group_state.hasTimedOut:
            out = []
            if on_timeout is not None and group_state.exists:
                out = on_timeout(key, load(group_state))
            group_state.remove()
        else:
            rows = _in_order(chunks)
            state = load(group_state) if group_state.exists else init()
            state, out = fold(key, rows, state)
            group_state.update((pickle.dumps(state),))
            ms = expiry(rows, state) if expiry is not None else None
            if ms is not None:
                group_state.setTimeoutTimestamp(ms)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return df.groupBy(key_col).applyInPandasWithState(
        runner,
        outputStructType=out_schema,
        stateStructType="blob binary",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if expiry is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def run_state_batch(df: DataFrame, comp, out_schema: str) -> DataFrame:
    """groupBy(key).applyInPandas replay. ``out_schema`` must include
    ``__key string``."""

    def runner(key_tuple, pdf: pd.DataFrame):
        key = key_tuple[0]
        out = _apply_state_fn(
            comp.fn, comp.is_multi, _in_order([pdf]), key, comp.state_class()
        )
        return pd.DataFrame(out) if out else pd.DataFrame(
            {c.strip().split()[0]: pd.Series(dtype="object") for c in out_schema.split(",")}
        )

    return df.groupBy(KEY_COL).applyInPandas(runner, out_schema)


def run_state_stream(
    df: DataFrame, comp, out_schema: str, state_ttl_gap_s: int | None = None
) -> DataFrame:
    """The user's state function per key, its state carried across
    micro-batches by ``_keyed_state``.

    Default (``state_ttl_gap_s=None``) matches the reference: a key's
    state lives until the query stops. At 100 TB with unbounded key
    cardinality that leaks; pass ``state_ttl_gap_s`` to expire a key's
    state after that much event-time inactivity (EventTimeTimeout —
    requires a watermark upstream). An expired key restarts from a
    fresh ``state_class()`` on its next event.
    """

    def fold(key, rows, state):
        return state, _apply_state_fn(comp.fn, comp.is_multi, rows, key, state)

    expiry = None
    if state_ttl_gap_s is not None:
        def expiry(rows, state):
            if "ts" not in rows.columns or not len(rows):
                return None
            last_ms = int(pd.Timestamp(rows["ts"].max()).value // 1_000_000)
            return last_ms + state_ttl_gap_s * 1000

    return _keyed_state(df, KEY_COL, out_schema, comp.state_class, fold, expiry)
