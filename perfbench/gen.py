"""Seeded input generators. The same (seed, tag) always gives the same
inputs; the system under test receives only what these produce.

Knobs per workload (chosen in the ``wl_*`` modules, recorded in README.md):
key skew (Zipf exponent over a fixed key space), out-of-order share,
and event count."""

from __future__ import annotations

import os
import zlib

import numpy as np

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros


def rng_for(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(tag.encode())])


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float,
              order: np.ndarray | None = None) -> np.ndarray:
    """``n`` draws from a Zipf(s) law truncated to ``n_keys`` keys. The
    rank → key mapping is ``order``, or else a permutation drawn from
    ``rng``, so which keys are hot changes with the seed but the skew
    does not."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    if order is None:
        order = rng.permutation(n_keys)
    return order[ranks]


# ---------------------------------------------------------------- stream_state
def stream_events(seed: int, tag: str, n: int, n_users: int = 10_000,
                  skew: float = 1.1) -> tuple[np.ndarray, np.ndarray]:
    """(user, amount) arrays for one sender phase; amounts are 1..100.

    The seed and tag draw the events; which users are hot is the same
    for every seed and phase, as in a service whose heavy users stay
    the same. So every phase of every run puts the hot users in the
    same shuffle partitions: a micro-batch waits for its slowest
    partition, and a seeded choice of hot users made latency vary from
    seed to seed."""
    rng = rng_for(seed, f"stream/{tag}")
    users = zipf_keys(rng, n, n_users, skew, order=rng_for(0, "stream/users").permutation(n_users))
    amounts = rng.integers(1, 101, size=n)
    return users, amounts


def stream_payloads(users: np.ndarray, amounts: np.ndarray) -> list[bytes]:
    """Wire payload of each event: ``b"<user>,<amount>"``."""
    return [b"%d,%d" % (u, a) for u, a in zip(users.tolist(), amounts.tolist())]


# ---------------------------------------------------------------- batch pipelines
def batch_events(seed: int, tag: str, n: int, n_users: int, span_s: int,
                 skew: float = 1.1, ooo_share: float = 0.05,
                 max_late_s: int = 1800):
    """Events in ARRIVAL order as a pandas frame (event_id, ts, user_id,
    value). ``ooo_share`` of them arrive late: their event time lies up
    to ``max_late_s`` before the arrival position. Values are whole
    numbers, so every sum is exact in any order."""
    import pandas as pd

    rng = rng_for(seed, f"batch/{tag}")
    arrival_us = np.sort(rng.integers(0, span_s * 1_000_000, size=n))
    late = rng.random(n) < ooo_share
    shift = rng.integers(1, max_late_s * 1_000_000, size=n) * late
    ts_us = np.maximum(arrival_us - shift, 0) + EPOCH_2024_US
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(ts_us, unit="us"),
        "user_id": np.char.add("u", zipf_keys(rng, n, n_users, skew).astype(str)),
        "value": rng.integers(1, 50, size=n).astype(np.float64),
    })


WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter stream group big vector"
).split()


def documents(seed: int, tag: str, n: int, min_words: int = 8,
              max_words: int = 60, skew: float = 1.0) -> list[str]:
    """Space-separated words from a small vocabulary, Zipf-weighted."""
    rng = rng_for(seed, f"docs/{tag}")
    lens = rng.integers(min_words, max_words + 1, size=n)
    words = zipf_keys(rng, int(lens.sum()), len(WORDS), skew)
    out, pos = [], 0
    for k in lens.tolist():
        out.append(" ".join(WORDS[i] for i in words[pos:pos + k]))
        pos += k
    return out


# ---------------------------------------------------------------- registry
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "matte"]
_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "cap"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def registry_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten corpus tables the query registry reads (the schema
    of ``wally_spark.tables.TABLES``) at scale ``sf`` (lineitem has
    6M x sf rows). Returns the row count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = rng_for(seed, "registry")
    n = {
        "customer": int(150_000 * sf), "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(50_000 * sf),
    }
    day_us = 86_400_000_000
    d1995 = 788_918_400_000_000  # 1995-01-01 in micros

    def ts(us):
        return pa.array(us, type=pa.timestamp("us"))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
    }
    c = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, c)],
    }
    s = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, s),
    }
    p = n["part"]
    tables["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    }
    o = n["orders"]
    odate = d1995 + rng.integers(0, 2404, o) * day_us
    tables["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(1000.0, 500000.0, o),
        "o_orderdate": ts(odate),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, o)],
    }
    li = n["lineitem"]
    lorder = np.sort(rng.integers(0, o, li))
    first = np.r_[True, lorder[1:] != lorder[:-1]]
    start_idx = np.maximum.accumulate(np.where(first, np.arange(li), 0))
    qty = rng.integers(1, 51, li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": lorder.astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": (np.arange(li) - start_idx + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": ts(odate[lorder] + rng.integers(1, 122, li) * day_us),
    }
    e = n["events"]
    tables["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts(EPOCH_2024_US + np.sort(rng.integers(0, 30 * day_us, e))),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(40.0, e) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    }
    texts = documents(seed, "registry", n["documents"], 10, 90)
    # one document in ten is a near-duplicate of an earlier one (one
    # word appended), so the dedup queries have pairs to find
    for i in range(1, len(texts)):
        if rng.random() < 0.1:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    d = len(texts)
    tables["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), d)],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (m, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
