"""The benchmark's own tests: seeded generators, reference computations,
percentiles, the open-loop sender and the metric list.

    python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import math
import os
import shutil
import socket
import subprocess
import sys
import threading

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, reference
from perfbench.common import percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- generators
def test_stream_events_deterministic_per_seed():
    a = gen.stream_events(7, "paced", 2_000)
    b = gen.stream_events(7, "paced", 2_000)
    c = gen.stream_events(8, "paced", 2_000)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[0], c[0])
    # phases of one seed draw different events
    assert not np.array_equal(a[0], gen.stream_events(7, "unpaced", 2_000)[0])


def test_stream_hot_users_fixed_across_seeds_and_phases():
    def hottest(seed, tag):
        return np.bincount(gen.stream_events(seed, tag, 20_000)[0]).argmax()

    assert hottest(7, "paced") == hottest(8, "paced") == hottest(7, "unpaced")


def test_zipf_keys_are_skewed():
    keys = gen.zipf_keys(gen.rng_for(1, "t"), 20_000, 10_000, 1.1)
    top = np.sort(np.bincount(keys, minlength=10_000))[::-1]
    assert keys.min() >= 0 and keys.max() < 10_000
    assert top[0] > 20 * max(1, np.median(top))


def test_batch_events_deterministic_and_out_of_order():
    a = gen.batch_events(3, "w", 5_000, 50, 3600)
    b = gen.batch_events(3, "w", 5_000, 50, 3600)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(gen.batch_events(4, "w", 5_000, 50, 3600))
    ts = a["ts"].values
    late = np.mean(ts[1:] < np.maximum.accumulate(ts)[:-1])
    assert 0.02 < late < 0.08  # about the 5% out-of-order share


def test_documents_deterministic():
    assert gen.documents(5, "d", 50) == gen.documents(5, "d", 50)
    assert gen.documents(5, "d", 50) != gen.documents(6, "d", 50)


def test_registry_tables_deterministic(tmp_path):
    import pyarrow.parquet as pq

    c1 = gen.registry_tables(2, str(tmp_path / "a"), 0.0005)
    c2 = gen.registry_tables(2, str(tmp_path / "b"), 0.0005)
    assert c1 == c2 and c1["lineitem"] == 3_000
    for t in ("lineitem", "documents", "embeddings"):
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))


# ---------------------------------------------------------------- references
def test_running_totals_tiny():
    events = [(10, 1, 5), (11, 2, 7), (12, 1, 600), (13, 2, 1)]
    assert reference.running_totals(events) == {10: 5, 11: 7, 12: 605, 13: 8}


def test_check_stream_rows_counts_lost_duplicate_and_wrong():
    want = {1: 5, 2: 7, 3: 605}
    ok = [{"event_id": 1, "total": 5, "alert": False},
          {"event_id": 2, "total": 7, "alert": False},
          {"event_id": 3, "total": 605, "alert": True}]
    assert reference.check_stream_rows(want, ok) == 0
    assert reference.check_stream_rows(want, ok[:2]) == 1  # lost
    assert reference.check_stream_rows(want, ok + ok[:1]) == 1  # duplicate
    wrong = [dict(ok[0], total=6)] + ok[1:]
    assert reference.check_stream_rows(want, wrong) == 1
    bad_alert = ok[:2] + [dict(ok[2], alert=False)]
    assert reference.check_stream_rows(want, bad_alert) == 1


def test_window_sums_tiny():
    hour = 3_600_000_000
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([0, hour // 2, hour + 1], unit="us"),
        "user_id": ["a", "a", "a"],
        "value": [1.0, 2.0, 4.0],
    })
    got = reference.window_sums(pdf, hour, hour // 2)
    got = {int(w): (t, n) for w, t, n in zip(got["ws_us"], got["total"], got["n"])}
    assert got == {
        -hour // 2: (1.0, 1),
        0: (3.0, 2),
        hour // 2: (6.0, 2),
        hour: (4.0, 1),
    }


def test_count_window_sums_tiny():
    pdf = pd.DataFrame({
        "event_id": range(7),
        "ts": pd.to_datetime([5, 1, 2, 3, 4, 6, 7], unit="s"),
        "user_id": ["a"] * 5 + ["b"] * 2,
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
    })
    got = reference.count_window_sums(pdf, 2)
    # user a in time order: 2, 3, 4, 5, 1 -> windows (2+3), (4+5); the
    # odd one out is not a full window. user b: (6+7)
    assert sorted(map(tuple, got.values.tolist())) == [
        ("a", 0, 5.0), ("a", 1, 9.0), ("b", 0, 13.0)]


def test_word_counts_tiny():
    assert reference.word_counts(["a b a", "B  c"]) == {"a": 2, "b": 2, "c": 1}


def test_digest_ignores_row_and_column_order():
    d1 = reference.digest(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    d2 = reference.digest(["y", "x"], [(None, 2), (0.3, 1)])
    assert d1 == d2 and d1[0] == 2
    assert reference.digest(["x", "y"], [(1, 0.31), (2, None)]) != d1


# ---------------------------------------------------------------- statistics
def test_percentile_reports_sample_count():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == (50.0, 100)
    assert percentile(xs, 99) == (99.0, 100)
    assert percentile(reversed(xs), 100) == (100.0, 100)
    assert percentile([4.0], 99) == (4.0, 1)
    value, n = percentile([], 50)
    assert math.isnan(value) and n == 0


# ---------------------------------------------------------------- load generator
@pytest.mark.parametrize("rate", [2_000, 1_000_000])
def test_open_loop_sender_stamps_due_times(rate):
    """Each paced event carries t0 + i / rate as its event time,
    whatever the moment it was sent, and lands exactly once; a sender
    with more events due than the credit window (the fast rate) sends
    them window by window."""
    from perfbench import loadgen
    from wally_spark.sources.alo import ALOIngestServer

    landed = []
    server = ALOIngestServer(
        cookie="c", land=lambda sid, mid, payload, et, key: landed.append((sid, mid, et)),
        initial_credits=8)
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)

    def accept():
        conn, _ = lsock.accept()
        with conn:
            server.serve_connection(conn)

    t = threading.Thread(target=accept, daemon=True)
    t.start()
    state = {"receiver": loadgen.Receiver()}
    try:
        out = loadgen._phase(state, lsock.getsockname()[1], "c", 5,
                             [b"%d" % i for i in range(40)], rate=rate)
    finally:
        state["sender"].close()
        state["receiver"].close()
        lsock.close()
    t.join(timeout=10)
    assert not t.is_alive()
    assert [(s, m) for s, m, _ in landed] == [(5, i) for i in range(40)]
    due = [et - out["t0_ns"] for _, _, et in landed]
    assert due == [int(i * 1e9 / rate) for i in range(40)]
    assert len(out["late_ms"]) == 40


# ---------------------------------------------------------------- contract
def test_metric_names_match_benchmark_json():
    from perfbench import metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOADS)


def test_refuses_to_run_without_the_system(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


def test_stop_children_ends_orphaned_grandchildren():
    # a shell starts a sleeper in the background and exits at once, so the
    # sleeper is orphaned; stop_children must still end it and reap it
    script = (
        "import subprocess, sys\n"
        "from perfbench.common import adopt_orphans, stop_children\n"
        "adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                     capture_output=True, text=True).stdout\n"
        "stop_children(grace=0.2)\n"
        "print(out.strip())\n"
    )
    p = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    pid = int(p.stdout.split()[-1])
    assert not os.path.exists(f"/proc/{pid}")
