"""Shared pieces of the benchmark: the work directory, percentiles with
their sample counts, the span recorder, the process-tree memory
sampler and the Spark session helpers every workload uses."""

from __future__ import annotations

import json
import os
import shutil
import socket
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything a run writes (parquet inputs, checkpoints, ALO write-ahead
# logs, spark scratch) lives in a directory of its own under this one,
# inside the checkout; .gitignore names it. A run never sees another
# run's checkpoints, so a repeated seed cannot resume stale state.
WORK = os.path.join(ROOT, ".perfbench_work")
# set-ups per run: setup_s is their median. The first counts from
# process start (JVM launch included); the second restarts the session
# or query in the same process. With two, the median is their mean, so
# work moved into first use (JVM, Python workers, caches) still shows.
SETUPS = 2
# the engine's cores (local[N]): all but one, which is left to the load
# generator, this process and the JVM's own threads. A python task keeps
# a JVM thread and a Python worker busy, so with every core given to
# tasks, a core the shared host takes away stalls a whole stage.
ENGINE_CPUS = max(1, (os.cpu_count() or 4) - 1)


def run_dir() -> str:
    return os.path.join(WORK, f"run-{os.getpid()}")


def work_dir(*parts: str) -> str:
    path = os.path.join(run_dir(), *parts)
    os.makedirs(path, exist_ok=True)
    return path


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# ---------------------------------------------------------------- statistics
def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank percentile ``q`` (0..100) and the sample count it
    rests on. An empty sample gives (nan, 0) so callers cannot mistake
    a missing measurement for a zero."""
    xs = sorted(values)
    if not xs:
        return float("nan"), 0
    rank = max(1, -(-len(xs) * q // 100))  # ceil(n*q/100), at least 1
    return float(xs[int(rank) - 1]), len(xs)


def median(values) -> float:
    xs = list(values)
    return float(statistics.median(xs)) if xs else float("nan")


def another_round(done: int, least: int, started: float, last: float, seconds: float) -> bool:
    """Whether a timed loop starts another round: always until ``least``
    rounds ran, then only if one more round as long as the ``last`` one
    ends within ``seconds`` of ``started`` (``time.perf_counter``). A
    round about as long as the run then runs once, not once or twice by
    chance."""
    return done < least or time.perf_counter() - started + last <= seconds


# ---------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span records name, start, end, its parent span and the trace id
    of the unit of work it belongs to. A disabled tracer records
    nothing, so untraced runs pay one flag check per call site.
    ``dump`` writes the spans once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str = ""):
        if not self.enabled:
            yield
            return
        with self._lock:
            self._next += 1
            sid = self._next
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "trace": trace,
                     "name": name, "start": start, "end": end}
                )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split among the processes that map it, so Python workers forked
    from one daemon are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RSSSampler:
    """Samples, from outside the system, the resident memory (PSS) of
    every JVM this process started plus all of that JVM's descendants
    (the Python workers) every ``interval`` seconds, and keeps the
    largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RSSSampler":
        self._thread.start()
        return self

    def sample(self) -> int:
        kids = _children()
        todo = [p for p in kids.get(os.getpid(), []) if _is_jvm(p)]
        total = 0
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- session
def configure_env() -> None:
    """Keep every file Spark writes inside the checkout and let Python
    workers import ``perfbench`` (its functions are pickled by
    reference). Must run before the first SparkSession starts."""
    import tempfile

    tmp = work_dir("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work_dir("spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # a deployment setting of get_spark, fixed so that runs compare:
    # its 8g default is more than a shared small host should reserve
    os.environ["WALLY_SPARK_DRIVER_MEM"] = "1g"
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{ROOT}:{prev}" if prev else ROOT
    # the heap is committed and touched at launch, so peak_rss_mb
    # follows the off-heap and Python-worker memory rather than when
    # the collector last grew the heap; no perf-data file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch"
        " -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work_dir('warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly
    or not (Linux ``PR_SET_CHILD_SUBREAPER``): a Python worker or shell
    whose parent (the JVM) ends becomes this process's child rather
    than init's, so ``stop_children`` can find it and wait for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap() -> bool:
    """Collect every ended child; False once no child is left at all."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_children(grace: float = 10.0) -> None:
    """Stop every process this one started and wait until each has
    ended: the multiprocessing resource tracker is closed, anything
    still running after ``grace`` seconds is sent SIGTERM, then
    SIGKILL, and every child (orphans adopted through
    ``adopt_orphans`` included) is reaped."""
    import signal
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except (OSError, ChildProcessError, AttributeError):
        pass
    start = time.monotonic()
    termed = False
    while _reap():
        alive = _descendants()
        waited = time.monotonic() - start
        if not alive or waited > grace + 30:
            break
        if waited > grace + 5 or (waited > grace and not termed):
            sig = signal.SIGTERM if not termed else signal.SIGKILL
            termed = True
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.02)


def shutdown() -> None:
    """Stop the JVM this process launched and wait for it (its Python
    workers end with it), then remove the run's work directory."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        shutil.rmtree(run_dir(), ignore_errors=True)
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    shutil.rmtree(run_dir(), ignore_errors=True)


def start_session(tracer: Tracer, cpus: int | None = None):
    """``session.get_spark`` under the ``session.start`` span."""
    from wally_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
    return spark
