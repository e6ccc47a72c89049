"""Shared run-time pieces: the Spark session the workloads use, stopping
every process a run started, the memory sampler, Spark job/stage/task
counts, percentiles and result comparison."""

from __future__ import annotations

import ctypes
import decimal
import math
import os
import signal
import subprocess
import sys
import threading
import time
import traceback

from flink_210225_spark import get_spark
from flink_210225_spark.session import _default_driver_mem


def start_session(work: str, master: str | None = None):
    """One SparkSession with the engine's own configuration (``get_spark``),
    so session-wide tuning shows on every workload. The benchmark adds only
    what keeps a run inside its checkout and its stdout parseable (scratch
    and temp dirs under ``work``, no console progress bar, no web UI) and
    what keeps runs comparable: the JVM starts with the full heap the engine
    asks for (``-Xms`` = its driver memory). Left to grow the heap on
    demand, runs of one seed differed by 30 % on corpus_curation."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{_default_driver_mem()}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- process lifetime ----------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly or
    not. The JVM's Python worker daemon and its workers can outlive the JVM
    by a moment; orphaned, they would be out of ``stop_processes``'s reach."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark session, the JVM behind it and every other process the
    run started, and wait until each has ended. Left alone, the JVM exits
    only after this process has: it watches its stdin for end-of-file."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown(raise_exception=False)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    _reap_children(grace_s)


def _reap_children(grace_s: float) -> None:
    """Wait for every child (adopted orphans included) to end: SIGTERM after
    ``grace_s``, SIGKILL five seconds later."""
    me = os.getpid()
    term_at = time.monotonic() + grace_s
    kill_at = term_at + 5.0
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        now = time.monotonic()
        if now >= term_at:
            sig = signal.SIGKILL if now >= kill_at else signal.SIGTERM
            for pid in _children().get(me, ()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            term_at = now + 1.0
        time.sleep(0.05)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100); 0.0 when empty."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


# --- memory --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver JVM plus every process it spawned
    (the Python worker daemon and its workers), sampled every ``period_s``
    from the first ``attach`` until ``stop``."""

    def __init__(self, period_s: float = 0.2):
        self.jvm_pid: int | None = None
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def attach(self, spark) -> None:
        """Start sampling the session's JVM (a no-op once started: session
        restarts reuse the JVM)."""
        if self.jvm_pid is None:
            self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            self.sample()
            self._thread.start()

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        kids = _children()
        todo, total = [self.jvm_pid], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def retained_mb(spark) -> float:
    """Memory the driver JVM still holds after a full garbage collection:
    live heap plus non-heap (class metadata, code cache). Caches, broadcast
    blocks, state stores and plan caches the engine keeps show here. Unlike
    peak resident memory, which follows when the collector happens to run
    and how far the heap grew before it did, this repeats from run to run."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


# --- Spark job accounting (traced run) -----------------------------------


class JobStats:
    """Jobs, stages and tasks per operation, read from
    ``SparkContext.statusTracker()`` for the job group each operation ran
    under (streaming queries run their jobs under their run id)."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.ops = 0
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.tasks_failed = 0
        self._seen_jobs: set[int] = set()
        self._lock = threading.Lock()

    def collect(self, group: str, ops: int = 1) -> None:
        with self._lock:
            self.ops += ops
            for jid in self.tracker.getJobIdsForGroup(group):
                if jid in self._seen_jobs:
                    continue
                self._seen_jobs.add(jid)
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                self.jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is None:  # skipped stage: reused shuffle output
                        continue
                    self.stages += 1
                    self.tasks += st.numTasks
                    self.tasks_failed += st.numFailedTasks

    def metrics(self) -> dict[str, float]:
        n = max(self.ops, 1)
        return {
            "spark.jobs_per_op": self.jobs / n,
            "spark.stages_per_op": self.stages / n,
            "spark.tasks_per_op": self.tasks / n,
            "spark.tasks_failed": float(self.tasks_failed),
        }


# --- result comparison ---------------------------------------------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        r = round(v, 6)
        return f"{0.0 if r == 0 else r:.6f}"
    if isinstance(v, int):
        return f"{float(v):.6f}" if abs(v) < 2**53 else str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Order-insensitive form of a result: column names sorted, each row's
    cells in that order rendered to text (numbers to 6 decimals, so an
    integer column and a float column holding the same values compare
    equal across engines), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return tuple(columns[i] for i in order), body
