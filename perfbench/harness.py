"""Measurement plumbing shared by the workloads: run stamps, the process-tree
RSS sampler, span recording, Spark status-store metrics and the work
directory every run writes into."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

WORK_ROOT = os.path.join(os.getcwd(), ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir() -> str:
    """A per-run directory inside the checkout. TMPDIR, Spark's local dirs
    and the JVM's java.io.tmpdir all point into it, so the run writes
    nothing outside the checkout; it is removed when the run ends."""
    path = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    tmp = os.path.join(path, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run still owns a directory here


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, which owns the Python
    workers, to exit: the run leaves no process behind."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    try:
        spark.stop()
    except Py4JError:
        pass  # a signal broke the gateway mid-call; still end the JVM below
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def stamps(seed: int) -> dict:
    """Box state at the time of the run. cpu_probe_ms is bench.py's
    fixed-work probe: external load that loadavg cannot see shows there."""
    import pyspark

    from bench import _cpu_probe_ms

    return {
        "seed": seed,
        "cpu_probe_ms": _cpu_probe_ms(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs)


class RssSampler:
    """Peak resident set of this process and all its descendants (the Spark
    JVM and its Python workers), summed per sample from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
        pid = int(name)
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class Spans:
    """Per-layer wall times and counts of one traced run, kept in memory
    and reported when the run ends."""

    def __init__(self):
        self.seconds: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value


class StageMetrics:
    """Shuffle, GC and failure totals of the stages run since the last
    mark, read from Spark's status store (it is kept with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen = self._stage_ids()

    def _stages(self):
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _stage_ids(self) -> set:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def mark(self) -> None:
        self._seen = self._stage_ids()

    def since_mark(self) -> dict:
        new = [s for s in self._stages() if (s.stageId(), s.attemptId()) not in self._seen]
        return {
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in new),
            "spark.shuffle_fetch_wait_s": sum(s.shuffleFetchWaitTime() for s in new) / 1000.0,
            "spark.gc_s": sum(s.jvmGcTime() for s in new) / 1000.0,
            "spark.failed_tasks": sum(s.numFailedTasks() for s in new),
        }

    def task_skew(self, stage_ids: list[int]) -> float:
        """max ÷ median task run time over the tasks of the given stages."""
        times = []
        for sid in stage_ids:
            for s in self._stages():
                if s.stageId() != sid:
                    continue
                tasks = self._store.taskList(sid, s.attemptId(), 1 << 20)
                for i in range(tasks.size()):
                    t = tasks.apply(i)
                    if t.duration().isDefined():
                        times.append(float(t.duration().get()))
        if not times or median(times) <= 0:
            return 1.0
        return max(times) / median(times)


@contextmanager
def job_group(spark, name: str):
    """Tag the Spark jobs run inside the block so their stages can be
    found afterwards (statusTracker)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_stage_ids(spark, name: str) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    out = []
    for jid in tracker.getJobIdsForGroup(name):
        info = tracker.getJobInfo(jid)
        if info is not None:
            out.extend(info.stageIds)
    return out
