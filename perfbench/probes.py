"""Counters read from outside the program: Spark's status tracker and
codegen metrics, the Spark JVM's MXBeans, and proportional resident
memory from ``/proc`` (the benchmark does not depend on psutil)."""

from __future__ import annotations

import os
import threading
import time


COUNTERS = ("codegen.compiles", "jvm.jit_ms", "jvm.classes_loaded", "jvm.gc_ms")


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JVM-wide counters; diff two snapshots for a phase."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "codegen.compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "jvm.jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "jvm.classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "jvm.gc_ms": gc_ms,
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, seconds).
    Recorded per unit so that a slow unit on a busy host shows as such."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def diff(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def job_group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; the ppid is the 2nd field after ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    across the processes mapping it (forked Python workers share most of
    their pages with the worker daemon, so summed RSS would over-count)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the summed PSS of this process and all its descendants
    (the Spark JVM and the Python workers it forks) every ``period``
    seconds on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def reap_descendants(timeout: float = 20.0) -> list[int]:
    """Terminate every process this one started and wait until each has
    ended; returns the pids that had to be signalled."""
    import signal

    me = os.getpid()
    left = descendants(me)
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    while time.time() < deadline:
        _reap_zombies()
        if not descendants(me):
            return left
        time.sleep(0.1)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    time.sleep(0.2)
    _reap_zombies()
    return left


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
