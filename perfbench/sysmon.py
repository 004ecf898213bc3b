"""Process-level counters: peak summed RSS from /proc (psutil is not a
dependency), JVM garbage-collection counters through the management
beans over py4j, and Spark task counts through ``statusTracker``."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces or ')': ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants (the
    benchmark's Python process, the JVM it launched, and the Python
    workers the JVM forks)."""
    kids = _children_map()
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        stack.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def jvm_gc(spark) -> tuple[int, float]:
    """(collections, collection seconds) summed over the JVM's
    collectors since JVM start."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    count = 0
    ms = 0
    for i in range(beans.size()):
        b = beans.get(i)
        count += max(int(b.getCollectionCount()), 0)
        ms += max(int(b.getCollectionTime()), 0)
    return count, ms / 1000.0


def full_gc(spark) -> None:
    """Request a JVM GC (and a Python one) so a timed pass does not pay
    for garbage left by the previous pass."""
    import gc
    spark._jvm.java.lang.System.gc()
    gc.collect()


def group_tasks(spark, group: str) -> int:
    """Tasks launched by every job of a job group."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            s = st.getStageInfo(stage_id)
            if s is not None:
                n += s.numTasks
    return n
