"""Host sizing, host counters and Spark status-store reads.

Everything here reads the machine or the running Spark application
from outside the program under test: cores and heap are derived from
the host, steal and resident memory come from ``/proc``, and shuffle,
spill and storage figures come from Spark's own status store.
"""

from __future__ import annotations

import os
import threading
import time

# Benchmark runs stay small on a shared box: at most this many local
# cores, and at most this much driver heap, whatever the host offers.
MAX_CORES = 4
HEAP_SHARE = 1 / 16
HEAP_MIN_MB = 512
HEAP_MAX_MB = 4096


def host_cores() -> int:
    """Cores this process may run on, capped at ``MAX_CORES``."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        n = os.cpu_count() or 1
    return max(1, min(n, MAX_CORES))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """Driver heap as a share of host memory, clamped to a small range."""
    mb = int(mem_total_mb() * HEAP_SHARE)
    return max(HEAP_MIN_MB, min(mb, HEAP_MAX_MB))


def steal_ticks() -> int:
    """Hypervisor steal ticks (aggregate cpu line of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def steal_fraction(t0: int, t1: int, wall_s: float) -> float:
    """Share of all cores' time stolen by the host over ``wall_s``."""
    hz = os.sysconf("SC_CLK_TCK")
    return (t1 - t0) / max(wall_s * hz * (os.cpu_count() or 1), 1e-9)


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children of each pid, resident KB of each pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # process ended while we read it
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    return children, rss


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    children, rss = _process_table()
    return rss.get(root, 0) + sum(rss.get(p, 0) for p in _descendants(root, children))


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.

    The driver JVM leaves processes behind when it exits (the Python
    worker daemon and its workers, a launcher sub-shell). Without this
    they would be re-parented to init and could outlive the benchmark;
    with it they become children of this process, which
    ``stop_descendants`` then ends and reaps."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """End every process this one started, directly or not, and wait
    until each has ended: SIGTERM first, SIGKILL after ``grace_s``."""
    import signal
    from multiprocessing import resource_tracker

    # the spawn pool's semaphore tracker: closing its pipe ends it
    resource_tracker._resource_tracker._stop()
    sig, deadline = signal.SIGTERM, time.monotonic() + grace_s
    sent: set[int] = set()
    while True:
        _reap()
        left = _descendants(os.getpid(), _process_table()[0])
        if not left:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, sent = signal.SIGKILL, set()
        for pid in left:
            if pid not in sent:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent.add(pid)
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process tree, sampled in a thread.

    Covers the driver JVM and the Python workers, which are all
    descendants of the benchmark process. ``take`` returns the peak
    since the previous ``take``, so each timed run gets its own."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kb = _tree_rss_kb(os.getpid())
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take(self) -> int:
        """Peak resident KB since the previous call."""
        self._sample()
        with self._lock:
            peak, self._peak_kb = self._peak_kb, 0
        return peak

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class StageMeter:
    """Shuffle and spill bytes of the stages run since ``mark``.

    Reads Spark's application status store (kept even with the UI off)
    after draining the listener bus, so the figures of a finished
    action are complete when read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen: set[int] = set()
        self.mark()

    def _job_ids(self) -> set[int]:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._conv.asJava(self._sc.statusStore().jobsList(None))
        return {jobs.get(i).jobId() for i in range(jobs.size())}

    def mark(self) -> None:
        self._seen = self._job_ids()

    def read(self) -> dict[str, int]:
        """Totals over the jobs finished since the last ``mark``."""
        store = self._sc.statusStore()
        totals = {"shuffle_bytes": 0, "spill_bytes": 0}
        stage_ids: set[int] = set()
        for job_id in self._job_ids() - self._seen:
            stage_ids.update(self._conv.asJava(store.job(job_id).stageIds()))
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage skipped, never attempted
                continue
            totals["shuffle_bytes"] += s.shuffleWriteBytes()
            totals["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.mark()
        return totals


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs and DataFrames, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def timed(fn, *args, **kwargs):
    """(result, wall seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0
