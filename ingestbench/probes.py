"""Measurement probes that sit outside the program: process-tree RSS from
/proc, task and shuffle counters from Spark's status store, and on-disk
sizes of the tables a run writes."""

from __future__ import annotations

import os
import statistics
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    return sum(_rss_bytes(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """One thread sampling the benchmark's process tree (Spark JVM and
    Python workers included) every ``interval`` seconds; ``peak()`` is the
    largest sum seen since the last ``reset()``.  The interval is coarse
    because each sample walks /proc while holding the interpreter lock,
    which the streaming sink's Python callback also needs."""

    def __init__(self, interval: float = 0.25):
        self._interval = interval
        self._root = os.getpid()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak(self) -> int:
        with self._lock:
            return self._peak


def stage_totals(spark) -> dict[str, int]:
    """Cumulative shuffle-write bytes, spilled bytes and failed tasks over
    every stage the status store holds; diff two readings to attribute them
    to the jobs in between."""
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0}
    for i in range(stages.size()):
        s = stages.apply(i)
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["failed_tasks"] += s.numFailedTasks()
    return out


def cpu_stall_us() -> int:
    """Microseconds some task on this host waited for a CPU (Linux PSI);
    0 where /proc/pressure is absent.  Shared hosts lend the benchmark's
    cores to others, and this says how much that happened during a run."""
    try:
        with open("/proc/pressure/cpu") as fh:
            return int(fh.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return 0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot (/proc/stat); on
    a virtual machine, steal is time the host ran someone else on a vCPU
    this machine wanted.  (0, 0) where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(v) for v in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def cpu_calibration_ms(reps: int = 5) -> float:
    """Median milliseconds of a fixed single-thread Python loop.  The same
    code on the same machine should read the same in every run; when it
    does not, the host's speed moved between runs, and the job times moved
    with it."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def diff(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden and marker files."""
    size = files = 0
    for base, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


TAIL_PCT = 75


def tail(values: list[float]) -> tuple[float, int]:
    """Nearest-rank ``TAIL_PCT`` percentile and the number of samples beyond
    it.  A run holds a dozen ticks or a few jobs, too few for any percentile
    above the median to have ten samples beyond it, so the count is
    reported with the value."""
    s = sorted(values)
    k = max(0, -(-len(s) * TAIL_PCT // 100) - 1)
    return s[k], len(s) - 1 - k
