"""Host readings: process start time, the resident set of the Spark
driver JVM plus its Python worker tree (from ``/proc``), and a CPU probe
that runs outside the JVM."""

from __future__ import annotations

import multiprocessing
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / _TICK)


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                out[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` plus its PySpark daemon and workers. Other
    children are left out: a child the JVM has forked but not yet
    exec'd (Hadoop runs ``chmod`` that way on local writes) shares the
    JVM's pages and would count them twice."""
    return rss_bytes(root) + sum(
        rss_bytes(p) for p in descendants(root)[1:] if _is_python_worker(p)
    )


class RssSampler:
    """Samples the RSS of a process tree on a background thread and
    keeps the peak of the tree and of its root alone."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        self.peak_root = max(self.peak_root, rss_bytes(self.root))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak


def alive(pids: list[int]) -> list[int]:
    return [p for p in pids if os.path.exists(f"/proc/{p}")]


def _spin(loops: int) -> float:
    """A fixed pure-Python integer loop; returns its own wall time."""
    t = time.perf_counter()
    x = 0
    for i in range(loops):
        x += i * i
    return time.perf_counter() - t


class CpuProbe:
    """Times a fixed CPU loop on ``slots`` worker processes at once.

    The workers are forked from this process before the Spark session
    starts, so they share nothing with the JVM, and the work they time
    is the same whatever the code under test does. A sample is the time
    of the fastest worker: a worker that lost its CPU to a JVM thread
    still busy between ops (the JIT compiler, a concurrent GC) does not
    count, while a slowdown of the whole host slows every worker. Call
    ``sample`` only while no Spark job runs.
    """

    #: iterations per worker per sample: about 28 ms on a quiet 4-vCPU box
    LOOPS = 400_000

    def __init__(self, slots: int):
        self.slots = slots
        self.samples: list[float] = []
        self._pool = multiprocessing.get_context("fork").Pool(slots)

    def sample(self) -> float:
        took = self._pool.map(_spin, [self.LOOPS] * self.slots, chunksize=1)
        self.samples.append(min(took))
        return self.samples[-1]

    def close(self) -> None:
        self._pool.close()
        self._pool.join()
