"""Summary statistics and /proc accounting for the driver's process tree.

Executor CPU in Spark task metrics counts only the JVM task thread, so the
time spent in Python workers (pandas UDFs, mapInPandas, the verify UDF) is
read here from /proc: live workers' utime+stime plus the cutime+cstime
their parents collected from workers already reaped.
"""

from __future__ import annotations

import math
import os
import statistics
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1024 * 1024


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], min_beyond: int = 10) -> tuple[float, int, int] | None:
    """(value, percentile, n) for the highest whole percentile >= 50 that
    leaves at least ``min_beyond`` samples above it (nearest-rank), or None
    when there are too few samples for such a percentile to exist."""
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return float(s[rank - 1]), p, n
    return None


class ProcStat:
    """One process's /proc/<pid>/stat fields the benchmark needs."""

    __slots__ = ("pid", "ppid", "comm", "cpu_s", "child_cpu_s", "vsize", "rss_mb")

    def __init__(self, pid: int, text: str):
        # comm sits in parentheses and may itself contain spaces or ')'
        lpar, rpar = text.index("("), text.rindex(")")
        f = text[rpar + 2:].split()
        self.pid = pid
        self.comm = text[lpar + 1:rpar]
        self.ppid = int(f[1])
        self.cpu_s = (int(f[11]) + int(f[12])) / _TICK  # utime + stime
        self.child_cpu_s = (int(f[13]) + int(f[14])) / _TICK  # cutime + cstime
        self.vsize = int(f[20])
        self.rss_mb = int(f[21]) * _PAGE / _MB


def read_procs(proc_root: str = "/proc") -> dict[int, ProcStat]:
    out = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc_root}/{name}/stat") as fh:
                out[int(name)] = ProcStat(int(name), fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
    return out


def descendants(procs: dict[int, ProcStat], root: int) -> list[ProcStat]:
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(procs[pid])
        todo.extend(kids.get(pid, ()))
    return out


def is_python_worker(p: ProcStat) -> bool:
    return p.comm.startswith("python")


def py_worker_cpu_s(procs: dict[int, ProcStat], root: int) -> float:
    """CPU seconds of every Python process below ``root`` (the driver), live
    or already reaped. The pyspark daemon forks the workers and reaps them,
    so a finished worker's time moves into the daemon's cutime/cstime; a
    finished daemon's time moves into the JVM's, so the JVM's reaped-child
    time is counted too (its only children are the daemon and workers)."""
    total = 0.0
    for p in descendants(procs, root):
        if is_python_worker(p):
            total += p.cpu_s + p.child_cpu_s
        elif p.ppid == root:  # the JVM
            total += p.child_cpu_s
    return total


def tree_cpu_s(procs: dict[int, ProcStat], root: int) -> float:
    """CPU seconds of ``root`` and every process below it, live or reaped."""
    tree = descendants(procs, root) + ([procs[root]] if root in procs else [])
    return sum(p.cpu_s + p.child_cpu_s for p in tree)


def _spawning(procs: dict[int, ProcStat], p: ProcStat) -> bool:
    """A non-Python child with its parent's exact address-space size is
    between clone and exec (the JVM spawns helper commands this way) and
    shares the parent's memory, so its RSS would count the parent twice."""
    parent = procs.get(p.ppid)
    return parent is not None and parent.vsize == p.vsize and not is_python_worker(p)


def tree_rss_mb(procs: dict[int, ProcStat], root: int) -> tuple[float, float]:
    """(driver + JVM + workers, Python workers only) resident MB."""
    below = [p for p in descendants(procs, root) if not _spawning(procs, p)]
    workers = sum(p.rss_mb for p in below if is_python_worker(p))
    own = procs[root].rss_mb if root in procs else 0.0
    return own + sum(p.rss_mb for p in below), workers


class RssSampler:
    """Background sampler of the process tree's resident memory.

    ``peak_total_mb`` and ``peak_workers_mb`` are run-wide peaks;
    ``take_worker_peak()`` returns the Python-worker peak since the
    previous call (one span's peak)."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_total_mb = 0.0
        self.peak_workers_mb = 0.0
        self._worker_peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        total, workers = tree_rss_mb(read_procs(), self.root)
        with self._lock:
            self.peak_total_mb = max(self.peak_total_mb, total)
            self.peak_workers_mb = max(self.peak_workers_mb, workers)
            self._worker_peak = max(self._worker_peak, workers)

    def take_worker_peak(self) -> float:
        self.sample()
        with self._lock:
            peak, self._worker_peak = self._worker_peak, 0.0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
