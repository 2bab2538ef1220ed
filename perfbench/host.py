"""Host-context probes, recorded beside every run's numbers.

On a shared box a co-tenant can halve throughput. Three short probes make
such a window visible next to the numbers; they are context, not metrics:
a single-core integer loop, the same loop on every benchmark core at once,
and a random gather over an array larger than the CPU caches (memory-bus
contention slows it while the register-only loops barely move).
"""

from __future__ import annotations

import os
import time

import numpy as np

_BURN_ITERS = 2_000_000


def _burn() -> int:
    x = 0
    for _ in range(_BURN_ITERS):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return x


def _multicore(cores: int) -> float:
    """The burn loop in ``cores`` forked children at once, timed from a
    shared start signal until the last child is reaped. Forked children
    (not a multiprocessing pool) leave no helper process behind; on an
    error, run.py stops whatever is left."""
    go_r, go_w = os.pipe()
    pids = []
    for _ in range(cores):
        pid = os.fork()
        if pid == 0:  # child: wait for the start signal, burn, exit
            try:
                os.close(go_w)
                os.read(go_r, 1)
                _burn()
            finally:
                os._exit(0)
        pids.append(pid)
    os.close(go_r)
    t0 = time.perf_counter()
    os.write(go_w, b"x" * cores)
    os.close(go_w)
    for pid in pids:
        os.waitpid(pid, 0)
    return time.perf_counter() - t0


def probes(cores: int) -> dict[str, float]:
    t0 = time.perf_counter()
    _burn()
    cpu_s = time.perf_counter() - t0

    multi_s = _multicore(cores)

    rng = np.random.default_rng(12345)
    arr = rng.integers(0, 1 << 30, size=4_000_000, dtype=np.int64)
    order = rng.permutation(arr.size)
    t0 = time.perf_counter()
    int(arr[order].sum())
    membw_s = time.perf_counter() - t0
    return {
        "cpu_probe_s": round(cpu_s, 4),
        "multicore_probe_s": round(multi_s, 4),
        "membw_probe_s": round(membw_s, 4),
    }
