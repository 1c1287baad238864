"""Host shape and noise probes, recorded in every result (never gated).

``spin_sec`` times a fixed CPU-bound loop on one core; ``par_spin_sec``
is the mean of the same loop run on every core at once (one process per
core), which also shows steal that is uniform across cores.  The loop
is bench.py's, shortened to 2M iterations so the probes stay cheap; a
20M-iteration reading is about 10x these values.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

SPIN_ITERS = 2_000_000


def _spin(_=None) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(SPIN_ITERS):
        x += i
    return time.perf_counter() - t0


def noise() -> dict:
    spin = _spin()
    n = os.cpu_count() or 1
    with mp.get_context("fork").Pool(n) as pool:
        par = pool.map(_spin, range(n))
    return {
        "spin_sec": round(spin, 4),
        "par_spin_sec": round(sum(par) / len(par), 4),
        "load_avg_1m": round(os.getloadavg()[0], 2),
    }


def shape() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_kb / 2 ** 20, 2),
        "spin_iters": SPIN_ITERS,
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
