"""Host parallel-capacity probe, the benchmark's own copy of the idea in
``scripts/host_probe.py``.

A fixed numpy workload runs in 1 process and then in ``procs`` processes at
once; ``aggregate_scaling = procs * wall(1) / wall(procs)`` is the parallel
CPU the host actually grants right now. On an idle 4-core host it is near 4;
a shared or throttled host reads lower, which explains a slow run.

``steal_frac`` over two ``cpu_times`` readings is the share of CPU time the
hypervisor gave to other guests in between: a run with high steal was slowed
by its neighbours, not by the engine.
"""

from __future__ import annotations

import multiprocessing as mp
import time

import numpy as np


def work(_: int) -> float:
    h = np.full(1_000_000, 0xCBF29CE484222325, dtype=np.uint64)
    for _ in range(60):
        h = (h ^ np.uint64(0x9E)) * np.uint64(0x100000001B3)
    return float(h[0])


def probe(procs: int) -> dict:
    # fork, not spawn: a spawn pool starts a resource-tracker process that
    # outlives the pool and ends only after this process has exited
    ctx = mp.get_context("fork")
    with ctx.Pool(procs) as pool:
        pool.map(work, range(procs))  # warm the workers' imports, untimed
        walls = {}
        for n in (1, procs):
            t0 = time.perf_counter()
            pool.map(work, range(n), chunksize=1)
            walls[n] = time.perf_counter() - t0
        pool.close()
        pool.join()
    return {
        "procs": procs,
        "wall_1_s": round(walls[1], 4),
        f"wall_{procs}_s": round(walls[procs], 4),
        "aggregate_scaling": round(procs * walls[1] / walls[procs], 3),
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two readings that were stolen."""
    delta = [a - b for a, b in zip(after, before)]
    return round(delta[7] / sum(delta), 4) if sum(delta) else 0.0
