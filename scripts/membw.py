"""Host memory-bandwidth scaling probe for the N-vs-4N efficiency analysis.

The north-rule scaling criterion is evidenced in this sandbox by running the
identical job at taskset-pinned local[8] vs local[32] (BENCH.md). That proxy
has a *hardware* ceiling this script measures: all 32 cores share one memory
controller (single socket, single NUMA node), so aggregate DRAM bandwidth
does not grow 4x from 8 to 32 streaming cores. Any bandwidth-bound stage
(shuffle serialization, Arrow transfer, parquet decode, numpy elementwise)
inherits that sub-4x ceiling no matter how the code is written; a real
4N-executor cluster multiplies memory controllers along with cores.

Method: per pinned core, repeatedly memcpy a 64 MB numpy buffer (beats LLC)
for 3 s; report aggregate GB/s at 1, 8, and 32 processes and the 8->32
scaling efficiency. Run on an otherwise idle machine.

Measured on this sandbox host (2026-08-17, 32 physical cores, 1 thread/core,
1 NUMA node): 18.1 GB/s @1, 48.9 GB/s @8, 153.2 GB/s @32 -> 8->32 copy
bandwidth scales 3.13x of 4x = **0.78 efficiency ceiling** for purely
bandwidth-bound work.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

import numpy as np

BUF_MB = 64
SECONDS = 3.0


def _worker(cpu: int, q: mp.Queue) -> None:
    os.sched_setaffinity(0, {cpu})
    a = np.ones(BUF_MB * 1024 * 1024 // 8)
    b = np.empty_like(a)
    n = 0
    t0 = time.time()
    while time.time() - t0 < SECONDS:
        np.copyto(b, a)
        n += 1
    dt = time.time() - t0
    q.put(n * BUF_MB * 2 / 1024 / dt)  # GB/s, read+write


def _run_pinned(target, procs: int) -> float:
    """Sum of `target(cpu, q)` results over `procs` workers, each pinned to
    its own CPU of this process's affinity mask. The worker count is
    clamped to the CPUs in the mask: pinning to a CPU outside it fails with
    EINVAL, and a worker that dies before q.put would leave q.get blocking
    forever. A worker that does not report within the deadline raises
    queue.Empty instead of hanging."""
    cpus = sorted(os.sched_getaffinity(0))[:procs]
    q: mp.Queue = mp.Queue()
    ps = [mp.Process(target=target, args=(c, q)) for c in cpus]
    for p in ps:
        p.start()
    try:
        return sum(q.get(timeout=SECONDS + 60) for _ in ps)
    finally:
        for p in ps:
            p.join(timeout=5)
            if p.is_alive():
                p.kill()
                p.join()


def measure(procs: int) -> float:
    return _run_pinned(_worker, procs)


def _alu_worker(cpu: int, q: mp.Queue) -> None:
    os.sched_setaffinity(0, {cpu})
    a = np.arange(4096, dtype=np.uint32)  # 16 KB working set: stays in L1
    n = 0
    t0 = time.time()
    while time.time() - t0 < SECONDS:
        for _ in range(50):
            a = a * np.uint32(0xCC9E2D51) + np.uint32(12345)
            a ^= a >> np.uint32(13)
        n += 50
    q.put(n / (time.time() - t0))


def measure_alu(procs: int) -> float:
    """Aggregate iterations/s of pure in-cache integer work — no DRAM
    traffic, so this isolates how much CPU the hypervisor actually grants.
    Measured on this host: 8->32 procs scaled 3.03x (0.76) and 3.52x (0.88)
    in two runs minutes apart — the substrate's deliverable compute is both
    below 4x and time-varying, which is why bench.py --scaling runs this
    probe in the same time window as the pipeline and reports
    substrate-normalized efficiency alongside the raw ratio. On a host
    with fewer CPUs than `procs`, it measures one process per CPU."""
    return _run_pinned(_alu_worker, procs)


if __name__ == "__main__":
    res = {}
    for procs in (1, 8, 32):
        res[procs] = measure(procs)
        print(f"{procs:3d} procs: {res[procs]:7.1f} GB/s aggregate "
              f"({res[procs] / procs:5.2f} GB/s per core)")
    print(f"8->32 bandwidth scaling efficiency: {res[32] / (4 * res[8]):.3f}")
    alu = {}
    for procs in (1, 8, 32):
        alu[procs] = measure_alu(procs)
        print(f"{procs:3d} procs: {alu[procs]:12.0f} ALU iter/s aggregate")
    print(f"8->32 pure-compute scaling efficiency: {alu[32] / (4 * alu[8]):.3f}")
