"""How fast the host's CPUs run while the engine works.

On a shared host the same work takes a varying amount of CPU time: the
other guests' load on the same cores and caches slows every instruction.
Six runs of the pure-Python kernel below (60 000 iterations) took
12.4-22 ms of thread CPU time from one second to the next on an otherwise
idle 4-vCPU guest, with no CPU stolen.
``Probe`` runs that kernel in a separate process, a few milliseconds in
every ``PERIOD``, and keeps its running CPU total in shared memory, so the
mean kernel time over any window of the run can be read afterwards.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

#: seconds between two kernel runs
PERIOD = 0.05
#: loop iterations of one kernel run
KERNEL_N = 10_000
#: CPU seconds of one kernel run on the reference host: scaled figures
#: read as if every kernel run had taken this long. Over the passes of
#: both workloads on a shared 4-vCPU Xeon guest it took 2.5-3.6 ms
REF_S = 0.003
#: how much of the kernel's relative slowdown the engine's CPU time shows.
#: Fitted on log-log over 18 runs of each workload on that guest:
#: 0.47 (``ingest_cycles``) and 0.84 (``analytics_mix``); with 0.5 for both
#: the spread of every scaled figure over each set of four to ten seeds
#: stayed within 0.08, against up to 0.14 unscaled or fully scaled (1.0)
ELASTICITY = 0.5


def kernel() -> int:
    """Fixed interpreter work: integer arithmetic and dict updates."""
    d: dict[int, int] = {}
    s = 0
    for i in range(KERNEL_N):
        k = i % 97
        d[k] = d.get(k, 0) + i
        s ^= (i * 2654435761) & 0xFFFFFFFF
    return s + len(d)


def _loop(stop, total, count, parent: int) -> None:
    # ends with the benchmark, even one killed before it could stop us
    while not stop.is_set() and os.getppid() == parent:
        t = time.thread_time()
        kernel()
        dt = time.thread_time() - t
        with total.get_lock():
            total.value += dt
            count.value += 1
        stop.wait(PERIOD)


class Probe:
    """The kernel in a child process; ``read()`` gives (CPU seconds, runs)
    so far, ``mean(a, b)`` the mean kernel time between two reads."""

    def __init__(self):
        ctx = mp.get_context("fork")
        self._stop = ctx.Event()
        self._total = ctx.Value("d", 0.0)
        self._count = ctx.Value("q", 0)
        self._proc = ctx.Process(
            target=_loop, args=(self._stop, self._total, self._count, os.getpid()), daemon=True
        )
        self._proc.start()
        self.pid = self._proc.pid

    def read(self) -> tuple[float, int]:
        with self._total.get_lock():
            return self._total.value, self._count.value

    @staticmethod
    def mean(a: tuple[float, int], b: tuple[float, int]) -> float:
        return (b[0] - a[0]) / max(1, b[1] - a[1])

    def close(self) -> None:
        self._stop.set()
        self._proc.join(10)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()


def scale(ref: float) -> float:
    """Factor that takes a CPU time measured while the kernel took
    ``ref`` seconds to the reference host."""
    return (REF_S / ref) ** ELASTICITY
