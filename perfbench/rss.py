"""Peak resident memory (VmHWM) from ``/proc``, without the checker's share.

The driver Python process also runs the benchmark's own work: input
generation, DuckDB oracle digests and replays, and the collection of
results for checking. ``reset()`` runs once the inputs exist, before the
Spark session starts, and every correctness check runs inside
``excluded()``, which records the process's peak so far and resets it
after the check. The Python peak reported is then the engine's alone.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

_peak_kb = 0


def hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset() -> None:
    """Lower this process's VmHWM to its current RSS (Linux 4.0+)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


@contextmanager
def excluded():
    """Run a block whose memory must not count toward the peak."""
    global _peak_kb
    _peak_kb = max(_peak_kb, hwm_kb(os.getpid()))
    try:
        yield
    finally:
        reset()


def python_peak_kb() -> int:
    """This process's peak outside ``excluded()`` blocks since ``reset()``."""
    return max(_peak_kb, hwm_kb(os.getpid()))
