"""CPU time the engine spends, from ``/proc/<pid>/stat``.

The engine runs in three kinds of process: the driver Python process, its
JVM, and the Python workers the JVM forks. ``engine_cpu_s(pid)`` sums user
and system time over ``pid`` and every live descendant, each with the
reaped children it waited for (``cutime``/``cstime``), so a worker that
exits is still counted through the process that reaped it. The
benchmark's own host-speed probe (``hostspeed``) is skipped.

The JVM's JIT compiler threads are left out. Their work is warm-up whose
timing depends on the host, not on the engine: on a shared 4-vCPU VM
they took anywhere from 0.1 to 9 CPU seconds of the same ingest cycle.
The JVM runs with a fixed set of compiler threads
(``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits and takes its
time into the process total.

On a guest with paravirtual steal accounting the kernel leaves stolen time
out of these counters. The slowdown other guests cause on shared cores and
caches while this one runs still shows in them; ``hostspeed`` measures it.
"""

from __future__ import annotations

import os

#: resolution of the counters, in seconds
TICK_S = 1 / os.sysconf("SC_CLK_TCK")

#: thread-name prefixes (``/proc/<pid>/task/<tid>/comm``, 15 characters)
#: of the JVM's JIT compiler and code-cache threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _ticks(path: str) -> tuple[str, list[int]]:
    """Name and utime, stime, cutime, cstime (fields 14-17 of stat(5))."""
    with open(path) as f:
        s = f.read()
    # the name may hold spaces and parentheses; fields resume after the last ')'
    name = s[s.index("(") + 1: s.rindex(")")]
    fields = s[s.rindex(")") + 2:].split()
    return name, [int(x) for x in fields[11:15]]


def engine_cpu_s(pid: int, skip: int | None = None) -> float:
    """User + system seconds of ``pid`` and its live descendants but
    ``skip``, with the children each has reaped, less the JVMs' JIT
    compiler threads."""
    total = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        if p == skip:
            continue
        try:
            name, ticks = _ticks(f"/proc/{p}/stat")
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:  # exited between listing and reading
            continue
        total += sum(ticks)
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
                if name == "java":
                    thread, t = _ticks(f"/proc/{p}/task/{tid}/stat")
                    if thread.startswith(JIT_THREADS):
                        total -= t[0] + t[1]
            except OSError:
                continue
    return total * TICK_S
