"""CPU accounting of the engine's process tree and the host-speed probe."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import cputime, hostspeed


def test_stat_fields_follow_the_last_parenthesis(tmp_path):
    # a thread name may hold spaces and parentheses
    stat = tmp_path / "stat"
    fields = ["S"] + ["0"] * 10 + ["7", "5", "3", "2"] + ["0"] * 30
    stat.write_text(f"4242 (C2 (x) Compiler) {' '.join(fields)}\n")
    assert cputime._ticks(str(stat)) == ("C2 (x) Compiler", [7, 5, 3, 2])


def test_reaped_child_counts_toward_the_tree():
    before = cputime.engine_cpu_s(os.getpid())
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", busy], check=True)
    # the child is gone; its time is in this process's cutime
    assert cputime.engine_cpu_s(os.getpid()) - before >= 0.4



def test_probe_reports_kernel_time_and_stops():
    probe = hostspeed.Probe()
    try:
        start = probe.read()
        time.sleep(0.5)
        now = probe.read()
        assert now[1] - start[1] >= 2
        assert 0 < probe.mean(start, now) < 1
        # the probe's own time is not the engine's
        ours = cputime.engine_cpu_s(os.getpid(), skip=probe.pid)
        assert ours < cputime.engine_cpu_s(os.getpid())
    finally:
        probe.close()
    assert not probe._proc.is_alive()
