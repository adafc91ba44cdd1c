"""The timed loop shared by every workload, and the metrics it reports.

A workload is a fixed *pass*: a seeded list of ops that starts from the
same state every time (the workload restores it before each pass,
outside the timed region). The loop is a single-client closed loop: it
runs whole passes, one op at a time, until the passes' timed wall time
reaches ``seconds``, and always completes the pass it started.

Every op and pass is timed twice: wall time, and the CPU time the engine
spends on it (``cputime``). ``run_cpu_norm_s`` is the median CPU time of
a pass, ``op_cpu_norm_gmean_s`` the geometric mean CPU time of an op and
``setup_s`` the CPU time from process start to the first timed op. These
are scaled by the host's speed over the same window (``hostspeed``); the
unscaled CPU times and the wall times are on the detail line, because on
a shared host they move with other guests' load.

In a traced run passes alternate untraced, traced, untraced, ... (at
least three, so the untraced passes bracket a traced one and warm-up
drift cancels); per-layer metrics come from the traced passes, and the
tracing overhead is the median traced pass wall time minus the median
untraced one.
"""

from __future__ import annotations

import statistics
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import cputime, hostspeed, sparkstats
from perfbench.spans import Tracer, clipped, self_times, union_length


@dataclass
class Op:
    """One timed operation: ``run()`` does the work and returns a handle
    that ``check(handle)`` verifies after the timed phase."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool] | None = None


@dataclass
class OpResult:
    index: int
    kind: str
    pass_no: int
    traced: bool
    start: float
    end: float
    latency: float
    cpu: float
    ok: bool
    handle: object = None


@dataclass
class Pass:
    traced: bool
    wall: float
    cpu: float
    #: mean CPU time of one reference-kernel run during the pass
    ref: float


@dataclass
class Timings:
    ops: list[OpResult] = field(default_factory=list)
    passes: list[Pass] = field(default_factory=list)

    def walls(self, traced: bool) -> list[float]:
        return [p.wall for p in self.passes if p.traced == traced]


def measure(
    workload, spark, tracer: Tracer, seconds: float, trace: bool, cpu: Callable[[], float],
    probe: hostspeed.Probe,
) -> Timings:
    out = Timings()
    timed = 0.0
    pass_no = 0
    while True:
        traced = trace and pass_no % 2 == 1
        workload.before_pass()
        ops = workload.pass_ops()
        tracer.enabled = traced
        r0 = probe.read()
        c0 = cpu()
        p0 = time.perf_counter()
        for op in ops:
            out.ops.append(_run_op(op, len(out.ops), pass_no, traced, spark, tracer, cpu))
        wall = time.perf_counter() - p0
        out.passes.append(Pass(traced, wall, cpu() - c0, probe.mean(r0, probe.read())))
        tracer.enabled = False
        workload.after_pass([r for r in out.ops if r.pass_no == pass_no])
        pass_no += 1
        timed += wall
        if timed >= seconds and (pass_no >= 3 or not trace):
            return out


def _run_op(
    op: Op, index: int, pass_no: int, traced: bool, spark, tracer: Tracer, cpu: Callable[[], float]
) -> OpResult:
    sc = spark.sparkContext
    if traced:
        sc.setJobGroup(f"{sparkstats.GROUP_PREFIX}{index}", op.kind)
    handle, ok = None, True
    start = time.time()
    c0 = cpu()
    t0 = time.perf_counter()
    try:
        with tracer.op_span(index, "op.unattributed"):
            handle = op.run()
    except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
        traceback.print_exc()
        ok = False
    latency = time.perf_counter() - t0
    used = cpu() - c0
    end = time.time()
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return OpResult(index, op.kind, pass_no, traced, start, end, latency, used, ok, handle)


def verify(ops: list[Op], results: list[OpResult]) -> dict[str, list[str]]:
    """Run each op kind's check once, on the handle of its last
    successful op; a failed check fails every op of that kind.
    Returns the failures by kind."""
    checks = {op.kind: op.check for op in ops}
    last: dict[str, OpResult] = {}
    for r in results:
        if r.ok:
            last[r.kind] = r
    failures: dict[str, list[str]] = defaultdict(list)
    for kind, r in last.items():
        check = checks.get(kind)
        if check is None:
            continue
        try:
            passed = check(r.handle)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            passed = False
        if not passed:
            failures[kind].append("result differs from the reference")
    for r in results:
        if not r.ok:
            failures[r.kind].append("raised")
    return failures


def p90(values: list[float]) -> float:
    """90th percentile (inclusive method) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def end_to_end(t: Timings, setup_s: float) -> dict[str, float]:
    """``setup_s`` (already scaled) and the pass and op CPU times of
    the untraced passes, scaled to the reference host speed."""
    scale = [hostspeed.scale(p.ref) for p in t.passes]
    return {
        "setup_s": setup_s,
        "run_cpu_norm_s": statistics.median(
            p.cpu * k for p, k in zip(t.passes, scale) if not p.traced
        ),
        # an op under one clock tick, the counters' resolution, reads 0
        "op_cpu_norm_gmean_s": statistics.geometric_mean(
            max(r.cpu, cputime.TICK_S) * scale[r.pass_no] for r in t.ops if not r.traced
        ),
    }


def raw_times(t: Timings) -> dict[str, float]:
    """Unscaled figures of the untraced passes: median pass wall time,
    op latency (p50, p90), and median pass and op CPU time."""
    lat = sorted(r.latency for r in t.ops if not r.traced)
    return {
        "run_s": statistics.median(t.walls(False)),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": p90(lat),
        "run_cpu_s": statistics.median(p.cpu for p in t.passes if not p.traced),
        "op_cpu_p50_s": statistics.median(r.cpu for r in t.ops if not r.traced),
    }


def span_layers(tracer: Tracer, n_ops: int, groups: dict[str, str]) -> dict[str, float]:
    """Summed self time per span name (or per group prefix in
    ``groups``: span-name prefix -> metric name), per op."""
    totals: dict[str, float] = defaultdict(float)
    for s, st in zip(tracer.spans, self_times(tracer.spans)):
        name = s.name
        for prefix, metric in groups.items():
            if name.startswith(prefix):
                name = metric
                break
        else:
            name = name + "_s"
        totals[name] += st
    return {k: v / n_ops for k, v in totals.items()}


def outside_children(tracer: Tracer, parent: str, child: str) -> float:
    """Summed duration of ``parent`` spans not covered by descendant
    ``child`` spans."""
    spans = tracer.spans
    anc: dict[int, int] = {}
    for i, s in enumerate(spans):
        p = s.parent
        while p is not None and spans[p].name != parent:
            p = spans[p].parent
        if p is not None:
            anc[i] = p
    covered: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for i, p in anc.items():
        if spans[i].name == child:
            covered[p].append((spans[i].start, spans[i].end))
    total = 0.0
    for i, s in enumerate(spans):
        if s.name == parent:
            total += (s.end - s.start) - union_length(clipped(covered[i], s.start, s.end))
    return total


def spark_layers(spark, traced: list[OpResult]) -> dict[str, float]:
    """Per-op Spark job counts and times of the traced ops."""
    windows = {r.index: (r.start, r.end) for r in traced}
    per_op = sparkstats.attribute(sparkstats.read_jobs(spark), windows)
    n = len(traced)
    wall = {i: sparkstats.job_wall(rec) for i, rec in per_op.items()}
    return {
        "spark.jobs": sum(r.jobs for r in per_op.values()) / n,
        "spark.jobs_by_window": sum(r.by_window for r in per_op.values()) / n,
        "spark.job_wall_s": sum(wall.values()) / n,
        "spark.executor_task_s": sum(r.executor_s for r in per_op.values()) / n,
        "driver_s": sum(r.latency - wall[r.index] for r in traced) / n,
    }
