"""Per-op Spark job attribution, read from the application status store
after the timed phase (nothing runs inside it).

Each timed op runs under its own job group ``perfbench-op-<i>``. Jobs a
stream thread submits (foreachBatch micro-batches) carry the stream's own
group instead, so a job whose group is not an op group is attributed to
the op whose wall-clock window contains its submission time; ops run one
at a time, so the window is unambiguous. Executor time is the summed
``executorRunTime`` of each job's stages, every stage counted once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.spans import union_length

GROUP_PREFIX = "perfbench-op-"


@dataclass
class OpJobs:
    jobs: int = 0
    by_window: int = 0
    walls: list[tuple[float, float]] = field(default_factory=list)
    executor_s: float = 0.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every retained job: group, submit/complete epoch seconds, stages."""
    sc = spark.sparkContext
    st = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stage_rt: dict[int, int] = {}
    it = st.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        stage_rt[s.stageId()] = stage_rt.get(s.stageId(), 0) + s.executorRunTime()
    out = []
    jit = st.jobsList(None).iterator()
    while jit.hasNext():
        j = jit.next()
        g = j.jobGroup()
        stages = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            stages.append(sit.next())
        out.append({
            "group": g.get() if g.isDefined() else None,
            "submit": _opt_ms(j.submissionTime()),
            "complete": _opt_ms(j.completionTime()),
            "stages": stages,
        })
    for j in out:
        j["stage_rt"] = {s: stage_rt.get(s, 0) for s in j["stages"]}
    return out


def attribute(jobs: list[dict], windows: dict[int, tuple[float, float]]) -> dict[int, OpJobs]:
    """Assign jobs to ops: by op job group, else by submission time
    inside an op's ``(start, end)`` window."""
    out = {i: OpJobs() for i in windows}
    seen_stages: set[int] = set()
    for j in jobs:
        op = None
        g = j["group"]
        if g and g.startswith(GROUP_PREFIX):
            op = int(g[len(GROUP_PREFIX):])
            by_window = False
        elif j["submit"] is not None:
            for i, (lo, hi) in windows.items():
                if lo <= j["submit"] <= hi:
                    op, by_window = i, True
                    break
        if op not in out:
            continue
        rec = out[op]
        rec.jobs += 1
        rec.by_window += by_window
        if j["submit"] is not None and j["complete"] is not None:
            rec.walls.append((j["submit"], j["complete"]))
        for s, rt in j["stage_rt"].items():
            if s not in seen_stages:
                seen_stages.add(s)
                rec.executor_s += rt / 1000.0
    return out


def job_wall(rec: OpJobs) -> float:
    """Wall time during which at least one of the op's jobs ran."""
    return union_length(rec.walls)
