"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, sets the engine up on a
``local[N]`` session (N = min(4, usable cores)), measures whole passes for
``--seconds`` seconds, checks every output against an independent
reference and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. Detail lines
(op counts, failures, per-function span totals) precede it.

Everything the run writes stays inside the checkout: scratch state under
``.perfbench_work/`` (removed at exit) and the span log of a traced run
under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:
    # run as a script: import from the checkout root, not from this
    # directory (whose module names could shadow installed ones)
    sys.path[0] = ROOT

from perfbench import cputime, harness, hostspeed, rss, storage  # noqa: E402
from perfbench.analytics import AnalyticsMix  # noqa: E402
from perfbench.ingest import IngestCycles  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

PACKAGE = "data_ingestion_framework_spark"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: name -> unit; every workload reports all of them
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

#: span-name prefix -> per-module metric
SPAN_GROUPS = {
    f"operators.{m}.": f"operators.{m}_s"
    for m in ("classify", "similarity", "text", "cleaning", "dedup")
}


#: span names listed on a traced run's detail line
TOP_FUNCTIONS = 25

WORKLOADS = {w.name: w for w in (IngestCycles, AnalyticsMix)}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _session(work: str):
    from data_ingestion_framework_spark.session import get_spark

    tmp = f"{work}/tmp"
    return get_spark(
        "perfbench",
        master=f"local[{_cores()}]",
        extra_conf={
            "spark.driver.memory": "2g",
            # no hsperfdata under /tmp; temp files in the work dir. A fixed
            # young generation: G1's adaptive young sizing moved the JVM's
            # peak RSS by up to 25% between runs of the same work. A fixed
            # set of JIT compiler threads: cputime leaves their time out
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Xms2g -Xmn512m -XX:-UseDynamicNumberOfCompilerThreads"
                f" -Djava.io.tmpdir={tmp}"
            ),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.sql.catalogImplementation": "in-memory",
            # status-store retention for the per-op job attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _jvm_pid(spark) -> int | None:
    """Pid of the driver JVM: the gateway process or its java child."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return None


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process, outside the
    benchmark's own checks, and of its JVM."""
    jvm = _jvm_pid(spark)
    return {
        "python": rss.python_peak_kb() / 1024.0,
        "jvm": (rss.hwm_kb(jvm) if jvm is not None else 0) / 1024.0,
    }


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def install_spans(tracer) -> None:
    """Wrap the engine's entry points at the bindings callers use.
    ``plans.pipeline`` imports ``batch_write`` and ``read_file_stream`` by
    name and ``streaming.writers`` imports ``batch_write`` at call time,
    so a function is patched in every module holding it."""
    import importlib

    m = lambda name: importlib.import_module(f"{PACKAGE}.{name}")  # noqa: E731
    pipeline, tablestore = m("plans.pipeline"), m("sources.tablestore")
    for meth in ("run_medallion", "run_streaming_merge", "read", "transform"):
        tracer.patch_method(pipeline.PipelineBuilder, meth, f"plans.pipeline.{meth}")
    for mod, fn in [
        ("streaming.readers", "read_file_stream"),
        ("sinks.writers", "batch_write"),
        ("operators.dq", "apply_rules"),
        ("operators.scd", "scd1_apply"),
        ("operators.scd", "scd2_apply"),
        ("plans.corpus", "corpus_pipeline"),
    ]:
        tracer.patch_function(m(mod), fn, f"{mod}.{fn}", PACKAGE)
    tracer.patch_method(m("sinks.audit").AuditLogger, "log", "sinks.audit.log")
    for meth in (
        "append", "overwrite", "overwrite_partitions", "read_since", "history",
        "read", "as_of", "point_lookup", "range_scan",
    ):
        tracer.patch_method(tablestore.ParquetTable, meth, f"sources.tablestore.{meth}")
    tracer.patch_method(
        tablestore.ParquetTable, "lookup_files", "sources.tablestore.lookup_files", count=len
    )
    seen: dict[int, object] = {}

    def load_hit(df) -> float:
        hit = id(df) in seen
        seen[id(df)] = df
        return float(hit)

    tracer.patch_function(m("registry"), "load", "registry.load", PACKAGE, count=load_hit)
    for name in ("classify", "similarity", "text", "cleaning", "dedup"):
        tracer.patch_module(m(f"operators.{name}"), f"operators.{name}", PACKAGE)


def stored_tables(workload) -> dict[str, storage.TableBytes]:
    """Bytes on disk of every table the workload wrote, by table."""
    return {os.path.basename(t): storage.table_bytes(t) for t in workload.written_tables()}


def layer_metrics(spark, tracer, timings, workload) -> dict[str, float]:
    traced = [r for r in timings.ops if r.traced]
    n = len(traced)
    out = {name: 0.0 for name in PER_LAYER}
    out.update(harness.span_layers(tracer, n, SPAN_GROUPS))
    out["streaming.drain_outside_merge_s"] = harness.outside_children(
        tracer, "plans.pipeline.run_streaming_merge", "sinks.writers.batch_write"
    ) / n
    out.update(harness.spark_layers(spark, traced))
    out.update(workload.layer_metrics())
    tb = sum(stored_tables(workload).values(), storage.TableBytes())
    out.update({
        "sources.tablestore.live_bytes": tb.live,
        "sources.tablestore.history_bytes": tb.history,
        "sources.tablestore.log_bytes": tb.log,
        "sources.tablestore.files_live": tb.files_live,
    })
    for metric, span in [
        ("registry.load_hit_ratio", "registry.load"),
        ("sources.tablestore.files_per_lookup", "sources.tablestore.lookup_files"),
    ]:
        if tracer.counts[span]:
            out[metric] = statistics.mean(tracer.counts[span])
    out["trace.overhead_s"] = (
        statistics.median(timings.walls(True)) - statistics.median(timings.walls(False))
    )
    out["trace.spans"] = len(tracer.spans) / n
    return out


def write_spans(tracer, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s.__dict__) + "\n")


def function_totals(tracer, n_ops: int) -> dict[str, float]:
    """The ``TOP_FUNCTIONS`` span names by self time per op."""
    totals = harness.span_layers(tracer, n_ops, {})
    ranked = sorted(totals.items(), key=lambda kv: -kv[1])[:TOP_FUNCTIONS]
    return {k: round(v, 4) for k, v in ranked}


def run(args, work: str, probe: hostspeed.Probe) -> dict:
    # fails fast (non-zero exit, no result line) without the engine
    from data_ingestion_framework_spark import registry

    registry.load_all_queries()
    workload = WORKLOADS[args.workload](work, args.seed)
    # input generation and oracle digests are done: the peak starts here
    rss.reset()
    spark = _session(work)
    try:
        tracer = Tracer()
        if args.trace:
            install_spans(tracer)
        workload.setup(spark, tracer)
        setup_wall_s = time.perf_counter() - T_START
        cpu = lambda: cputime.engine_cpu_s(os.getpid(), skip=probe.pid)  # noqa: E731
        # the CPU time of everything since this process started, and the
        # host speed since the probe started, just after the process did
        setup_cpu_s, setup_ref = cpu(), probe.mean((0.0, 0), probe.read())
        setup_s = setup_cpu_s * hostspeed.scale(setup_ref)
        ticks = _cpu_ticks()
        timings = harness.measure(
            workload, spark, tracer, args.seconds, bool(args.trace), cpu, probe
        )
        ticks = [b - a for a, b in zip(ticks, _cpu_ticks())]
        tracer.unpatch()
        workload.finish(timings)
        peak = peak_rss_mb(spark)
        ops = timings.ops
        failed = sum(not r.ok for r in ops)
        detail = {
            "detail": "run",
            "workload": args.workload,
            "seed": args.seed,
            "cores": _cores(),
            "passes": {k: len(timings.walls(t)) for k, t in (("untraced", False), ("traced", True))},
            "ops": len(ops),
            "setup_wall_s": round(setup_wall_s, 3),
            "setup_cpu_s": round(setup_cpu_s, 3),
            "setup_ref_ms": round(setup_ref * 1000, 4),
            "pass_ref_ms": [round(p.ref * 1000, 4) for p in timings.passes],
            **{k: round(v, 4) for k, v in harness.raw_times(timings).items()},
            "op_latencies_s": [round(r.latency, 4) for r in ops],
            "op_cpu_s": [round(r.cpu, 3) for r in ops],
            "peak_rss_mb": {k: round(v, 1) for k, v in peak.items()},
            # CPU time the hypervisor gave to other guests while this run
            # was measured: a slow run on a shared host shows here
            "steal_share": round(ticks[7] / max(1, sum(ticks)), 4),
            "error_rate": failed / len(ops),
            "problems": workload.problems[:10],
            "tables_bytes": {k: vars(v) for k, v in stored_tables(workload).items()},
            "op_median_s_by_kind": {
                k: round(statistics.median(r.latency for r in ops if r.kind == k), 4)
                for k in sorted({r.kind for r in ops})
            },
        }
        print(json.dumps(detail), flush=True)
        if args.trace:
            n = sum(r.traced for r in ops)
            metrics = layer_metrics(spark, tracer, timings, workload)
            print(json.dumps({"detail": "functions_self_s_per_op",
                              "totals": function_totals(tracer, n)}), flush=True)
            write_spans(tracer, f"{ROOT}/.perfbench_out/spans-{args.workload}-{args.seed}.jsonl")
            units = PER_LAYER
        else:
            metrics = harness.end_to_end(timings, setup_s)
            stored = sum(t.total for t in stored_tables(workload).values())
            metrics["stored_bytes_per_input_byte"] = stored / workload.landed_bytes()
            metrics["peak_rss_mb"] = peak["python"] + peak["jvm"]
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        _stop(spark)


def main(argv=None) -> int:
    args = _args(argv)
    # a termination request unwinds normally: Spark stops, scratch goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Python's tempfile, the engine's scratch tables and Spark's Python
    # workers all honour TMPDIR; the JVM gets java.io.tmpdir
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM that builds the spark-submit command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    probe = hostspeed.Probe()
    try:
        result = run(args, work, probe)
    finally:
        probe.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
