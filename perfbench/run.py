"""Benchmark entry point: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload analytics|gh_etl|databuild|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run builds nothing: it imports
the package from the checkout, makes its inputs from ``--seed`` under
``.perfbench_work/`` and keeps every file it writes there (Spark local
dirs, artifact cache, event log, temp files). It starts Spark on
``local[<cores>]``, times set-up, then repeats rounds of the workload
until ``--seconds`` have passed and the workload's minimum number of
rounds has run (two for ``analytics`` and ``gh_etl``), checks the
outputs, and prints as its last stdout line::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts
Spark with the event log on and, after set-up, runs a settling round,
an untraced round, a round with spans around every layer call and
another untraced round; it reports the per-layer metrics plus the
tracing overhead (the traced round minus the mean of the untraced
rounds around it, all in the same context). The lines
before the last one carry every end-to-end figure with its sample
count and the per-span Spark counters.
``--workload all`` runs every workload, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PRODUCT_FILES = ("github_data_pipeline_spark/__init__.py", "run_databuild.py", "testdata_domain")

#: The gated end-to-end metrics (BENCHMARK.json). op_geomean_s is the
#: geometric mean, over the workload's distinct operations, of each
#: one's median latency across rounds, so every entry or repo moves it
#: by its share. Reported, not gated: op_p50_s and op_p90_s (a run has
#: 4 (gh_etl) to 16 (analytics) operations, so the median falls on a few
#: of them and fewer than ten samples lie beyond the 90th percentile),
#: and peak_rss_mb (with the product's 8g driver heap, G1's heap sizing
#: moves it by 0.3 IQR/median between runs of the same work).
END_TO_END = ("setup_s", "run_s", "op_geomean_s")

#: Per-layer metrics: span self times, by span name.
LAYER_SPANS = (
    "plans.build", "plans.exec", "plans.artifact",
    "pipeline.process_repo", "pipeline.register_views", "pipeline.scenario",
    "sources.load_table", "sources.raw_read", "sources.json_write",
    "sources.catalog_scan", "sources.table_write",
    "curation.curate", "curation.funnel_report",
    "operators.decontam", "operators.splits", "operators.packing",
    "operators.sharding", "operators.linkers", "operators.ingest",
    "operators.blame",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every cache, temp and scratch dir of the run into ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "cache"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # launcher and driver JVMs: temp files into the run dir, no
    # hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    tempfile.tempdir = os.environ["TMPDIR"]
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: str, event_log: str | None = None):
    from github_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log,
        })
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, if it started, and wait for the JVM process to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def jvm_heap_peak_mb(spark) -> float:
    """Peak used heap of the driver JVM, summed over its heap pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ) / 2**20


def percentile(values: list, q: int) -> float:
    """The q-th percentile (inclusive method); a lone sample is itself."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def timed_rounds(wl, seconds: float) -> tuple[list, list]:
    """Rounds until ``seconds`` have passed and the workload's
    ``min_rounds`` have run: (round wall times, ops)."""
    rounds, ops = [], []
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        ops += wl.round()
        rounds.append(time.perf_counter() - t0)
        done = time.perf_counter() >= deadline and len(rounds) >= wl.min_rounds
        if done or any(op.error for op in ops):
            return rounds, ops


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in PRODUCT_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, dir_stats

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    isolate(work)
    from spans import Tracer

    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, event_log)
        session_s = time.perf_counter() - t0
        artifact_counts = count_artifact_lookups()
        wl = WORKLOADS[args.workload](spark, Tracer(spark, enabled=False), work, args.seed)
        t1 = time.perf_counter()
        inputs = wl.inputs()
        inputs["gen_s"] = time.perf_counter() - t1
        wl.setup()
        setup_s = session_s + time.perf_counter() - t1

        if args.trace:
            result = traced(args, wl, artifact_counts, session_s, setup_s)
        else:
            result = untraced(args, wl, setup_s)
        t0 = time.perf_counter()
        checks, bad_checks, bad = wl.verify()
        verify_s = time.perf_counter() - t0
        ops = result.pop("ops")
        failed_ops = [f"{op.name}: {op.error}" for op in ops if op.error]
        attempted, failed = len(ops) + checks, len(failed_ops) + bad_checks
        out_files, out_bytes = dir_stats(wl.output_dir) if wl.output_dir else (0, 0)
        report = result.pop("report")
        report.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cores(), "loop": "closed, 1 client", "inputs": inputs,
            "output_mb": metric(out_bytes / 2**20, "MB"),
            "output_files": out_files,
            "verify_s": verify_s,
            "error_rate": metric(failed / attempted, "ratio"),
            "errors": failed_ops + bad,
        })
        if args.trace:
            result["metrics"]["sources.output_files"] = metric(out_files, "count")
    finally:
        stop_jvm()
    if args.trace:
        result["metrics"].update(spark_metrics(event_log, result.pop("trace_ctx")))
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": result["metrics"],
    }))
    return 0


def run_all(args, names: list) -> int:
    """Run every workload in its own process, one after another; print
    each one's lines, then one result whose metrics are prefixed with
    the workload name."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        result = json.loads(lines[-1])
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(total))
    return 0


def count_artifact_lookups() -> dict:
    """Count artifact cache lookups, and hits (the path already exists),
    for the rest of the run."""
    from github_data_pipeline_spark.plans import artifacts
    from spans import replace_everywhere

    lookup = artifacts.artifact_cache_path
    counts = {"lookups": 0, "hits": 0}

    def counted(*args, **kwargs):
        path = lookup(*args, **kwargs)
        counts["lookups"] += 1
        counts["hits"] += os.path.exists(path)
        return path

    replace_everywhere(lookup, counted)
    return counts


def op_latencies(ops) -> dict:
    """{operation name: [latency of each round]} for the latency ops."""
    by_name: dict = {}
    for op in ops:
        if op.latency and not op.error:
            by_name.setdefault(op.name, []).append(op.secs)
    return by_name


def untraced(args, wl, setup_s: float) -> dict:
    rounds, ops = timed_rounds(wl, args.seconds)
    by_name = op_latencies(ops)
    lat = [t for ts in by_name.values() for t in ts] or [0.0]
    medians = [statistics.median(ts) for ts in by_name.values()] or [0.0]
    report = {
        "setup_s": metric(setup_s, "s"),
        "run_s": metric(statistics.median(rounds), "s"),
        "runs": len(rounds),
        "op_geomean_s": metric(statistics.geometric_mean(medians), "s"),
        "op_kinds": len(medians),
        "op_p50_s": metric(percentile(lat, 50), "s"),
        "op_p90_s": metric(percentile(lat, 90), "s"),
        "op_samples": len(lat),
        "peak_rss_mb": metric(peak_rss_mb(wl.spark), "MB"),
        "jvm_heap_peak_mb": metric(jvm_heap_peak_mb(wl.spark), "MB"),
        "rounds_s": rounds,
        "ops_s": [[op.name, op.secs] for op in ops],
    }
    if args.workload == "databuild":
        report["build_s"] = metric(_phase(ops, "build"), "s")
        report["update_s"] = metric(_phase(ops, "update"), "s")
    return {"ops": ops, "report": report, "metrics": {k: report[k] for k in END_TO_END}}


def traced(args, wl, artifact_counts, session_s, setup_s) -> dict:
    """A settling round, then untraced, traced and untraced rounds, all
    in one Spark context with the event log on. The rounds still speed
    up as the JVM warms, so the traced round is compared with the mean
    of the untraced rounds on either side of it: the difference is
    what the spans and patched calls cost."""
    from spans import Tracer
    from workloads import patch_layers

    spark = wl.spark
    t0 = time.perf_counter()
    settle_ops = wl.round()
    settle_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    untraced_ops = wl.round()
    untraced_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=True)
    wl.tracer = tracer
    patch_layers(tracer)
    window = [time.time() * 1000.0]
    t0 = time.perf_counter()
    ops = wl.round()
    run_s = time.perf_counter() - t0
    window.append(time.time() * 1000.0)
    tracer.unpatch()
    tracer.enabled = False
    t0 = time.perf_counter()
    after_ops = wl.round()
    untraced_s = (untraced_s + time.perf_counter() - t0) / 2
    spark.sparkContext.setJobGroup("verify", "verify")
    ratio = neardup_ratio(spark, wl)
    selfs = tracer.self_times()
    span_sum = sum(v for k, v in selfs.items() if k in LAYER_SPANS)
    lookups = artifact_counts["lookups"]
    m = {f"{k}_s": metric(selfs.get(k, 0.0), "s") for k in LAYER_SPANS}
    m.update({
        "session.start_s": metric(session_s, "s"),
        "plans.artifact_hit_ratio": metric(
            artifact_counts["hits"] / lookups if lookups else 1.0, "ratio"),
        "streaming.drain_s": metric(tracer.tagged_s("streaming"), "s"),
        "operators.neardup_verified_per_candidate": metric(ratio, "ratio"),
        "trace.run_s": metric(run_s, "s"),
        "trace.untraced_run_s": metric(untraced_s, "s"),
        "trace.overhead_s": metric(run_s - untraced_s, "s"),
        "trace.span_self_sum_s": metric(span_sum, "s"),
        "trace.unattributed_s": metric(run_s - span_sum, "s"),
        "trace.peak_rss_mb": metric(peak_rss_mb(spark), "MB"),
    })
    report = {"setup_s": metric(setup_s, "s"), "settle_run_s": metric(settle_s, "s")}
    if args.workload == "databuild":
        # databuild.unattributed_s: the run time outside every layer span
        report.update({
            "databuild.build_s": metric(_phase(ops, "build"), "s"),
            "databuild.update_s": metric(_phase(ops, "update"), "s"),
            "databuild.unattributed_s": metric(run_s - span_sum, "s"),
        })
    return {
        "ops": settle_ops + untraced_ops + ops + after_ops,
        "report": report,
        "metrics": m,
        "trace_ctx": {"run_s": run_s, "groups": tracer.groups, "window_ms": window},
    }


def _phase(ops, name):
    return next((op.secs for op in ops if op.name == name), 0.0)


def neardup_ratio(spark, wl) -> float:
    """Verified near-dup pairs per LSH candidate pair on the run's corpus."""
    sf_dir = getattr(wl, "sf_dir", None)
    if sf_dir is None:
        return 0.0
    from github_data_pipeline_spark.plans import all_plans
    from workloads import CANDIDATES_ENTRY, VERIFIED_ENTRY

    reg = all_plans()
    cand = reg[CANDIDATES_ENTRY].builder(spark, sf_dir).count()
    verified = reg[VERIFIED_ENTRY].builder(spark, sf_dir).count()
    return verified / cand if cand else 0.0


def spark_metrics(event_log: str, ctx: dict) -> dict:
    import eventlog

    # only the jobs submitted during the traced round
    spans = eventlog.parse(event_log, window_ms=ctx["window_ms"])
    groups = ctx["groups"]
    total = spans["*"]
    eager = eventlog.merge(
        c for g, c in spans.items() if g in groups and _under(groups[g], "plans.build")
    )
    by_name = {}
    for g, c in spans.items():
        if g == "*":
            continue
        # job groups the tracer did not set: streaming micro-batches
        # (Spark tags them with the query run id) and untagged jobs
        name = groups[g]["name"] if g in groups else "(other)"
        by_name.setdefault(name, []).append(c)
    print(json.dumps({"spark_by_span": {
        n: {k: round(v, 4) for k, v in eventlog.merge(cs).items()} for n, cs in sorted(by_name.items())
    }}))
    mb, cnt, s = "MB", "count", "s"
    return {
        "plans.eager_jobs": metric(eager["jobs"], cnt),
        "spark.jobs": metric(total["jobs"], cnt),
        "spark.stages": metric(total["stages"], cnt),
        "spark.tasks": metric(total["tasks"], cnt),
        "spark.executor_run_s": metric(total["executor_run_s"], s),
        "spark.core_util": metric(total["executor_run_s"] / (ctx["run_s"] * cores()), "ratio"),
        "spark.task_wait_s": metric(total["task_wait_s"], s),
        "spark.shuffle_write_mb": metric(total["shuffle_write_mb"], mb),
        "spark.shuffle_read_mb": metric(total["shuffle_read_mb"], mb),
        "spark.spill_mb": metric(total["spill_mb"], mb),
        "spark.task_skew": metric(total["task_skew"], "ratio"),
        "spark.gc_s": metric(total["gc_s"], s),
        "spark.output_mb": metric(total["output_mb"], mb),
        "spark.stages_skipped_ratio": metric(eventlog.skipped_ratio(total), "ratio"),
        "spark.failed_tasks": metric(total["failed_tasks"], cnt),
    }


def _under(span: dict, name: str) -> bool:
    while span is not None:
        if span["name"] == name:
            return True
        span = span["parent"]
    return False


if __name__ == "__main__":
    sys.exit(main())
