"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 15 --trace 0

Runs one workload against the package in this checkout and prints, as the
last line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Everything it writes stays under
``.perfbench_work/`` in the checkout; the spans and the captured stderr
of the last run of each workload are kept there.  See ``NOTES.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "confluent_data_ingestion_spark"
SETUPS = 3

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "plan_ms": "ms"}
PER_LAYER = {
    "session.cold_start_ms": "ms", "session.import_ms": "ms",
    "session.restart_ms": "ms",
    "spec.load_ms": "ms", "spec.validate_ms": "ms",
    "plans.compile_ms": "ms", "plans.physical_ms": "ms",
    "plans.plan_chars": "count", "plans.targets": "count",
    "plans.exchanges": "count", "plans.jobs": "count",
    "emit_ms": "ms", "emit.bundle_ms": "ms", "emit.parse_ms": "ms",
    "emit.statements": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_wall_ms": "ms", "spark.driver_gap_ms": "ms",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.busy_cores": "cores", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.scan_amplification": "ratio",
    "spark.first_touch_ms": "ms", "spark.cold_pass_ms": "ms", "trace.pass_ms": "ms",
    "queries.build_ms": "ms", "queries.action_ms": "ms", "queries.jobs": "count",
    "queries.build_jobs": "count", "log.error_lines": "count",
}
# and per registry row of the queries workload
ROW_METRICS = {"ms": "ms", "jobs": "count"}

IMPORT_PROBE = (
    "import time; t = time.perf_counter(); "
    f"import {PACKAGE}.session, {PACKAGE}.spec, {PACKAGE}.plans, "
    f"{PACKAGE}.emit, {PACKAGE}.streaming.runner, {PACKAGE}.queries; "
    "print(time.perf_counter() - t)"
)


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the work directory and
    size the session for the machine: all usable cores, one process."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM the gateway launched and wait
    for it (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _setups(spark, get_spark):
    """Set the session up SETUPS more times: a fresh interpreter importing
    the package's modules, plus stop -> ``get_spark`` in this JVM.  Returns
    the new session, the set-up times (s), and the import and restart
    medians (ms)."""
    imports, restarts = [], []
    for _ in range(SETUPS):
        out = subprocess.run([sys.executable, "-c", IMPORT_PROBE], cwd=ROOT,
                             capture_output=True, text=True, timeout=120,
                             check=True)
        imports.append(float(out.stdout.strip().splitlines()[-1]))
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        restarts.append(time.perf_counter() - t0)
    totals = [a + b for a, b in zip(imports, restarts)]
    return (spark, totals, statistics.median(imports) * 1000,
            statistics.median(restarts) * 1000)


def _count_error_lines(path: str) -> int:
    with open(path, encoding="utf-8", errors="replace") as f:
        return sum(1 for line in f if " ERROR " in line)


def _layer_metrics(run, tracer, job_stats, items: int, rows) -> dict:
    """Per-layer metrics from the traced run's samples, spans and the Spark
    event log.  ``spark.*`` and ``queries.*jobs`` are per measured pass.  A
    layer the workload does not call reports 0."""
    children: dict = {}
    for s in tracer.spans:
        children.setdefault(s["parent"], []).append(s)

    def groups_under(span):
        out, todo = set(), [span]
        while todo:
            s = todo.pop()
            out.add(s["group"])
            todo.extend(children.get(s["id"], []))
        return out

    def named_under(span, name):
        out, todo = [], list(children.get(span["id"], []))
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            todo.extend(children.get(s["id"], []))
        return out

    def jobs_per_pass(name):
        """Mean jobs per measured pass under the pass's spans called ``name``."""
        return statistics.mean(
            job_stats.for_groups(set().union(
                *(groups_under(s) for s in named_under(p, name))))["jobs"]
            for p in run.pass_spans)

    per_pass = [job_stats.for_groups(groups_under(s)) for s in run.pass_spans]

    def mean(key):
        return sum(p[key] for p in per_pass) / len(per_pass)

    side = set()
    for s in tracer.spans:
        if s["name"] == "plans.pass":
            side |= groups_under(s)
    pass_ms = run.median("pass_ms")
    job_wall = mean("job_wall_ms")
    m = {k: run.median(k) if run.has(k) else 0.0 for k in (
        "spec.load_ms", "spec.validate_ms", "plans.compile_ms",
        "plans.physical_ms", "plans.plan_chars", "plans.targets",
        "plans.exchanges", "emit_ms", "emit.bundle_ms", "emit.parse_ms",
        "emit.statements", "queries.build_ms", "queries.action_ms",
        *(f"queries.{row}.ms" for row in rows))}
    is_queries = run.has("queries.build_ms")
    m.update({
        "plans.jobs": job_stats.for_groups(side)["jobs"],
        "queries.jobs": mean("jobs") if is_queries else 0,
        "queries.build_jobs": (
            jobs_per_pass("queries.build") if is_queries else 0),
        **{f"queries.{row}.jobs": (
            jobs_per_pass(f"queries.{row}") if is_queries else 0)
           for row in rows},
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"), "spark.job_wall_ms": job_wall,
        "spark.driver_gap_ms": statistics.mean(
            s["wall_ms"] for s in run.pass_spans) - job_wall,
        "spark.task_run_ms": mean("task_run_ms"),
        "spark.task_cpu_ms": mean("task_cpu_ms"),
        "spark.busy_cores": mean("task_run_ms") / job_wall if job_wall else 0.0,
        "spark.gc_ms": mean("gc_ms"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.scan_amplification": mean("scan_rows") / items,
        "spark.first_touch_ms": run.samples[("cold", "pass_ms")][0] - pass_ms,
        "spark.cold_pass_ms": run.samples[("cold", "pass_ms")][0],
        "trace.pass_ms": pass_ms,
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _package_present():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    trace = bool(args.trace)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, trace)
    log_path = os.path.join(base, f"{args.workload}.stderr.log")
    real_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    spark = None
    try:
        from confluent_data_ingestion_spark.session import get_spark

        import workloads
        from tracing import JobStats, Tracer, read_event_log

        if args.workload not in workloads.WORKLOADS:
            raise ValueError(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        spark = get_spark("perfbench")
        cold_start_ms = (time.perf_counter() - T_START) * 1000
        spark, setups, import_ms, restart_ms = _setups(spark, get_spark)
        tracer = Tracer(trace, spark)
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
        items = workloads.WORKLOADS[args.workload](run)
        app_id = spark.sparkContext.applicationId
        _stop_spark(spark)
        spark = None
        if trace:
            job_stats = JobStats(read_event_log(os.path.join(work, "eventlog"), app_id))
            metrics = _layer_metrics(run, tracer, job_stats, items,
                                     workloads.QUERY_ROWS)
            metrics.update({
                "session.cold_start_ms": cold_start_ms,
                "session.import_ms": import_ms, "session.restart_ms": restart_ms,
            })
            for s in tracer.spans:
                s["spark"] = job_stats.for_groups({s["group"]})
            tracer.write(os.path.join(base, f"{args.workload}.spans.jsonl"))
        else:
            metrics = {
                "setup_s": statistics.median(setups),
                "items_per_s": items / (run.median("pass_ms") / 1000),
                "plan_ms": run.median("plan_ms"),
            }
    except Exception:
        import traceback

        traceback.print_exc()
        if spark is not None:
            _stop_spark(spark)
        os.dup2(real_stderr, 2)
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(real_stderr, 2)
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        metrics["log.error_lines"] = _count_error_lines(log_path)
    units = END_TO_END
    if trace:
        units = dict(PER_LAYER, **{f"queries.{row}.{m}": u
                                   for row in workloads.QUERY_ROWS
                                   for m, u in ROW_METRICS.items()})
    for failure in run.failures:
        print(f"FAILED {failure}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
