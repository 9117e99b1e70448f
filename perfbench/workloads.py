"""The benchmark workloads.

Each workload prepares seeded inputs, then runs its pass: once in a fresh
session (first touch), a fixed number of warm-up times, then measured until
the measuring time is used up.  Its plan operation, when it is not part of
the pass, follows, warmed up and measured a fixed number of times.  Every
operation's output is checked outside the timed region; a wrong output
counts as a failed operation.

- ``etl_batch``: the paper's pipeline as one statement set over a seeded
  ~66k-message envelope (``StatementSetRunner.run_batch``, parquet
  sinks) is the pass; then plan operations over its small workbook.
- ``spec_compile``: a wide seeded workbook; emitting and parsing its SQL
  is the pass, then plan operations over an empty envelope; no Spark job
  should run.
- ``queries``: registry rows (``queries.run_query``) over seeded parquet
  tables, each written to parquet; building the rows' DataFrames is the
  plan part of the pass.
"""

from __future__ import annotations

import gc
import os
import re
import statistics
import time

from pyspark.sql import functions as F

from confluent_data_ingestion_spark.emit import emit_bundle, validate_statements
from confluent_data_ingestion_spark.caching import release_caches
from confluent_data_ingestion_spark.plans import compile_pipeline
from confluent_data_ingestion_spark.queries import (
    ARTIFACT_FAMILIES,
    ORACLES,
    release_artifact_families,
    run_query,
)
from confluent_data_ingestion_spark.spec import load_spec, validate_spec
from confluent_data_ingestion_spark.streaming.runner import StatementSetRunner

import gen
from reference import SINKS, EtlReference, QueryReference

# etl_batch sizing: ~66k envelope messages (8 versions per key on average)
ETL_KEYS = 4000
ETL_PARTS = 4
# spec_compile sizing: entities x columns per entity
WIDE_ENTITIES = 10
WIDE_COLS = 12
# warm-ups after the cold pass: warm passes keep getting faster (JIT) for
# about this many passes
ETL_WARMUPS = 3
WIDE_EMIT_WARMUPS = 10
# measured passes at least, whatever the measuring time
ETL_PASSES = 4
WIDE_EMITS = 20
# plan operations that are not part of the workload's pass run after the
# passes, a fixed number of times
ETL_PLAN_WARMUPS, ETL_PLANS = 6, 16
WIDE_PLAN_WARMUPS, WIDE_PLANS = 2, 8
# queries sizing: events, customers (ten orders each), documents
Q_EVENTS = 50_000
Q_CUSTOMERS = 5_000
Q_DOCS = 1_000
Q_WARMUPS = 2
Q_PASSES = 4
# registry rows over events, orders/customer and documents: JSON view,
# latest-by-key, FGAC join + mask, quarantine anti-join, union arms, exact
# dedup, and the text operators (quality features, language id)
QUERY_ROWS = (
    "view_json_envelope", "xref_latest_by_key", "xref_latest_soft_delete",
    "fgac_enrich_mask", "quarantine_antijoin", "union_arms_null_fill",
    "dedup_exact", "text_quality_features", "language_id_heuristic",
)

_DECLARED = {
    "STRING": "string", "BIGINT": "bigint", "INT": "int", "DATE": "date",
    "DOUBLE": "double", "DECIMAL(12,2)": "decimal(12,2)",
}
_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused)?Exchange\b")


class Run:
    """State shared by one benchmark run: session, tracer, scratch space,
    and the timing samples the metrics are computed from."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[tuple[str, str], list[float]] = {}
        # spans of the measured passes, for the per-pass Spark metrics
        self.pass_spans: list[dict] = []
        self.phase = "cold"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, op: str, reason: str) -> None:
        self.failures.append(f"{op}: {reason}")

    def record(self, values: dict) -> None:
        for k, v in values.items():
            self.samples.setdefault((self.phase, k), []).append(v)

    def record_pass(self, span: dict) -> None:
        self.record({"pass_ms": span["wall_ms"]})
        if self.phase == "measure":
            self.pass_spans.append(span)

    def has(self, key: str) -> bool:
        return ("measure", key) in self.samples

    def quiesce(self) -> None:
        """Collect garbage in both runtimes before a pass or a block of
        short operations, so that earlier garbage is not collected inside
        their timing."""
        gc.collect()
        self.spark._jvm.System.gc()

    def median(self, key: str, phase: str = "measure") -> float:
        return statistics.median(self.samples[(phase, key)])


def _declared_schema(rows: list[list]) -> dict[str, list[tuple[str, str]]]:
    """(TargetColumn, Spark type) per target, from the generated rows."""
    col = {h: i for i, h in enumerate(gen.V22_HEADER)}
    out: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        out.setdefault(r[col["TargetTable"]], []).append(
            (r[col["TargetColumn"]], _DECLARED[r[col["TargetDataType"]]]))
    return out


def plan_op(run: Run, workbook: str, sources: dict, declared: dict) -> dict:
    """workbook -> load_spec -> validate_spec -> compile_pipeline -> executed
    plan of every target.  Checks every target's schema against the
    workbook's declared columns and types."""
    tr = run.tracer
    run.attempted += 1
    with tr.span("plans.pass") as whole:
        with tr.span("spec.load") as s_load:
            spec = load_spec(workbook)
        with tr.span("spec.validate") as s_val:
            issues = validate_spec(spec)
        with tr.span("plans.compile") as s_comp:
            compiled = compile_pipeline(run.spark, spec, sources)
        with tr.span("plans.physical") as s_phys:
            plans = [df._jdf.queryExecution().executedPlan().toString()
                     for df in compiled.values()]
    errors = [m for sev, _, m in issues if sev == "ERROR"]
    wrong = []
    for table, cols in declared.items():
        got = ([(f.name, f.dataType.simpleString()) for f in compiled[table].schema.fields]
               if table in compiled else None)
        if got != cols:
            wrong.append(f"{table} schema {got} != declared {cols}")
    if errors or wrong:
        run.fail("plan", f"spec errors {errors[:2]}; {wrong[:1]}")
    run.record({
        "plan_ms": whole["wall_ms"], "spec.load_ms": s_load["wall_ms"],
        "spec.validate_ms": s_val["wall_ms"], "plans.compile_ms": s_comp["wall_ms"],
        "plans.physical_ms": s_phys["wall_ms"],
        "plans.plan_chars": sum(len(p) for p in plans),
        "plans.exchanges": sum(len(_EXCHANGE.findall(p)) for p in plans),
        "plans.targets": len(compiled),
    })
    return whole


def emit_op(run: Run, workbook: str) -> dict:
    """workbook -> emit_bundle -> validate_statements; every emitted
    statement must parse."""
    tr = run.tracer
    run.attempted += 1
    with tr.span("emit.pass") as whole:
        with tr.span("spec.load"):
            spec = load_spec(workbook)
        with tr.span("emit.bundle") as s_bundle:
            bundle = emit_bundle(spec)
        with tr.span("emit.parse") as s_parse:
            report = validate_statements(
                run.spark, "\n".join(bundle[k] for k in
                                     ("views.sql", "tables.sql", "inserts.sql")))
    bad = [r for r in report if not r["ok"]]
    if bad or not report:
        run.fail("emit", f"{len(bad)} of {len(report)} statements do not parse: "
                 f"{bad[:1]}")
    run.record({
        "emit_ms": whole["wall_ms"], "emit.bundle_ms": s_bundle["wall_ms"],
        "emit.parse_ms": s_parse["wall_ms"], "emit.statements": len(report),
    })
    return whole


def _repeat(run: Run, op, *, warmups: int, seconds: float = 0.0,
            count: int = 0, cold: bool = False) -> None:
    """Run ``op`` once cold (if ``cold``), a fixed number of warm-up times
    (so the JIT state when measuring starts does not depend on the host's
    speed), then measured until ``seconds`` have passed and at least
    ``count`` (at least three) measured runs were made."""
    run.quiesce()
    if cold:
        run.phase = "cold"
        op()
    run.phase = "warmup"
    for _ in range(warmups):
        op()
    run.phase = "measure"
    deadline = time.perf_counter() + seconds
    measured = 0
    while measured < max(count, 3) or time.perf_counter() < deadline:
        op()
        measured += 1


def etl_batch(run: Run) -> int:
    spark = run.spark
    lines = gen.envelope_messages(run.seed, ETL_KEYS, ETL_KEYS)
    env_dir = run.path("envelope")
    gen.write_envelope_parts(env_dir, lines, ETL_PARTS)
    workbook = run.path("sttm.xlsx")
    rows = gen.pipeline_rows()
    gen.write_v22_workbook(workbook, rows)
    declared = _declared_schema(rows)
    ref = EtlReference(lines)
    spec = load_spec(workbook)
    raw = spark.read.text(env_dir).select(F.col("value").alias("val"))
    sources = {spec.raw_table: raw}
    out_dir = run.path("sinks")

    def batch_pass() -> None:
        run.quiesce()
        run.attempted += 1
        with run.tracer.span("streaming.run_batch", phase=run.phase) as s:
            paths = StatementSetRunner(spark, spec, {}, out_dir).run_batch(raw)
        run.record_pass(s)
        wrong = [ref.diff(t, paths[t]) if t in paths else f"{t}: not written"
                 for t in SINKS]
        if any(wrong):
            run.fail("batch", "; ".join(w for w in wrong if w))

    try:
        _repeat(run, batch_pass, cold=True, warmups=ETL_WARMUPS,
                seconds=run.seconds, count=ETL_PASSES)
    finally:
        ref.close()
    _repeat(run, lambda: plan_op(run, workbook, sources, declared),
            warmups=ETL_PLAN_WARMUPS, count=ETL_PLANS)
    return len(lines)


def spec_compile(run: Run) -> int:
    spark = run.spark
    rows = gen.wide_rows(run.seed, WIDE_ENTITIES, WIDE_COLS)
    workbook = run.path("wide.xlsx")
    gen.write_v22_workbook(workbook, rows)
    declared = _declared_schema(rows)
    env_dir = run.path("envelope")
    os.makedirs(env_dir)
    open(os.path.join(env_dir, "empty.json"), "w").close()
    raw = spark.read.text(env_dir).select(F.col("value").alias("val"))
    sources = {"raw": raw}

    def emit_pass() -> None:
        run.quiesce()
        run.record_pass(emit_op(run, workbook))

    def plan_pass() -> None:
        run.quiesce()
        plan_op(run, workbook, sources, declared)

    _repeat(run, emit_pass, cold=True, warmups=WIDE_EMIT_WARMUPS,
            seconds=run.seconds, count=WIDE_EMITS)
    _repeat(run, plan_pass, warmups=WIDE_PLAN_WARMUPS, count=WIDE_PLANS)
    return len(rows)


def queries(run: Run) -> int:
    """Every pass starts from a fresh-session view: the registry's artifact
    caches and reader plans are released first.  Returns the input rows."""
    spark, tr = run.spark, run.tracer
    tables = gen.registry_tables(run.seed, Q_EVENTS, Q_CUSTOMERS, Q_DOCS)
    sf_dir = run.path("tables")
    gen.write_registry_tables(sf_dir, tables)
    ref = QueryReference(sf_dir, tables, {n: ORACLES[n] for n in QUERY_ROWS})
    out_dir = run.path("out")

    def query_pass() -> None:
        release_artifact_families(ARTIFACT_FAMILIES)
        release_caches()
        run.quiesce()
        run.attempted += len(QUERY_ROWS)
        samples = {}
        with tr.span("queries.pass", phase=run.phase) as whole:
            for name in QUERY_ROWS:
                with tr.span(f"queries.{name}") as row:
                    with tr.span("queries.build") as build:
                        df = run_query(name, spark, sf_dir)
                    with tr.span("queries.action") as action:
                        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
                samples[name] = (row["wall_ms"], build["wall_ms"], action["wall_ms"])
        run.record_pass(whole)
        build_ms = sum(b for _, b, _ in samples.values())
        run.record({
            "plan_ms": build_ms, "queries.build_ms": build_ms,
            "queries.action_ms": sum(a for _, _, a in samples.values()),
            **{f"queries.{n}.ms": w for n, (w, _, _) in samples.items()},
        })
        for name in QUERY_ROWS:
            wrong = ref.diff(name, os.path.join(out_dir, name))
            if wrong:
                run.fail(name, wrong)

    try:
        _repeat(run, query_pass, cold=True, warmups=Q_WARMUPS,
                seconds=run.seconds, count=Q_PASSES)
    finally:
        ref.close()
    return sum(t.num_rows for t in tables.values())


WORKLOADS = {"etl_batch": etl_batch, "spec_compile": spec_compile,
             "queries": queries}
