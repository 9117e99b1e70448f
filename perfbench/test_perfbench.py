"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

- the same seed gives byte-identical inputs (and another seed different ones);
- traced runs reconcile: every job a span's job group ran lies inside the
  span, so job wall + driver gap = call wall; ``spec_compile`` runs no job;
- the batch sinks' row counts equal the DuckDB reference's counts, and the
  registry rows' outputs equal their oracles on the generated tables;
- a known defect, pinned so it is seen when fixed: the streaming runner's
  sinks at quiescence do not equal the reference on this pipeline.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from reference import SINKS, EtlReference  # noqa: E402
from workloads import QUERY_ROWS  # noqa: E402

# JVM (System.currentTimeMillis) and Python (time.time) read the same clock;
# the JVM stamps job submission/completion in whole milliseconds.
CLOCK_TOLERANCE_MS = 5.0


def _write_inputs(out: str, seed: int) -> list[str]:
    lines = gen.envelope_messages(seed, 200, 200)
    paths = gen.write_envelope_parts(os.path.join(out, "env"), lines, 4)
    paths += gen.write_registry_tables(os.path.join(out, "tables"),
                                       gen.registry_tables(seed, 500, 50, 40))
    for name, rows in (("sttm.xlsx", gen.pipeline_rows()),
                       ("wide.xlsx", gen.wide_rows(seed, 6, 12))):
        gen.write_v22_workbook(os.path.join(out, name), rows)
        paths.append(os.path.join(out, name))
    return paths


def _bytes(paths: list[str]) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _bytes(_write_inputs(str(tmp_path / "a"), 5))
    b = _bytes(_write_inputs(str(tmp_path / "b"), 5))
    c = _bytes(_write_inputs(str(tmp_path / "c"), 6))
    assert a == b
    assert a[0] != c[0]  # envelope depends on the seed
    assert a[4] != c[4]  # so do the registry tables
    assert a[-1] != c[-1]  # and the wide workbook


def test_generated_envelope_has_the_documented_properties():
    lines = gen.envelope_messages(3, 300, 300)
    payloads = []
    for ln in lines:
        try:
            payloads.append(json.loads(ln))
        except json.JSONDecodeError:
            pass
    assert 0 < len(lines) - len(payloads) < len(lines) // 50
    accts = [p for p in payloads if p["INFA_TABLE_NAME"] == "CORE_ACCT"]
    addrs = [p for p in payloads if p["INFA_TABLE_NAME"] == "CORE_ADDR"]
    assert 6 <= len(accts) / 300 <= 10
    orphans = {p["ADDR_ID"] for p in addrs if int(p["ACCT_ID"]) > 300}
    assert 0.1 < len(orphans) / 300 < 0.3
    assert any(p["OPEN_DT"] in gen.DIRTY_DATES for p in accts)
    ref = EtlReference(lines)
    try:
        assert ref.count("XREF_ACCT") == 300
        assert ref.count("QUARANTINE_ADDR") == len(orphans)
        assert ref.count("FGAC_ADDR") == 300 - len(orphans)
    finally:
        ref.close()


def test_workbook_members_round_trip_through_the_package_reader(tmp_path):
    from confluent_data_ingestion_spark.spec.xlsx import read_records

    path = str(tmp_path / "w.xlsx")
    gen.write_v22_workbook(path, gen.pipeline_rows())
    recs = read_records(path, "STTM_Mapping")
    assert len(recs) == len(gen.pipeline_rows())
    with zipfile.ZipFile(path) as z:
        assert {i.date_time for i in z.infolist()} == {(1980, 1, 1, 0, 0, 0)}


def _traced_run(workload: str) -> tuple[dict, list[dict]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_work", f"{workload}.spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    return result, spans


@pytest.mark.parametrize("workload", ["etl_batch", "spec_compile", "queries"])
def test_traced_run_reconciles(workload):
    result, spans = _traced_run(workload)
    assert result["correct"] and result["failed"] == 0
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    for s in spans:
        stats = s["spark"]
        if not stats["jobs"]:
            continue
        # every job of the span's own group ran inside the span
        assert stats["job_start_ms"] >= s["start"] * 1000 - CLOCK_TOLERANCE_MS, s
        assert stats["job_end_ms"] <= s["end"] * 1000 + CLOCK_TOLERANCE_MS, s
        gap = s["wall_ms"] - stats["job_wall_ms"]
        assert gap >= -CLOCK_TOLERANCE_MS, s
    assert metrics["plans.jobs"] == 0
    if workload == "spec_compile":
        assert metrics["spark.jobs"] == 0
        assert all(s["spark"]["jobs"] == 0 for s in spans)
    else:
        assert metrics["spark.jobs"] > 0 and metrics["spark.tasks"] > 0
        assert metrics["spark.scan_amplification"] >= 1
    if workload == "etl_batch":
        # the envelope is persisted once per pass: its text is scanned once
        assert metrics["spark.scan_amplification"] == pytest.approx(1.0)
    if workload == "queries":
        assert metrics["queries.jobs"] == metrics["spark.jobs"]
        assert metrics["queries.jobs"] == sum(
            metrics[f"queries.{row}.jobs"] for row in QUERY_ROWS)


@pytest.fixture(scope="module")
def spark():
    from confluent_data_ingestion_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pipeline_inputs(tmp_path_factory):
    from confluent_data_ingestion_spark.spec import load_spec

    out = str(tmp_path_factory.mktemp("etl"))
    lines = gen.envelope_messages(9, 400, 400)
    gen.write_envelope_parts(os.path.join(out, "env"), lines, 8)
    gen.write_v22_workbook(os.path.join(out, "sttm.xlsx"), gen.pipeline_rows())
    ref = EtlReference(lines)
    yield out, load_spec(os.path.join(out, "sttm.xlsx")), ref
    ref.close()


def test_batch_sink_counts_equal_reference_counts(spark, pipeline_inputs):
    from confluent_data_ingestion_spark.streaming.runner import StatementSetRunner

    out, spec, ref = pipeline_inputs
    raw = spark.read.text(os.path.join(out, "env")).selectExpr("value AS val")
    paths = StatementSetRunner(spark, spec, {}, os.path.join(out, "batch")).run_batch(raw)
    for table in SINKS:
        assert spark.read.parquet(paths[table]).count() == ref.count(table), table
        assert ref.diff(table, paths[table]) == ""


def test_registry_rows_equal_their_oracles(spark, tmp_path):
    from confluent_data_ingestion_spark.queries import ORACLES, run_query
    from reference import QueryReference

    sf_dir = str(tmp_path / "tables")
    tables = gen.registry_tables(11, 3000, 300, 120)
    gen.write_registry_tables(sf_dir, tables)
    ref = QueryReference(sf_dir, tables, {n: ORACLES[n] for n in QUERY_ROWS})
    try:
        for name in QUERY_ROWS:
            out = str(tmp_path / "out" / name)
            run_query(name, spark, sf_dir).write.parquet(out)
            assert ref.count(name) > 0, name
            assert ref.diff(name, out) == "", name
    finally:
        ref.close()


@pytest.mark.xfail(strict=True, reason=(
    "StatementSetRunner streaming joins FGAC/QUARANTINE against only the XREF "
    "keys touched in the same microbatch, so FGAC_ADDR keeps stale rows and "
    "QUARANTINE_ADDR gains spurious ones"))
def test_streaming_sinks_at_quiescence_equal_reference(spark, pipeline_inputs):
    from confluent_data_ingestion_spark.streaming.runner import StatementSetRunner
    from confluent_data_ingestion_spark.streaming.sources import file_envelope_stream

    out, spec, ref = pipeline_inputs
    src = os.path.join(out, "stream-src")
    os.makedirs(src)
    for p in sorted(glob.glob(os.path.join(out, "env", "*.json"))):
        shutil.copy(p, src)
    runner = StatementSetRunner(spark, spec, {}, os.path.join(out, "stream"))
    runner.run_streaming(file_envelope_stream(spark, src, max_files_per_trigger=1))
    wrong = [ref.diff(t, runner.table_path(t)) for t in SINKS]
    assert not any(wrong), wrong
