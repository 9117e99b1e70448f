"""Benchmark-side tracing: in-memory spans around calls into the package's
layers, one Spark job group per traced call, and a reader that turns
Spark's own event log into per-group job, stage and task metrics.

Spans are kept in memory and written as JSON lines when the run ends.
With tracing off, :meth:`Tracer.span` only times the call.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid

# file-source scan nodes in a SQL plan ("Scan text ", "Scan parquet ", ...);
# not in-memory or checkpointed-RDD scans
_FILE_SCAN = re.compile(r"Scan (?:text|parquet|json|csv|orc)\b")


class Tracer:
    """Spans of one run; ``enabled`` is the ``--trace`` flag."""

    def __init__(self, enabled: bool, spark):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block; the yielded dict receives ``wall_ms`` on exit.  When
        tracing, also record a span and tag the block's Spark jobs with a
        job group named after the span."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall_ms"] = (time.perf_counter() - t0) * 1000
            return
        idx = len(self.spans)
        rec.update(id=idx, run=self.run_id,
                   parent=self._stack[-1] if self._stack else None,
                   group=f"{name}#{idx}")
        self.spans.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(idx)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application from an uncompressed, non-rolling event
    log (one JSON object per line)."""
    with open(os.path.join(log_dir, app_id), encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _scan_row_metrics(plan: dict) -> set[int]:
    """Accumulator ids of the "number of output rows" metric of every file
    scan node in a SQL plan tree."""
    ids, todo = set(), [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", []))
        if _FILE_SCAN.match(node.get("nodeName", "")):
            ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                       if m["name"] == "number of output rows")
    return ids


class JobStats:
    """Spark job, stage and task totals per job group, from event-log events.

    Rows read by file scans come from the scan nodes' SQL metrics: the
    plans (and their adaptive re-plans) name the metric's accumulator, and
    each task's end event carries its update."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        scan_ids: set[int] = set()
        for e in events:
            kind = e.get("Event", "")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                scan_ids |= _scan_row_metrics(e["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"], "end": None,
                    "stages": 0, "tasks": [], "scan_rows": 0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(e["Stage Info"]["Stage ID"])
                if jid in self.jobs:
                    self.jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid in self.jobs:
                    job = self.jobs[jid]
                    job["tasks"].append(e.get("Task Metrics") or {})
                    job["scan_rows"] += sum(
                        int(a.get("Update") or 0)
                        for a in (e.get("Task Info") or {}).get("Accumulables", [])
                        if a.get("ID") in scan_ids)

    def for_groups(self, groups: set[str]) -> dict:
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        intervals = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
        tasks = [t for j in jobs for t in j["tasks"]]

        def tsum(*path):
            total = 0
            for t in tasks:
                v = t
                for k in path:
                    v = (v or {}).get(k, 0) if isinstance(v, dict) else 0
                total += v or 0
            return total

        return {
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "tasks": len(tasks),
            "job_wall_ms": _union_ms(intervals),
            "job_start_ms": min((a for a, _ in intervals), default=None),
            "job_end_ms": max((b for _, b in intervals), default=None),
            "task_run_ms": tsum("Executor Run Time"),
            "task_cpu_ms": tsum("Executor CPU Time") / 1e6,
            "gc_ms": tsum("JVM GC Time"),
            "shuffle_read_bytes": tsum("Shuffle Read Metrics", "Remote Bytes Read")
            + tsum("Shuffle Read Metrics", "Local Bytes Read"),
            "shuffle_write_bytes": tsum("Shuffle Write Metrics", "Shuffle Bytes Written"),
            "spill_bytes": tsum("Memory Bytes Spilled") + tsum("Disk Bytes Spilled"),
            "scan_rows": sum(j["scan_rows"] for j in jobs),
        }
