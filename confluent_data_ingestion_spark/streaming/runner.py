"""Statement-set runtime (reference T1): run every pipeline stage as one job
over a shared source scan, in batch or streaming mode.

The reference wraps all INSERTs in ``EXECUTE STATEMENT SET BEGIN … END`` so
Flink plans one job with shared scans (``scripts/sttm_to_flink_v22.py:
391-398``).  Spark's equivalent patterns, both implemented here:

 - batch:     persist the raw envelope once (unless the caller already
   did), then walk the targets in dependency order
   (``PipelineCompiler.iter_compile``).  A target whose plan would
   otherwise run more than once — read by two or more consumers, its own
   sink write counting as one; in the paper's spec every XREF an FGAC or
   QUARANTINE target joins — is ``localCheckpoint``-ed eagerly right
   after it is built; its sink is written from the checkpoint and
   downstream targets are built against it.  A target read once stays
   inlined so Catalyst can still push filters into it.  The checkpoint
   blocks and the envelope cache are freed when the set finishes.
 - streaming: ONE ``foreachBatch`` query; each microbatch is persisted,
   every stage is compiled against it in the same dependency order,
   XREF targets are upserted into a
   changelog snapshot store, and FGAC/QUARANTINE stages join against the
   *post-upsert global snapshot* (stream-static per microbatch — the Spark
   rendering of Flink's changelog join, reference J6/T3,
   ``resources/sql/xref-queries.sql:80-99``).

Quiescence contract (AC-2): after all input is consumed, streaming outputs
equal the batch pipeline run over the same total input.  Tests assert this.

Scale notes: per microbatch the work is bounded by |batch| for views,
|batch| log-append for XREF, and |batch| ⨝ snapshot for FGAC (the snapshot
side is latest-per-key, i.e. bounded by live keys, and is typically
broadcast-able after dedup).  Nothing here collects to the driver; the
transaction markers make foreachBatch retries idempotent (PR-3).  In batch
mode a checkpointed XREF snapshot is bounded by live keys and its blocks
spill MEMORY_AND_DISK; local checkpoint blocks cannot be rebuilt from
lineage, so losing an executor fails the statement set — a rerun is
idempotent because ``run_batch`` overwrites its sinks.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..caching import release_checkpoint
from ..plans.compiler import PipelineCompiler, target_deps, xref_dedup_spec
from ..spec.models import PipelineSpec
from .upsert import UpsertSnapshot


class StatementSetRunner:
    def __init__(
        self,
        spark: SparkSession,
        spec: PipelineSpec,
        static_sources: dict[str, DataFrame],
        out_dir: str,
        *,
        checkpoint_dir: str | None = None,
        capture_plans: bool = False,
    ):
        self.spark = spark
        self.spec = spec
        self.static_sources = dict(static_sources)
        self.out_dir = out_dir.rstrip("/")
        self.checkpoint_dir = checkpoint_dir or f"{self.out_dir}/_checkpoints"
        # one store instance per target for the runner's lifetime, so
        # per-instance state (the latched v1->v2 log-format check) holds
        # across microbatches instead of re-running every batch
        self._stores: dict[tuple[str, str], UpsertSnapshot | None] = {}
        # per-stage physical plans of the most recent microbatch — the
        # foreachBatch side of the plan audit (streaming/audit.py);
        # overwritten each batch so quiescence leaves the LAST one.
        # OPT-IN (capture_plans): executedPlan() forces an extra physical
        # planning pass per stage per microbatch — e.g. VIEW stages whose
        # plan is otherwise only planned inlined into consumers — so
        # production runners skip it and only audit/registry paths pay
        self.capture_plans = capture_plans
        self.last_batch_plans: dict[str, str] = {}
        os.makedirs(self.out_dir, exist_ok=True)

    def table_path(self, table: str) -> str:
        return f"{self.out_dir}/{table}"

    # -- batch mode ----------------------------------------------------------

    def run_batch(self, raw_df: DataFrame, write_views: bool = False) -> dict[str, str]:
        """Write every compiled target from one shared envelope scan,
        computing each shared target's plan once (module docstring)."""
        tables = self.spec.tables()
        written = {
            t for t, rows in tables.items()
            if write_views or rows[0].pipeline_stage != "VIEW"
        }
        readers = Counter(
            d for t, rows in tables.items() for d in target_deps(t, rows)
        )
        # a caller's own cache outlives the call: only drop what we persist
        owns_cache = raw_df.storageLevel == StorageLevel.NONE
        if owns_cache:
            raw_df = raw_df.persist()
        checkpoints: list[DataFrame] = []
        try:
            compiler = PipelineCompiler(
                self.spark, self.spec,
                {self.spec.raw_table: raw_df, **self.static_sources},
            )
            paths: dict[str, str] = {}
            for table, _, df in compiler.iter_compile():
                if readers[table] + (table in written) > 1:
                    df = df.localCheckpoint(eager=True)
                    checkpoints.append(df)
                    compiler.compiled[table] = df
                if table in written:
                    path = self.table_path(table)
                    df.write.mode("overwrite").parquet(path)
                    paths[table] = path
            return paths
        finally:
            for df in checkpoints:
                release_checkpoint(df)
            if owns_cache:
                raw_df.unpersist()

    # -- streaming mode ------------------------------------------------------

    def _xref_store(self, table: str, rows) -> UpsertSnapshot:
        key = ("xref", table)
        if key not in self._stores:
            pks, order_fields, del_field, del_values = xref_dedup_spec(rows)
            self._stores[key] = UpsertSnapshot(
                f"{self.out_dir}/_xref/{table}",
                pks,
                order_fields or pks,
                delete_flag_field=del_field,
                delete_flag_values=del_values,
            )
        return self._stores[key]

    def _keyed_store(self, table: str, rows) -> UpsertSnapshot | None:
        """Changelog store for a keyed FGAC target: versions ordered by the
        microbatch sequence (the changelog position)."""
        key = ("fgac", table)
        if key not in self._stores:
            pks = [r.target_column for r in rows if r.is_target_pk]
            self._stores[key] = (
                UpsertSnapshot(f"{self.out_dir}/_fgac/{table}", pks, ["__seq__"])
                if pks
                else None
            )
        return self._stores[key]

    def _append_once(self, df: DataFrame, table: str, batch_id: int) -> None:
        path = self.table_path(table)
        marker_dir = f"{path}/_txn"
        os.makedirs(marker_dir, exist_ok=True)
        marker = f"{marker_dir}/committed-{batch_id}"
        if not os.path.exists(marker):
            df.write.mode("append").parquet(path)
            with open(marker, "w") as f:
                f.write("1")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            compiler = PipelineCompiler(
                spark, self.spec,
                {self.spec.raw_table: batch_df, **self.static_sources},
                xref_keep_order_fields=True,
            )
            from pyspark.sql import functions as F

            for table, rows, df in compiler.iter_compile():
                stage = rows[0].pipeline_stage
                if self.capture_plans:
                    try:  # plan capture must never fail the batch
                        self.last_batch_plans[f"{stage} {table}"] = (
                            df._jdf.queryExecution().executedPlan().toString()
                        )
                    except Exception:  # pragma: no cover
                        pass
                if stage == "VIEW":
                    continue  # inlined into its consumers, no sink
                if stage == "XREF":
                    store = self._xref_store(table, rows)
                    store.upsert(df, batch_id=f"{table}-{batch_id}")
                    # Delta-driven changelog propagation (reference J6/T3):
                    # downstream stages see the post-upsert GLOBAL latest
                    # rows, but only for keys touched in this batch — work
                    # per microbatch is O(|batch|), not O(live keys).  At
                    # quiescence the last batch touching a key computed its
                    # downstream rows from the true global latest, so keyed
                    # downstream upserts converge to the batch-mode result.
                    pks, _, _, _ = xref_dedup_spec(rows)
                    target_cols = [r.target_column for r in rows]
                    touched = df.select(*pks).distinct()
                    compiler.compiled[table] = (
                        store.snapshot(spark)
                        .select(*target_cols)
                        .join(touched, pks, "left_semi")
                    )
                else:  # FGAC / QUARANTINE
                    keyed = self._keyed_store(table, rows)
                    if stage == "FGAC" and keyed is not None:
                        keyed.upsert(
                            df.withColumn("__seq__", F.lit(batch_id)),
                            batch_id=f"{table}-{batch_id}",
                        )
                    else:  # reject/append streams
                        self._append_once(df, table, batch_id)
        finally:
            batch_df.unpersist()

    def run_streaming(self, raw_stream: DataFrame, *, available_now: bool = True):
        """One streaming query fanning out to every sink (T1).  With
        ``available_now`` the query drains all currently-available input and
        stops — the batch-equivalent execution used by tests; without it the
        query runs continuously until stopped."""
        writer = (
            raw_stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if available_now:
            query.awaitTermination()
            self.finalize()
        return query

    def finalize(self) -> dict[str, str]:
        """Materialize final XREF / keyed-FGAC snapshots as plain parquet
        tables (the quiescence outputs the batch mode writes directly)."""
        paths: dict[str, str] = {}
        for table, rows in self.spec.tables().items():
            stage = rows[0].pipeline_stage
            if stage == "XREF":
                store = self._xref_store(table, rows)
            elif stage == "FGAC":
                store = self._keyed_store(table, rows)
            else:
                continue
            if store is None or not store.exists():
                continue
            target_cols = [r.target_column for r in rows]
            out = self.table_path(table)
            store.snapshot(self.spark).select(*target_cols).write.mode(
                "overwrite"
            ).parquet(out)
            paths[table] = out
        return paths
