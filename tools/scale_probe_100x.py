"""100x-equivalent scale probe: two decades of blowup for the heaviest
operator families (n-gram/LSH dedup, IVF-PQ search, incremental rollup).

The per-round probes stop at 10x (sf1-equivalent), where the extrapolation
to cluster scale is still an argument.  This tool adds the second decade:
each probe runs at sf0.1, x10, and x100, so the wall-vs-data slope is a
MEASUREMENT per decade, not a one-point fit.  A plan that is secretly
quadratic (all-pairs, unbounded state, driver loop) is sublinear-looking
at 10x and explodes at 100x — this is the probe that catches it.

Blowup shapes reuse the established honest-synthesis designs:
 - documents: perturbed replicas (per-replica token suffixes keep the
   near-dup RATE constant — clusters multiply in count, not size), 5 pct
   verbatim replicas for bounded cross-replica exact dups, and a shared
   boilerplate tail on a hash-chosen 10 pct so the shingle frequency caps
   are genuinely exercised at scale (scale_probe_dedup.py's method).
 - events: KEYS multiply (user_id*R+r) while per-key depth stays constant
   — how a stream actually grows (scale_probe_sketch.py's method).
 - embeddings: corpus replicas with deterministic jitter; the IVF-PQ
   probe holds CODEBOOK SIZE and QUERY COUNT fixed while only the corpus
   grows — the honest ANN scaling question (scale_probe_round6.py's
   method).

Ratios are normalized per decade: d1 = x10 / sf0.1 / 10,
d2 = x100 / x10 / 10 — 0.1x means perfectly scale-free, 1.0x means
perfectly linear wall growth.  Timings are warm second runs; caches
released between runs.

Usage: python tools/scale_probe_100x.py [--families dedup,pq,rollup]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
ROOT = "/tmp/cdis_100x_probe"

BOILERPLATE = (
    "all rights reserved terms of service privacy policy cookie "
    "settings subscribe newsletter contact"
)


def blow_documents(spark, reps: int, out: str) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    blown = (
        docs.withColumn("r", F.explode(F.expr(f"sequence(0, {reps - 1})")))
        .select(
            (F.col("doc_id") * reps + F.col("r")).alias("doc_id"),
            F.expr(
                "CASE WHEN r > 0 AND pmod(hash(doc_id, r), 100) < 5 THEN text "
                "ELSE array_join(transform(split(text, ' '), "
                "t -> concat(t, '_', CAST(r AS STRING))), ' ') END"
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
        .withColumn(
            "text",
            F.expr(
                f"CASE WHEN pmod(hash(doc_id, 7), 10) = 0 "
                f"THEN concat(text, ' ', '{BOILERPLATE}') ELSE text END"
            ),
        )
    )
    blown.write.mode("overwrite").parquet(f"{out}/documents.parquet")


def blow_documents_fixed_vocab(spark, reps: int, out: str) -> None:
    """Corpus blowup that holds VOCABULARY (nearly) fixed: replicas keep
    the original tokens verbatim and only append one replica-marker token
    per doc, so types grow by +reps while tokens grow x reps.  Real
    corpora grow tokens, not types, at anywhere near this rate — the
    suffix-perturbed dedup blowup multiplies vocabulary by reps, which
    conflates the BM25 posting build's slope with an unrealistic
    type-table blowup (round-10 verdict item 7).  Written to a ``fv/``
    subtree so the dedup-shaped documents in ``out`` are untouched."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    blown = (
        docs.withColumn("r", F.explode(F.expr(f"sequence(0, {reps - 1})")))
        .select(
            (F.col("doc_id") * reps + F.col("r")).alias("doc_id"),
            F.expr("concat(text, ' rep_', CAST(r AS STRING))").alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    blown.write.mode("overwrite").parquet(f"{out}/fv/documents.parquet")


def blow_events(spark, reps: int, out: str) -> None:
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    blown = ev.withColumn(
        "r", F.explode(F.expr(f"sequence(0, {reps - 1})"))
    ).select(
        (F.col("event_id") * reps + F.col("r")).alias("event_id"),
        "ts",
        (F.col("user_id") * reps + F.col("r")).alias("user_id"),
        "event_type", "value", "props",
    )
    blown.write.mode("overwrite").parquet(f"{out}/events.parquet")


def blow_lineitem_orders(spark, reps: int, out: str) -> None:
    """FK-consistent fact blowup for the headline pipeline: every order
    replicates with its lineitems (same r on both sides of the orderkey),
    so keys multiply while per-key depth stays constant; dimension tables
    (customer/nation/region) stay FIXED — how a transactional fact
    actually grows against stable dims."""
    from pyspark.sql import functions as F

    od = spark.read.parquet(f"{BASE}/orders.parquet")
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    od.withColumn("r", F.explode(F.expr(f"sequence(0, {reps - 1})"))).select(
        (F.col("o_orderkey") * reps + F.col("r")).alias("o_orderkey"),
        *[c for c in od.columns if c != "o_orderkey"],
    ).drop("r").write.mode("overwrite").parquet(f"{out}/orders.parquet")
    li.withColumn("r", F.explode(F.expr(f"sequence(0, {reps - 1})"))).select(
        (F.col("l_orderkey") * reps + F.col("r")).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).drop("r").write.mode("overwrite").parquet(f"{out}/lineitem.parquet")


def blow_orders_only(spark, reps: int, out: str) -> None:
    """Orders-only fact blowup (customer dim stays fixed, FK values
    unchanged, o_orderkey re-keyed unique) for the contract-validation
    probe — the lineitem side is not read and x100 of it would dominate
    the blowup cost for nothing."""
    from pyspark.sql import functions as F

    od = spark.read.parquet(f"{BASE}/orders.parquet")
    od.withColumn("r", F.explode(F.expr(f"sequence(0, {reps - 1})"))).select(
        (F.col("o_orderkey") * reps + F.col("r")).alias("o_orderkey"),
        *[c for c in od.columns if c != "o_orderkey"],
    ).drop("r").write.mode("overwrite").parquet(f"{out}/orders.parquet")


HEADLINE9 = [
    "view_json_envelope", "view_csv_positional", "xref_latest_by_key",
    "xref_latest_soft_delete", "fgac_enrich_mask", "quarantine_antijoin",
    "union_arms_null_fill", "ordered_multi_join", "pricing_summary",
]


def link_fixed_tables(out: str) -> None:
    """Symlink the tables the headline rows read but the probe does not
    blow (dims + documents) so the blown dir is a complete sf_dir."""
    for t in ("documents", "customer", "nation", "region"):
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)


def blow_embeddings(spark, reps: int, out: str) -> None:
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    blown = emb.withColumn(
        "r", F.explode(F.expr(f"sequence(0, {reps - 1})"))
    ).select(
        (F.col("vec_id") * reps + F.col("r")).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x + CAST(r AS DOUBLE) * 0.0001)"
        ).alias("embedding"),
        "label",
    )
    blown.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def ivfpq_probe(spark, sf_dir: str, corpus_mod: int):
    """IVF-PQ with FIXED index size (~40 fine centroids, ~80 coarse
    buckets via the id filters scaled by corpus_mod) and a fixed ~20-query
    set; only the encoded corpus and its bucket scan grow."""
    from pyspark.sql import functions as F

    from confluent_data_ingestion_spark.operators.similarity import (
        ivfpq_topk, pq_encode, pq_train_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = emb.filter(F.col("vec_id") % (50 * corpus_mod) == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    books = pq_train_codebooks(emb, init, dim=64, m=4, refine_iters=1)
    codes = pq_encode(emb, books, dim=64, m=4)
    coarse_init = emb.filter(F.col("vec_id") % (25 * corpus_mod) == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    coarse_books = pq_train_codebooks(
        emb, coarse_init, dim=64, m=1, refine_iters=0
    )
    coarse_assign = pq_encode(emb, coarse_books, dim=64, m=1).select(
        "vec_id", F.col("code").alias("bucket")
    )
    q = emb.filter(F.col("vec_id") % (100 * corpus_mod) == 0)
    return ivfpq_topk(
        codes, coarse_assign, q, books, coarse_books,
        dim=64, m=4, k=5, nprobe=2,
    )


def zorder_incr_probe(spark, sf_dir: str, reps: int):
    """Partition-incremental Z-order maintenance with a FIXED batch (1/7
    of the sf0.1 events) against a base layout that grows x10 / x100:
    the claim under test is 'maintenance cost scales with the batch,
    never the table', so the honest probe holds the batch constant and
    grows only the base.  Run 1 at each scale pays the one-off layout
    build (the zorder_rewrite job); the warm run 2 is the measured
    append + stats merge + pruned read."""
    import os

    from pyspark.sql import functions as F

    from confluent_data_ingestion_spark.operators.skipping import (
        skip_scan, zorder_append,
    )
    from confluent_data_ingestion_spark.queries import (
        _ensure_skipscan_layout, _t,
    )

    layout, stats = _ensure_skipscan_layout(spark, sf_dir)
    ev = _t(spark, BASE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    batch = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000_000)
    )
    gen1 = os.path.join(
        os.path.dirname(layout.rstrip("/")),
        os.path.basename(layout.rstrip("/")) + "_gen1probe",
    )
    merged = zorder_append(spark, batch, ["user_id", "value"], gen1, stats)
    return skip_scan(
        spark, layout, {"user_id": (100, 300), "value": (0.0, 50.0)},
        stats=merged,
    ).select("event_id", "user_id", "event_type", "value")


def make_bloom_probes():
    """Per-file Bloom index over the blown events (keys multiply, so the
    lookup column's per-file distinct count grows with file size): the
    BUILD is one linear scan (the floor); the warm POINT LOOKUP over a
    prebuilt index should stay near-flat — the probe stage is
    metadata-sized and the read opens ~matched files + the fixed-rate
    false positives.  num_bits is budgeted at the classic 10 bits per
    key-per-file at every scale (how a real deployment sizes blooms);
    sizing is part of the design, so the probe sizes honestly rather
    than letting a fixed tiny bloom saturate into keep-everything."""
    from confluent_data_ingestion_spark.operators.skipping import (
        bloom_skip_scan,
        collect_file_blooms,
        list_files,
    )

    built: dict[str, tuple] = {}
    laid: dict[str, tuple] = {}

    def layout(spark, sf_dir):
        """Blown events re-laid as a REAL table: ~256k-row files (the
        compaction target every lakehouse enforces).  The raw blowup
        writes 1-2 giant files — per-file blooms over a layout no one
        would ship measure the wrong thing (a 10M-row single file needs
        a 2^27-bit bloom and serializes the scan).  One-time setup per
        scale, excluded from the measured runs."""
        if sf_dir in laid:
            return laid[sf_dir]
        src = f"{sf_dir}/events.parquet"
        n = spark.read.parquet(src).count()
        n_files = max(1, (n + 262_143) // 262_144)
        path = os.path.join(
            ROOT, f"bloom_layout_{os.path.basename(sf_dir.rstrip('/'))}"
        )
        if not os.path.exists(f"{path}/_SUCCESS"):
            (
                spark.read.parquet(src)
                .select("event_id", "user_id", "event_type", "value")
                .repartition(n_files, "user_id")
                .write.mode("overwrite").parquet(path)
            )
        bits = 1 << 16
        while bits < 10 * (n / n_files):
            bits <<= 1
        laid[sf_dir] = (path, bits)
        return laid[sf_dir]

    def build(spark, sf_dir, reps):
        path, bits = layout(spark, sf_dir)
        return collect_file_blooms(spark, path, "event_id", num_bits=bits)

    def ensure(spark, sf_dir):
        if sf_dir not in built:
            path, bits = layout(spark, sf_dir)
            blooms = collect_file_blooms(
                spark, path, "event_id", num_bits=bits
            ).localCheckpoint()
            built[sf_dir] = (path, bits, blooms)
        return built[sf_dir]

    def lookup(spark, sf_dir, reps):
        path, bits, blooms = ensure(spark, sf_dir)
        return bloom_skip_scan(
            spark, path, "event_id", [123, 4567, 98765],
            blooms=blooms, num_bits=bits,
        )

    return build, lookup


def make_bloom_compact_fixed_probe():
    """Bloom OPTIMIZE loop with a FIXED backlog against a base that
    grows x10/x100 (the compaction_fixed_backlog twin for the
    point-lookup index): a sf0.1-sized batch lands as 16 small files,
    gets Bloom-indexed, FFD-compacted, refresh-reconciled, and merged
    with the BASE table's maintained index (built once per scale,
    cached) for a cross-generation pruned lookup.  Nothing in the loop
    may scan the base table — wall must stay flat while the base grows
    two decades.  The base is re-laid to ~256k-row files with
    10-bits-per-key blooms (the honest deployment shape, per the r12
    bloom probe); batch and base share parameters so the merge
    validates."""
    import os as _os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from confluent_data_ingestion_spark.operators.skipping import (
        apply_compaction,
        bloom_skip_scan,
        collect_file_blooms,
        compaction_plan,
        merge_bloom_indexes,
        refresh_file_blooms,
        zorder_append,
        collect_file_stats,
    )

    state: dict[str, tuple] = {}

    def ensure_base(spark, sf_dir):
        if sf_dir in state:
            return state[sf_dir]
        src = f"{sf_dir}/events.parquet"
        n = spark.read.parquet(src).count()
        n_files = max(1, (n + 262_143) // 262_144)
        path = _os.path.join(
            ROOT, f"bloomc_layout_{_os.path.basename(sf_dir.rstrip('/'))}"
        )
        if not _os.path.exists(f"{path}/_SUCCESS"):
            (
                spark.read.parquet(src)
                .select("event_id", "user_id", "event_type", "value")
                .repartition(n_files, "user_id")
                .write.mode("overwrite").parquet(path)
            )
        bits = 1 << 16
        while bits < 10 * (n / n_files):
            bits <<= 1
        blooms = collect_file_blooms(
            spark, path, "event_id", num_bits=bits
        ).localCheckpoint()
        stats = collect_file_stats(
            spark, path, ["user_id", "value"]
        ).localCheckpoint()
        state[sf_dir] = (path, bits, blooms, stats)
        return state[sf_dir]

    def probe(spark, sf_dir, reps):
        path, bits, base_blooms, stats = ensure_base(spark, sf_dir)
        batch = (
            spark.read.parquet(f"{BASE}/events.parquet")
            .select("event_id", "user_id", "event_type", "value")
            .filter(F.col("event_id") % 5 == 0)
            .withColumn("event_id", F.col("event_id") + F.lit(30_000_000_000))
        )
        gen = _os.path.join(
            ROOT, f"bloomc_gen_{_os.path.basename(sf_dir.rstrip('/'))}"
        )
        merged_stats = zorder_append(
            spark, batch, ["user_id", "value"], gen, stats, n_files=16
        )
        new_files = [
            r["file"]
            for r in merged_stats.join(stats, "file", "left_anti")
            .select("file").collect()
        ]
        batch_dir = new_files[0].rsplit("/", 1)[0]
        batch_blooms = collect_file_blooms(
            spark, batch_dir, "event_id", num_bits=bits
        )
        plan = compaction_plan(spark, batch_dir, target_bytes=8 << 20)
        comp = (urlparse(batch_dir).path or batch_dir) + "_compact"
        apply_compaction(spark, batch_dir, plan, comp)
        comp_blooms = refresh_file_blooms(
            spark, comp, batch_blooms, "event_id", num_bits=bits
        )
        blooms = merge_bloom_indexes(base_blooms, comp_blooms)
        return bloom_skip_scan(
            spark, path, "event_id",
            [123, 4567, 30_000_000_000 + 5],
            blooms=blooms,
        )

    return probe


def advisor_probe(spark, sf_dir: str, reps: int):
    """Join-strategy advisor over a fact side that grows x10/x100 (blown
    events: keys multiply at constant per-key depth): the two profiling
    passes per side are a depth x width count-min aggregation and one
    HLL aggregation — state is sketch-bounded at ANY input size, so the
    wall should track the scan and nothing else.  The right side is the
    FIXED sf0.1 events keyed the same way."""
    from pyspark.sql import functions as F

    from confluent_data_ingestion_spark.operators.advisor import join_advice

    left = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    right = spark.read.parquet(f"{BASE}/events.parquet").select(
        F.col("user_id").alias("r_user"), "value"
    )
    adv = join_advice(
        left, right, "user_id", "r_user", broadcast_rows=1000
    )
    return spark.createDataFrame(
        [(adv.strategy, adv.salt, adv.left.rows)],
        "strategy string, salt int, left_rows long",
    )


def compaction_probe(spark, sf_dir: str, reps: int):
    """Small-file compaction with a FIXED backlog (a 16-file Z-ordered
    append of the sf0.1-sized batch) against a base layout that grows
    x10 / x100: plan + apply must cost the backlog, never the table —
    the planner is filesystem-metadata-only and the rewrite touches only
    planned bins.  Returns the cross-generation skip-scan over base +
    compacted batch (the compaction_lifecycle registry shape)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from confluent_data_ingestion_spark.operators.skipping import (
        apply_compaction, collect_file_stats, compaction_plan, skip_scan,
        zorder_append,
    )
    from confluent_data_ingestion_spark.queries import (
        _ensure_skipscan_layout, _t,
    )

    layout, stats = _ensure_skipscan_layout(spark, sf_dir)
    ev = _t(spark, BASE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    batch = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(20_000_000_000)
    )
    genc = os.path.join(
        os.path.dirname(layout.rstrip("/")),
        os.path.basename(layout.rstrip("/")) + "_gencprobe",
    )
    merged = zorder_append(
        spark, batch, ["user_id", "value"], genc, stats, n_files=16
    )
    new_files = [
        r["file"]
        for r in merged.join(stats, "file", "left_anti").select("file").collect()
    ]
    batch_dir = new_files[0].rsplit("/", 1)[0]
    plan = compaction_plan(spark, batch_dir, target_bytes=8 << 20)
    comp = (urlparse(batch_dir).path or batch_dir) + "_compact"
    apply_compaction(spark, batch_dir, plan, comp)
    final = stats.unionByName(
        collect_file_stats(spark, comp, ["user_id", "value"])
    ).localCheckpoint()
    return skip_scan(
        spark, layout, {"user_id": (100, 300), "value": (0.0, 50.0)},
        stats=final,
    ).select("event_id", "user_id", "event_type", "value")


def main() -> None:
    from confluent_data_ingestion_spark.caching import release_caches
    from confluent_data_ingestion_spark.queries import QUERIES as REGISTRY
    from confluent_data_ingestion_spark.session import get_spark

    fams = {"dedup", "pq", "rollup"}
    for i, a in enumerate(sys.argv):
        if a == "--families":
            fams = set(sys.argv[i + 1].split(","))

    spark = get_spark("cdis-100x-probe")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {1: BASE, 10: f"{ROOT}/x10", 100: f"{ROOT}/x100"}
    for reps, out in dirs.items():
        if reps == 1:
            continue
        os.makedirs(out, exist_ok=True)
        if (
            "dedup" in fams or "lm" in fams or "bm25" in fams
            or "bm25merge" in fams or "docops" in fams
            or "containment" in fams or "excerpt" in fams
            or "winnow" in fams
        ) and not os.path.exists(
            f"{out}/documents.parquet/_SUCCESS"
        ):
            blow_documents(spark, reps, out)
        if (
            "rollup" in fams or "stats" in fams or "zorder" in fams
            or "compact" in fams or "advisor" in fams or "bloom" in fams
            or "bloomcompact" in fams or "supervision" in fams
            or "timeseries" in fams
        ) and not os.path.exists(
            f"{out}/events.parquet/_SUCCESS"
        ):
            blow_events(spark, reps, out)
        if "supervision" in fams and not os.path.exists(
            f"{out}/embeddings.parquet/_SUCCESS"
        ):
            blow_embeddings(spark, reps, out)
        if "pq" in fams and not os.path.exists(
            f"{out}/embeddings.parquet/_SUCCESS"
        ):
            blow_embeddings(spark, reps, out)
        if "bm25fv" in fams and not os.path.exists(
            f"{out}/fv/documents.parquet/_SUCCESS"
        ):
            blow_documents_fixed_vocab(spark, reps, out)
        if "round14" in fams:
            for need, blow in (
                ("events", blow_events),
                ("documents", blow_documents),
                ("embeddings", blow_embeddings),
                ("orders", blow_orders_only),
            ):
                if not os.path.exists(f"{out}/{need}.parquet/_SUCCESS"):
                    blow(spark, reps, out)
            dst = f"{out}/customer.parquet"
            if not os.path.exists(dst):
                os.symlink(f"{BASE}/customer.parquet", dst)
        if "headline" in fams and reps == 10:
            if not os.path.exists(f"{out}/events.parquet/_SUCCESS"):
                blow_events(spark, reps, out)
            if not os.path.exists(f"{out}/lineitem.parquet/_SUCCESS"):
                blow_lineitem_orders(spark, reps, out)
            link_fixed_tables(out)

    def run(fn) -> float:
        best = None
        for _ in range(2):  # warm second run
            t0 = time.perf_counter()
            fn()
            best = time.perf_counter() - t0  # BEFORE release: cache-drop
            release_caches()  # time is proportional to cached state, not fn
        return round(best, 3)

    probes: list[tuple[str, object]] = []
    if "dedup" in fams:
        for name in ("dedup_ngram_jaccard", "dedup_lsh_verified",
                     "dedup_minhash_lsh"):
            probes.append((name, name))
    if "pq" in fams:
        probes.append(("ivfpq_fixed_index", ivfpq_probe))
    if "rollup" in fams:
        for name in ("rollup_quantile_events", "rollup_incremental_events"):
            probes.append((name, name))
    if "stats" in fams:
        # exact order-statistic quantiles (O(nbins) state) and the
        # steady-state pruned skip-scan read: run 1 at each scale builds
        # the Z-order layout (disk-cached per (session, sf_dir)), the
        # warm run 2 is the measured read-only path.
        for name in ("exact_quantiles_events", "skipscan_events_range"):
            probes.append((name, name))
    if "zorder" in fams:
        probes.append(("zorder_incremental_fixed_batch", zorder_incr_probe))
    if "compact" in fams:
        probes.append(("compaction_fixed_backlog", compaction_probe))
    if "advisor" in fams:
        probes.append(("join_advisor_growing_fact", advisor_probe))
    if "bloom" in fams:
        bloom_build, bloom_lookup = make_bloom_probes()
        probes.append(("bloom_index_build", bloom_build))
        probes.append(("bloom_pointlookup_warm", bloom_lookup))
    if "supervision" in fams:
        # the r13 monitoring/supervision rows at scale: PSI melt +
        # window rows are scan-shaped; kappa state is pairs x label²;
        # Dawid-Skene is O(iterations) votes x classes shuffles — all
        # should hold ~linear walls with small constants
        for name in ("drift_psi_snapshots", "label_majority_vote",
                     "annotator_pairwise_kappa", "dawid_skene_labels",
                     "temporal_holdout_events"):
            probes.append((name, name))

        # hard negatives with a FIXED anchor set against a corpus grown
        # x10/x100 — the brute-force baseline is linear in corpus for a
        # fixed query batch (the same honest framing as the IVF-PQ probe)
        def hard_neg_fixed(spark, sf_dir, reps):
            from pyspark.sql import functions as F

            from confluent_data_ingestion_spark.operators.similarity import (
                hard_negative_mining,
            )

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            anchors = emb.filter(F.col("vec_id") % (53 * reps) == 0)
            return hard_negative_mining(emb, anchors, k=5)

        probes.append(("hard_negative_fixed_anchors", hard_neg_fixed))
    if "bloomcompact" in fams:
        # the r13 Bloom x compaction lifecycle at scale, both axes:
        # (a) the registry row as-is — backlog GROWS with the table
        # (batch = events/5 at each scale), wall must track the batch;
        # (b) FIXED sf0.1-sized backlog against the growing base — the
        # "never the table" half of the contract, wall must stay flat
        probes.append(
            ("bloom_compaction_growing_backlog", "bloom_compaction_lifecycle")
        )
        probes.append(
            ("bloom_compaction_fixed_backlog",
             make_bloom_compact_fixed_probe())
        )
    if "lm" in fams:
        # bounded-model trained operators: the bigram LM's (V+1)^2 state
        # table and the NB classifier's O(V x classes) model are both
        # corpus-size-independent by construction — the probe measures
        # whether the training scans stay linear and nothing else grows.
        for name in ("bigram_logprob_vocab", "nb_language_classify"):
            probes.append((name, name))
    if "docops" in fams:
        # document-table rows over the perturbed-replica blowup: the
        # provenance rollup rides the jaccard pairing (pairs stay rate-
        # constant under the blowup); vocab coverage is one tokenization
        # + a type-table window (the suffix blowup grows the TYPE table
        # x reps — synthetic, like the bm25 build); DoReMi's reweight is
        # domains-sized after the unigram loss table
        for name in ("dup_provenance_sources", "vocab_oov_rate",
                     "doremi_mixture_weights", "retrieval_rank_agreement"):
            probes.append((name, name))
    if "timeseries" in fams:
        # the r13 second-wave rows at scale (events blowup = keys x reps
        # at constant per-key depth): gap-fill generates each key's grid
        # map-side from the lead — output grows with keys, state is one
        # key's days; the Markov matrix and the alpha coincidence
        # marginals are alphabet-sized no matter the corpus, so both
        # rows should track the scan
        for name in ("resample_gapfill_events", "markov_stationary_events",
                     "krippendorff_alpha_events", "asof_forward_conversion",
                     "trend_slope_per_user", "pagerank_event_graph",
                     "connected_components_chain"):
            probes.append((name, name))
    if "bm25" in fams or "bm25fv" in fams:
        from confluent_data_ingestion_spark import queries as _Q

    if "bm25" in fams:
        # the retrieval rows share a per-(session, sf_dir) materialized
        # index, so the probe decomposes the two real costs: COLD = build
        # the index artifact + score (cache cleared per call — the linear
        # floor, one corpus tokenization); WARM = scoring over the
        # prebuilt artifact (run 1 builds, the measured run 2 reuses —
        # the steady-state per-query-batch cost, bounded by the query
        # terms' posting lists)
        def bm25_cold(spark, sf_dir, reps):
            _Q.release_artifact_families(["bm25"])
            return REGISTRY["bm25_topk_docs"](spark, sf_dir)

        probes.append(("bm25_index_build_topk", bm25_cold))
        probes.append(("bm25_topk_scoring_warm", "bm25_topk_docs"))
        probes.append(("hybrid_rrf_scoring_warm", "hybrid_rrf_retrieval"))
    if "bm25merge" in fams:
        # incremental index maintenance with a FIXED batch (1/5 of the
        # sf0.1 documents, ids offset) against a base index that grows
        # x10/x100: run 1 at each scale builds the shared base index
        # (the bm25_index_build cost above), the warm run 2 measures
        # merge + scoring only.  Expected: cost = batch tokenization +
        # a VOCAB-sized term-stat merge — flat on real corpora; under
        # the suffix blowup the vocabulary itself grows x reps, so the
        # merge grows with the (synthetic) type table, not the corpus.
        def bm25_merge(spark, sf_dir, reps):
            from pyspark.sql import functions as F

            from confluent_data_ingestion_spark.operators.retrieval import (
                bm25_index_merge, bm25_topk,
            )
            from confluent_data_ingestion_spark.queries import (
                _ensure_bm25_index,
            )

            idx, q = _ensure_bm25_index(spark, sf_dir)
            batch = (
                spark.read.parquet(f"{BASE}/documents.parquet")
                .filter(F.col("doc_id") % 5 == 0)
                .select(
                    (F.col("doc_id") + F.lit(10**12)).alias("doc_id"),
                    "text",
                )
            )
            merged = bm25_index_merge(idx, batch)
            return bm25_topk(merged, q, k=10)

        probes.append(("bm25_merge_fixed_batch", bm25_merge))
    if "bm25fv" in fams:
        # cold probe over the fixed-vocabulary blowup: isolates the
        # posting build's true token-linear slope from the dedup blowup's
        # x reps type-table growth
        def bm25_fv(spark, sf_dir, reps):
            _Q.release_artifact_families(["bm25"])
            d = sf_dir if reps == 1 else f"{sf_dir}/fv"
            return REGISTRY["bm25_topk_docs"](spark, d)

        probes.append(("bm25_topk_docs_fixed_vocab", bm25_fv))

    if "round14" in fams:
        # the r14 rows at scale over the established honest blowups:
        # EWMA / k-fold / waterfill / contract are scan-shaped (state =
        # per-key day arrays, a per-row projection, the domain alphabet,
        # and the constraint report respectively) and must track the
        # scan; the contract's orders blowup keeps the customer dim
        # fixed, so the FK anti-join's broadcast side is constant.
        for name in ("ewma_residual_users", "group_kfold_events",
                     "token_budget_waterfill",
                     "contract_validation_orders"):
            probes.append((name, name))

        # mutual-margin matching with a FIXED a-side (~250 queries at
        # every scale) against the growing b-side — the same honest
        # fixed-query framing as the IVF-PQ probe; the registry row's
        # both-sides-grow parity split would be quadratic by
        # construction, which is exactly why the operator takes a
        # candidate-pair frame at corpus scale.
        def bitext_fixed_queries(spark, sf_dir, reps):
            from pyspark.sql import functions as F

            from confluent_data_ingestion_spark.operators.similarity import (
                mutual_margin_pairs,
            )

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            a = emb.filter(F.col("vec_id") % (2 * reps) == 0)
            b = emb.filter(F.col("vec_id") % 2 == 1)
            return mutual_margin_pairs(a, b, k=4, margin_threshold=1.0)

        probes.append(("bitext_fixed_queries", bitext_fixed_queries))

        # the LSH-fed variant with the same fixed a-side: candidates come
        # from band collisions, so the scored pair count tracks bucket
        # density instead of the corpus — the measured gap between this
        # and bitext_fixed_queries IS the value of the candidate path
        def bitext_lsh_fixed_queries(spark, sf_dir, reps):
            from pyspark.sql import functions as F

            from confluent_data_ingestion_spark.operators.similarity import (
                lsh_candidate_pairs, mutual_margin_pairs,
            )
            from confluent_data_ingestion_spark.queries import _LSH_PLANES

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            a = emb.filter(F.col("vec_id") % (2 * reps) == 0)
            b = emb.filter(F.col("vec_id") % 2 == 1)
            cand = lsh_candidate_pairs(a, b, _LSH_PLANES, bands=4)
            return mutual_margin_pairs(
                a, b, k=4, margin_threshold=1.0, candidates=cand
            )

        probes.append(("bitext_lsh_fixed_queries", bitext_lsh_fixed_queries))

        # the AUTO-WIDTH variant (r15): planes=None lets
        # similarity.lsh_auto_width pick the per-band key width from the
        # corpus count — the 17th-probe tuning law as a default.  At x100
        # this must stay near the re-measured 32-bit number (~35 s), not
        # the saturated fixed-16-bit one (~139 s), with no manual knob.
        def bitext_lsh_auto_queries(spark, sf_dir, reps):
            from pyspark.sql import functions as F

            from confluent_data_ingestion_spark.operators.similarity import (
                lsh_candidate_pairs, mutual_margin_pairs,
            )

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            a = emb.filter(F.col("vec_id") % (2 * reps) == 0)
            b = emb.filter(F.col("vec_id") % 2 == 1)
            cand = lsh_candidate_pairs(a, b, planes=None, bands=4, dim=64)
            return mutual_margin_pairs(
                a, b, k=4, margin_threshold=1.0, candidates=cand
            )

        probes.append(("bitext_lsh_auto_queries", bitext_lsh_auto_queries))

        # exact all-pairs prefix-filtered jaccard over the perturbed-
        # replica docs blowup: pairs stay rate-constant, prefixes carry
        # only each doc's rarest shingles — the honest question is
        # whether the posting/pairing stages track the corpus scan
        probes.append(("dedup_allpairs_prefix", "dedup_allpairs_prefix"))
    if "containment" in fams:
        # asymmetric containment over the same perturbed-replica docs
        # blowup (r16): identical posting-list/DF-cap shape as
        # dedup_ngram_jaccard plus the planted-excerpt derivation — the
        # honest question is whether the directed scoring adds anything
        # beyond the jaccard family's measured slope
        probes.append(
            ("dedup_ngram_containment", "dedup_ngram_containment")
        )
    if "excerpt" in fams:
        # prefix-filtered NO-MISS containment over the same blowup
        # (r17): candidates are each doc's rarest (1-t)n+1 shingles
        # joined against the FULL shingle frame (no DF cap by default)
        # — the honest question is whether candidate volume stays
        # posting-build-dominated when the corpus grows two decades
        # with a shared boilerplate tail on 10 pct of docs
        probes.append(
            ("dedup_containment_excerpts", "dedup_containment_excerpts")
        )
    if "winnow" in fams:
        # winnowing overlap radar over the same blowup (r17): the
        # honest question is whether the ~2/(w+1)-density fingerprint
        # sample keeps the posting/pairing stages a constant fraction
        # of the exact n-gram rows as the corpus grows two decades
        probes.append(("dedup_winnow_pairs", "dedup_winnow_pairs"))
    if "headline" in fams:
        # the per-round sf1-anchor (r12 verdict item 7): the whole
        # headline-9 pipeline against the x10 fact blowup — one decade,
        # d1 recorded in SCALE.md; the 2x contract stops being a
        # one-scale measurement
        def headline9(spark, sf_dir, reps):
            for name in HEADLINE9[:-1]:
                REGISTRY[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            return REGISTRY[HEADLINE9[-1]](spark, sf_dir)

        probes.append(("headline9_pipeline", headline9))

    out: dict[str, dict[str, float]] = {}
    for label, spec in probes:
        row: dict[str, float] = {}
        scales = dirs
        if label == "headline9_pipeline":  # one-decade anchor by design
            scales = {r: d for r, d in dirs.items() if r != 100}
        for reps, sf_dir in scales.items():
            key = {1: "sf0.1", 10: "x10", 100: "x100"}[reps]
            if isinstance(spec, str):
                fn = lambda: REGISTRY[spec](spark, sf_dir).write.format(  # noqa: E731,B023
                    "noop"
                ).mode("overwrite").save()
            else:
                fn = lambda: spec(spark, sf_dir, reps).write.format(  # noqa: E731,B023
                    "noop"
                ).mode("overwrite").save()
            row[key] = run(fn)
        row["d1"] = round(row["x10"] / row["sf0.1"] / 10, 3)
        if "x100" in row:
            row["d2"] = round(row["x100"] / row["x10"] / 10, 3)
        out[label] = row
        print(f"# {label}: {row}", file=sys.stderr)
    print(json.dumps(out))
    if "--keep" not in sys.argv:
        shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
