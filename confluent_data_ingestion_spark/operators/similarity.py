"""Similarity search over embedding columns (array<float>).

Two paths:
 - ``cosine_topk``: brute-force exact top-k — the correctness baseline.
   Cross-join queries x corpus with the dot product as a Catalyst
   higher-order fold (zip_with + aggregate): JVM-side, codegen'd, no Python.
   Cost O(|Q| * N) — fine when |Q| is small or N is a pre-filtered bucket.
 - ``ivf_topk``: the scale path — IVF-style bucketing.  Every vector is
   assigned to its nearest centroid (one shuffle on centroid id); queries
   search ONLY their own centroid bucket, cutting the scan by ~K.  Centroids
   are broadcast (tiny), so assignment is shuffle-free; the bucket join
   shuffles once on centroid_id.  At 100 TB this is the difference between a
   full-corpus cross join and a 1/K partition-pruned probe; recall can be
   raised by probing the P nearest centroids (``n_probe``).

Determinism: dot products fold in array-index order with DOUBLE math, so any
engine reproduces the same bits; cosine values are rounded to 6 decimals
before ranking and ties break on neighbor id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import ensure_min_parallelism

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"


def _dot(a: str, b: str) -> str:
    return DOT.format(a=a, b=b)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus vectors
    (self-matches excluded).  Output: query_id, neighbor_id, cosine, rn."""
    # norms computed ONCE per vector before the join — inside the pair loop
    # they'd be an O(dim) fold re-run per candidate (the dominant cost).
    # The corpus side drives the probe's task count (queries broadcast).
    v = ensure_min_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ve"),
    ).withColumn("__vn__", F.expr(f"sqrt({_dot('ve', 've')})"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    ).withColumn("__qn__", F.expr(f"sqrt({_dot('qe', 'qe')})"))
    scored = (
        q.crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"round({_dot('qe', 've')} / (__qn__ * __vn__), 6)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def hard_negative_mining(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dup_threshold: float = 0.95,
) -> DataFrame:
    """Contrastive-training pair mining: for each anchor, the k corpus
    vectors MOST similar to it that carry a DIFFERENT label — the
    "hard" negatives that actually move an embedding model (easy
    negatives are already far away; same-label neighbors are
    positives).  Candidates above ``dup_threshold`` are excluded: a
    near-duplicate with a different label is a labeling conflict, not
    a training signal — feeding it as a negative teaches the model to
    separate two copies of the same thing.  Output: ``(query_id,
    query_label, neighbor_id, neighbor_label, cosine, rn)``.

    Scale: same contract as :func:`cosine_topk` — anchors broadcast
    against the corpus (the declared brute-force baseline; the corpus
    side drives parallelism, norms fold once per vector).  For anchor
    sets too large to broadcast, assign both sides to IVF cells first
    (:func:`assign_centroids`) and run this per-cell: the filter and
    ranking compose unchanged because they are row-local predicates
    over (anchor, candidate) pairs.
    """
    v = ensure_min_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).cast("array<double>").alias("ve"),
    ).withColumn("__vn__", F.expr(f"sqrt({_dot('ve', 've')})"))
    q = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    ).withColumn("__qn__", F.expr(f"sqrt({_dot('qe', 'qe')})"))
    scored = (
        q.crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            F.expr(
                f"round({_dot('qe', 've')} / (__qn__ * __vn__), 6)"
            ).alias("cosine"),
        )
        .filter(F.col("cosine") <= F.lit(dup_threshold))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall of an approximate top-k result against the exact one: the
    fraction of ``exact`` (query_id, neighbor_id) pairs present in
    ``approx``.  Single-row DataFrame (recall double) — distributed join +
    count, no collect."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn("__hit__", F.lit(1))
    return e.join(a, ["query_id", "neighbor_id"], "left").agg(
        (F.count("__hit__") / F.count(F.lit(1))).alias("recall")
    )


def assign_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
    n_probe: int = 1,
) -> DataFrame:
    """Assign every vector to its ``n_probe`` nearest centroids by cosine
    (ties -> lowest centroid id); one output row per (vector, centroid).

    Centroids broadcast, so scoring is shuffle-free.  The argmax is a
    ``min_by`` aggregation on (-sim, centroid_id) — partial (map-side)
    aggregation shuffles ~N pre-reduced rows with NO sort, where a
    ``row_number`` window would shuffle AND sort all N*K scored rows.  At
    100 TB that window is the dominant cost of the whole IVF path; the
    aggregation is the scale-safe form.  Multi-probe (``n_probe > 1``)
    collects the K candidate scores into an array per vector (K is the
    centroid count — small by construction) and keeps the best P: still a
    partial aggregation, never a window.
    """
    # norms once per vector / per centroid, NOT per (vector, centroid) pair:
    # at N vectors x K centroids the per-pair norm folds are 2/3 of all work
    v = ensure_min_parallelism(vectors).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("ve")
    ).withColumn("__vn__", F.expr(f"sqrt({_dot('ve', 've')})"))
    c = centroids.select(
        F.col(cent_id_col), F.col(vec_col).cast("array<double>").alias("ce")
    ).withColumn("__cn__", F.expr(f"sqrt({_dot('ce', 'ce')})"))
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col,
        "ve",
        cent_id_col,
        F.expr(
            f"round({_dot('ve', 'ce')} / (__vn__ * __cn__), 6)"
        ).alias("__sim__"),
    )
    if n_probe == 1:
        best = scored.groupBy(id_col).agg(
            F.expr(
                f"min_by(struct(`{cent_id_col}`, ve), "
                f"struct(-__sim__, `{cent_id_col}`))"
            ).alias("__b__")
        )
        return best.select(
            id_col,
            F.col("__b__.ve").alias("ve"),
            F.col(f"__b__.`{cent_id_col}`").alias(cent_id_col),
        )
    probed = scored.groupBy(id_col).agg(
        F.expr(
            f"slice(array_sort(collect_list("
            f"struct(-__sim__ AS s, `{cent_id_col}` AS c))), 1, {n_probe})"
        ).alias("__p__"),
        F.first("ve").alias("ve"),  # constant per id
    )
    return probed.select(
        id_col,
        "ve",
        F.explode(F.expr("transform(__p__, x -> x.c)")).alias(cent_id_col),
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center: float = 0.0,
) -> DataFrame:
    """Random-hyperplane LSH approximate cosine top-k.

    Signature bit p = sign of the vector's dot product with hyperplane p
    (cosine-angle preserving: nearby vectors agree on most bits), cut into
    ``bands`` contiguous slices; a query's candidates are corpus vectors
    agreeing EXACTLY on at least one slice.  Complements ``ivf_topk``: no
    centroid training step, recall tuned by (bits, bands) instead of
    (K, n_probe), same drop-in output columns as ``cosine_topk``.

    Scale: signatures are per-row folds over broadcast-size plane
    literals — zero shuffle, zero Python.  The band self-join shuffles
    (band, slice) int keys only; a pair colliding in several bands is
    scored per collision (cheap codegen'd fold) and deduped on
    (ids, cosine) — two longs and a double — before ranking, the same
    distinct-after-score shape ``embedding_near_dup`` uses.  Dots are
    rounded to 6 decimals before the sign so bucket boundaries are
    bit-reproducible across engines.

    ``planes``: ``bits`` rows of vector-dimension floats (any fixed
    pseudo-random source; embed the same literals in an auditing engine
    to reproduce the bucketing exactly).

    ``center``: positive-orthant vectors (counts, minmax-normalized
    features in [0,1)) sit on one side of almost every centered
    hyperplane, so signature bits saturate and the band join degenerates
    toward all-pairs.  A nonzero ``center`` computes each signature bit
    against ``x - center*1`` via a per-plane bias term
    (``dot(p, x - c*1) = dot(p, x) - c*sum(p)``) — SIGNATURE-side only:
    candidate verification and ranking still use the raw-vector cosine,
    so output values are unchanged; only bucket selectivity improves.
    Measured on the 8-dim stub features: 95% of the corpus scanned per
    query uncentered vs 35% at ``center=0.5`` with recall >= 0.96.
    """
    bits = len(planes)
    if bits == 0 or bits > 63:
        raise ValueError(f"need 1..63 planes, got {bits}")
    if bits % bands:
        raise ValueError(f"bits={bits} must divide evenly into bands={bands}")
    width = bits // bands

    def sig_col(e: str) -> str:
        terms = []
        for p, plane in enumerate(planes):
            lits = ", ".join(f"{x:.6f}D" for x in plane)
            dot = DOT.format(a=e, b=f"array({lits})")
            bias = round(-center * sum(plane), 6)
            terms.append(
                f"CASE WHEN round({dot} + {bias:.6f}D, 6) >= 0 "
                f"THEN {1 << p}L ELSE 0L END"
            )
        return " + ".join(terms)

    def banded(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).cast("array<double>").alias(out_vec),
        ).withColumn("__sig__", F.expr(sig_col(out_vec)))
        return (
            base.withColumn(
                "__band__", F.explode(F.expr(f"sequence(0, {bands - 1})"))
            )
            .withColumn(
                "__key__",
                F.expr(
                    f"shiftright(__sig__, __band__ * {width})"
                    f" & {(1 << width) - 1}L"
                ),
            )
            .withColumn("__n__", F.expr(f"sqrt({_dot(out_vec, out_vec)})"))
        )
    v = banded(ensure_min_parallelism(vectors), "neighbor_id", "ve").alias("v")
    q = banded(queries, "query_id", "qe").alias("q")
    scored = (
        q.join(
            v,
            F.expr(
                "q.__band__ = v.__band__ AND q.__key__ = v.__key__ "
                "AND query_id <> neighbor_id"
            ),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"round({_dot('qe', 've')} / (q.__n__ * v.__n__), 6)"
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
    n_probe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k restricted to the query's centroid buckets.

    Corpus vectors are assigned to their single nearest centroid; each
    query probes its ``n_probe`` nearest centroid buckets (raising recall
    at bucket boundaries at the cost of scanning P buckets instead of 1).
    Each corpus vector lives in exactly one bucket, so probing P distinct
    buckets never duplicates a candidate.  With ``n_probe = |centroids|``
    the probe covers the whole corpus and the result equals ``cosine_topk``
    exactly — the recall tests pin this.  Output columns match
    ``cosine_topk`` so the two are drop-in comparable for recall checks.
    """
    va = assign_centroids(vectors, centroids, id_col, vec_col, cent_id_col)
    qa = assign_centroids(queries, centroids, id_col, vec_col, cent_id_col,
                          n_probe=n_probe)
    # norms once per row before the bucket join (see assign_centroids)
    v = va.select(
        F.col(cent_id_col).alias("__vc__"),
        F.col(id_col).alias("neighbor_id"),
        F.col("ve"),
    ).withColumn("__vn__", F.expr(f"sqrt({_dot('ve', 've')})"))
    q = qa.select(
        F.col(cent_id_col).alias("__qc__"),
        F.col(id_col).alias("query_id"),
        F.col("ve").alias("qe"),
    ).withColumn("__qn__", F.expr(f"sqrt({_dot('qe', 'qe')})"))
    scored = (
        q.join(v, F.expr("__qc__ = __vc__ AND query_id <> neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"round({_dot('qe', 've')} / (__qn__ * __vn__), 6)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization, exploded to (id, pos, q,
    scale) rows: scale = max(|x|)/127, q = floor(x/scale + 0.5) — the
    storage/bandwidth-reduction step before shipping embeddings into an
    ANN index (4x smaller than float32; dot products reconstruct within
    scale/2 per coordinate).

    ``floor(x + 0.5)`` instead of ``round()`` because engines disagree on
    half-even vs half-away rounding; floor is identical everywhere.
    Zero vectors quantize to NULL q (scale 0 -> guarded by nullif).  Pure
    per-row expressions, zero shuffle; 1-based positions match SQL array
    indexing.
    """
    e = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    scale = f"(array_max(transform({e}, x -> abs(x))) / 127.0d)"
    return (
        df.select(
            F.col(id_col),
            F.expr(scale).alias("__scale__"),
            F.posexplode(F.expr(e)).alias("__p__", "__x__"),
        )
        .select(
            id_col,
            (F.col("__p__") + 1).cast("int").alias("pos"),
            F.expr(
                "CAST(floor(__x__ / nullif(__scale__, 0.0d) + 0.5d) AS INT)"
            ).alias("q"),
            F.expr("round(__scale__, 6)").alias("scale"),
        )
    )


def kmeans_refine(
    vectors: DataFrame,
    centroids: DataFrame,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """Lloyd's k-means refinement of an initial centroid set — the
    centroid-training step the IVF index needs before ``ivf_topk``.

    Each iteration: assign every vector to its nearest centroid (the
    broadcast + ``min_by`` partial-agg path of ``assign_centroids`` — no
    window, no N*K sort), then recompute centroids as per-cluster
    coordinate means.  Means shuffle (centroid, pos, partial-sum) triples
    with map-side combine — the corpus vectors themselves move at most
    once per iteration (into their cluster's partial aggregate).  Mean
    coordinates round to 6 decimals so refined centroids (and every
    downstream assignment) are bit-reproducible across engines despite
    float accumulation order.  Clusters that lose all members drop out
    (standard Lloyd behavior).

    Returns the final (``id_col``, ``cent_id_col``) assignment against
    the refined centroids.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    cur = centroids
    for _ in range(iters):
        a = assign_centroids(vectors, cur, id_col=id_col, vec_col=vec_col,
                             cent_id_col=cent_id_col)
        means = (
            a.select(cent_id_col, F.posexplode("ve").alias("pos", "x"))
            .groupBy(cent_id_col, "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cur = means.groupBy(cent_id_col).agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
            ).alias(vec_col)
        )
    final = assign_centroids(vectors, cur, id_col=id_col, vec_col=vec_col,
                             cent_id_col=cent_id_col)
    return final.select(id_col, cent_id_col)


def knn_classify(
    neighbors: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Majority-vote k-NN classification over ANY top-k neighbor frame —
    compose with ``cosine_topk`` (exact), ``lsh_topk`` or ``ivf_topk``
    (the scale paths): the label-propagation step that turns a neighbor
    index into an auto-labeler for unlabeled corpus slices.

    ``neighbors``: (query_id, neighbor_id, ...) from a top-k operator.
    ``labels``: (``id_col``, ``label_col``) for the corpus side.
    Output: (query_id, pred_label, votes, confidence) — the label with
    the most neighbor votes (ties -> smallest label), confidence =
    votes / neighbors-with-labels.

    Scale shape: one equi-join of the (tiny, k-per-query) neighbor frame
    against the label frame on the neighbor id, then two partial
    aggregations (per-(query,label) count, per-query argmax via
    ``max_by`` on the (count, label) pair) — no window, nothing wider
    than (id, label, count) shuffles.  Neighbors without a label row
    drop out of the vote (and the denominator).
    """
    lab = labels.select(
        F.col(id_col).alias("__nid__"), F.col(label_col).alias("__lab__")
    )
    votes = (
        neighbors.select("query_id", "neighbor_id")
        .join(lab, F.col("neighbor_id") == F.col("__nid__"))
        .groupBy("query_id", "__lab__")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    # argmax by (votes desc, label asc): min_by on (-votes, label) — a
    # partial aggregation, where a row_number window would sort every vote
    return (
        votes.groupBy("query_id")
        .agg(
            F.expr("min_by(struct(__lab__, __c__), struct(-__c__, __lab__))")
            .alias("__b__"),
            F.sum("__c__").alias("__n__"),
        )
        .select(
            "query_id",
            F.col("__b__.__lab__").alias("pred_label"),
            F.col("__b__.__c__").alias("votes"),
            F.expr("round(CAST(__b__.__c__ AS DOUBLE) / __n__, 6)")
            .alias("confidence"),
        )
    )


def reconstruct_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding",
) -> DataFrame:
    """Simulate the int8 storage round-trip IN-PLAN: re-quantize each
    vector with ``quantize_embeddings``' exact rule (scale = max|x|/127,
    q = floor(x/scale + 0.5)) and rebuild x' = q * scale — the vectors an
    ANN index actually searches after int8 compression.  Compose with any
    top-k operator to measure quantization's recall cost before shipping
    the 4x-smaller index (see the recall test pinning int8 recall vs the
    float baseline).

    Per-row expressions only (scale hoisted, one pass) — zero shuffle.
    Zero vectors (scale 0) cannot be reconstructed and are dropped, as
    they carry no direction for cosine search anyway.
    """
    e = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return (
        df.select(
            F.col(id_col),
            F.expr(e).alias("__e__"),
        )
        .withColumn(
            "__s__",
            F.expr("array_max(transform(__e__, x -> abs(x))) / 127.0d"),
        )
        .filter(F.col("__s__") > 0)
        .select(
            id_col,
            F.expr(
                "transform(__e__, x -> floor(x / __s__ + 0.5d) * __s__)"
            ).alias(out_col),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the compressed-domain ANN path: vectors
# become M small centroid codes, queries scan codes via a per-query
# lookup table instead of touching raw vectors.
# ---------------------------------------------------------------------------

# squared L2 via three dot products — the SAME index-order fold both Spark
# and the DuckDB oracle use, so distances are bit-identical across engines
def _l2sq(aa: str, ab: str, bb: str) -> str:
    return f"round({aa} - 2 * ({ab}) + {bb}, 6)"


def _subspaces(df: DataFrame, id_col: str, vec_col: str, m: int, d: int):
    """(id, m_idx, sv): one narrow row per (vector, subspace) from ONE scan
    (explode of an M-struct array, not M unioned projections).  Small
    inputs round-robin to the task slots first — a single small parquet
    file otherwise pins every downstream subspace scoring/fold of the PQ
    family to one core."""
    df = ensure_min_parallelism(df)
    parts = F.array(*[
        F.struct(
            F.lit(s).cast("int").alias("m_idx"),
            F.slice(F.col("__e__"), s * d + 1, d).alias("sv"),
        )
        for s in range(m)
    ])
    return (
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__e__")
        )
        .select(id_col, F.explode(parts).alias("__p__"))
        .select(
            id_col,
            F.col("__p__.m_idx").alias("m_idx"),
            F.col("__p__.sv").alias("sv"),
        )
        .withColumn("__svn__", F.expr(f"{_dot('sv', 'sv')}"))
    )


def pq_train_codebooks(
    vectors: DataFrame,
    init_centroids: DataFrame,
    *,
    dim: int,
    m: int = 4,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """Train per-subspace PQ codebooks: split ``dim`` into ``m`` equal
    subspaces, seed each subspace's codebook from ``init_centroids``
    (deterministic init — e.g. a modulo-selected corpus sample), then run
    ``refine_iters`` Lloyd iterations INDEPENDENTLY per subspace (the
    defining PQ property: an M-fold product of small quantizers).

    Output: (m_idx, ``cent_id_col``, ce) — M x K rows, broadcast-sized by
    construction.  Mean coordinates round to 6 decimals (the
    ``kmeans_refine`` determinism recipe), assignments argmin on rounded
    squared-L2 with centroid-id tiebreak — every step engine-reproducible.

    Scale shape: training touches the corpus once per iteration as
    (id, subspace, subvector) narrow rows; per-subspace means are a
    map-side-combined aggregation on (subspace, centroid, position).  In
    practice train on a sample — the codebook is a model, not a scan.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if refine_iters < 0:
        raise ValueError(f"refine_iters must be >= 0, got {refine_iters}")
    d = dim // m
    cents = (
        _subspaces(init_centroids, cent_id_col, vec_col, m, d)
        .select(cent_id_col, "m_idx", F.col("sv").alias("ce"), "__svn__")
    )
    subv = _subspaces(vectors, id_col, vec_col, m, d)
    for _ in range(refine_iters):
        # sv is functionally dependent on the (id, subspace) group key,
        # so it rides the assignment's min_by instead of a corpus-sized
        # join back onto subv — one exchange and one join less per
        # Lloyd iteration (identical rows: every candidate row of the
        # group carries the same sv)
        assigned = _pq_assign(subv, cents, id_col, cent_id_col,
                              carry_sv=True)
        means = (
            assigned
            .select(cent_id_col, "m_idx", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m_idx", cent_id_col, "pos")
            .agg(F.round(F.avg("x"), 6).alias("mv"))
        )
        cents = (
            means.groupBy("m_idx", cent_id_col)
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mv))),"
                    " s -> s.mv)"
                ).alias("ce")
            )
            .withColumn("__svn__", F.expr(f"{_dot('ce', 'ce')}"))
        )
    return cents.select("m_idx", cent_id_col, "ce", "__svn__")


def _pq_assign(subv: DataFrame, cents: DataFrame, id_col: str,
               cent_id_col: str, carry_sv: bool = False) -> DataFrame:
    """Nearest codebook centroid per (vector, subspace): broadcast join on
    the subspace index + min_by partial aggregation (no window, no sort).
    ``carry_sv=True`` additionally emits the group's subvector (constant
    within the group) so callers need no join back onto ``subv``."""
    d2 = _l2sq("__svn__", _dot("sv", "ce"), "__cn2__")
    scored = subv.join(
        F.broadcast(
            cents.select(
                "m_idx", cent_id_col, "ce",
                F.col("__svn__").alias("__cn2__"),
            )
        ),
        "m_idx",
    ).select(
        id_col, "m_idx", cent_id_col, "sv", F.expr(d2).alias("__d2__")
    )
    picked = (
        f"min_by(struct(`{cent_id_col}`{', sv' if carry_sv else ''}), "
        f"struct(__d2__, `{cent_id_col}`))"
    )
    out = scored.groupBy(id_col, "m_idx").agg(
        F.expr(picked).alias("__best__")
    ).select(
        id_col, "m_idx",
        F.col(f"__best__.{cent_id_col}").alias(cent_id_col),
        *([F.col("__best__.sv").alias("sv")] if carry_sv else []),
    )
    return out


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    *,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """Encode every vector as M centroid codes: (id, m_idx, code).  This
    is the INDEX-BUILD step — O(N * M * K) scoring against a broadcast
    codebook, run once; searches then touch only the M-codes-per-vector
    frame (M small ints instead of ``dim`` doubles — the 32-64x
    compression that makes a 100 TB corpus scannable in memory)."""
    d = dim // m
    subv = _subspaces(vectors, id_col, vec_col, m, d)
    return _pq_assign(subv, codebooks, id_col, cent_id_col).withColumnRenamed(
        cent_id_col, "code"
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    dim: int,
    m: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query build the M x K lookup
    table of exact subspace distances to every codebook centroid, then
    score each corpus vector as the SUM of its codes' table entries —
    never touching raw corpus vectors.

    Output: (query_id, neighbor_id, approx_dist) — ``k`` rows per query,
    ranked by approximate distance (ties -> neighbor id), self-matches
    excluded.  Per-entry distances round to 6 decimals and SUM as exact
    DECIMAL, so rankings are bit-reproducible across engines.

    Scale shape: the LUT is |Q| x M x K rows — broadcast-sized; scoring
    is one equi-join of the codes frame against the broadcast LUT on
    (subspace, code) followed by a (query, vector) sum and a top-k
    ``min_by``-style aggregation per query.  Cost is O(N * M) per query
    over 1-byte-scale codes — the PQ trade.  For sub-linear scans compose
    with IVF: bucket the codes frame by a coarse quantizer and score only
    the probed buckets (exactly how a billion-scale FAISS index works).
    """
    d = dim // m
    lut = (
        _subspaces(queries, id_col, vec_col, m, d)
        .withColumnRenamed(id_col, "query_id")
        .join(
            F.broadcast(
                codebooks.select(
                    "m_idx", F.col(cent_id_col).alias("code"), "ce",
                    F.col("__svn__").alias("__cn2__"),
                )
            ),
            "m_idx",
        )
        .select(
            "query_id", "m_idx", "code",
            F.expr(
                _l2sq("__svn__", _dot("sv", "ce"), "__cn2__")
            ).cast("decimal(18,6)").alias("__d2__"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["m_idx", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("__d2__").alias("__dist__"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__dist__").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("__dist__").cast("double").alias("approx_dist"),
        )
    )


def pq_rerank_topk(
    codes: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    dim: int,
    m: int = 4,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """Two-stage PQ search — the production billion-scale shape: the ADC
    scan proposes ``rerank`` candidates per query from compressed codes
    (never touching raw vectors), then ONLY those Q x rerank candidates
    are re-scored with exact squared-L2 against the raw corpus and the
    true top ``k`` kept.  Recall approaches exact search while the raw
    vector reads drop from O(N) to O(rerank) per query.

    Output: (query_id, neighbor_id, dist, rn) — exact distances, rank by
    (dist, neighbor_id).

    Scale shape: stage 1 is :func:`pq_topk` (broadcast LUT + codes scan);
    stage 2 joins the candidate list (tiny) against the corpus on the
    vector id — a semi-join-shaped probe that reads ``rerank`` vectors
    per query, then a per-query window over Q x rerank rows.
    """
    cand = pq_topk(
        codes, queries, codebooks, dim=dim, m=m, k=rerank,
        id_col=id_col, vec_col=vec_col, cent_id_col=cent_id_col,
    ).select("query_id", "neighbor_id")
    # the exact distance uses the SAME three-dot-product formulation as the
    # ADC stage (norms folded once per side), so an auditing engine without
    # an elementwise zip fold reproduces the exact bits
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ve"),
    ).withColumn("__vn2__", F.expr(_dot("ve", "ve")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    ).withColumn("__qn2__", F.expr(_dot("qe", "qe")))
    exact = (
        cand.join(v, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.expr(_l2sq("__qn2__", _dot("qe", "ve"), "__vn2__"))
            .alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def ivfpq_topk(
    codes: DataFrame,
    coarse_assign: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    coarse_books: DataFrame,
    *,
    dim: int,
    m: int = 4,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF-PQ: coarse inverted-file pruning over the PQ code index — the
    sub-linear composition behind billion-scale FAISS deployments.  Each
    query probes its ``nprobe`` nearest coarse buckets and ADC-scores
    ONLY the codes in those buckets: scan cost drops from O(N) to
    O(N * nprobe / K_coarse) per query.

    ``coarse_assign`` is (id, bucket) — the m=1 PQ encoding against
    ``coarse_books`` (a coarse quantizer IS a product quantizer with one
    subspace, so the whole path reuses :func:`pq_encode`).  This variant
    quantizes raw vectors, not residuals (classic IVFPQ refines codes on
    x - coarse_centroid; the residual step changes recall, not the plan
    shape, and is omitted to keep every distance auditable by a plain
    SQL engine).

    Scale shape: bucket probing is a broadcast join of the (query,
    bucket) list (Q x nprobe rows) against the bucket-keyed codes — at
    scale, partition the codes frame BY bucket so probing prunes
    partitions instead of filtering a scan; the ADC sum and top-k are
    unchanged from :func:`pq_topk`.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    d = dim // m
    # nprobe nearest coarse buckets per query: Q x K_coarse scored rows,
    # ranked by the same rounded-l2/tiebreak rule as every assignment here
    qsub = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qe"),
        )
        .withColumn("__qn2__", F.expr(_dot("qe", "qe")))
    )
    cb = coarse_books.select(
        F.col(cent_id_col).alias("bucket"), "ce",
        F.col("__svn__").alias("__cn2__"),
    )
    probed = (
        qsub.crossJoin(F.broadcast(cb))
        .select(
            "query_id", "bucket",
            F.expr(_l2sq("__qn2__", _dot("qe", "ce"), "__cn2__"))
            .alias("__d2__"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__d2__").asc(), F.col("bucket").asc()
    )
    q_buckets = (
        probed.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "bucket")
    )
    # candidates: codes of vectors living in a probed bucket.
    # coarse_assign must be (id, bucket) — adapt a pq_encode(m=1) frame
    # with .select(id_col, F.col("code").alias("bucket")) at the call site
    cand_codes = codes.join(coarse_assign, id_col).join(
        F.broadcast(q_buckets), "bucket"
    )
    # ADC over candidates only (LUT as in pq_topk)
    lut = (
        _subspaces(queries, id_col, vec_col, m, d)
        .withColumnRenamed(id_col, "query_id")
        .join(
            F.broadcast(
                codebooks.select(
                    "m_idx", F.col(cent_id_col).alias("code"), "ce",
                    F.col("__svn__").alias("__cn2__"),
                )
            ),
            "m_idx",
        )
        .select(
            "query_id", "m_idx", "code",
            F.expr(
                _l2sq("__svn__", _dot("sv", "ce"), "__cn2__")
            ).cast("decimal(18,6)").alias("__d2__"),
        )
    )
    scored = (
        cand_codes.join(F.broadcast(lut), ["query_id", "m_idx", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("__d2__").alias("__dist__"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # vectors missing a LUT row for some subspace would sum fewer than
        # m entries; every code exists in the codebook by construction, so
        # the m-count guard is structural, not data-dependent
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__dist__").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("__dist__").cast("double").alias("approx_dist"),
        )
    )


def truncation_recall(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall audit for embedding truncation (the Matryoshka/MRL
    deployment question, Kusupati et al. 2022, public method): run
    exact cosine top-k over the FIRST ``dims`` components and over the
    full vectors, and report per query how much of the true top-k the
    truncated index keeps.  Ship the truncation only if this says so —
    MRL-trained embeddings concentrate signal in the prefix and score
    high here; embeddings that don't (this repo's synthetic vectors
    measure ~0.36 at half-width) lose most of their neighborhood.

    Output per query: (query_id, n_overlap, recall_at_k) —
    ``recall_at_k = round(n_overlap / k, 6)``, a ratio of exact counts.

    Scale shape: two declared brute-force baselines (the
    similarity_cosine_topk pattern — queries broadcast over the corpus;
    swap in the IVF/PQ rows' pruning for production corpora) whose
    rank lists join on (query, neighbor) — the audit itself is
    rank-list-sized.  Truncation happens BEFORE the pairing, so the
    truncated pass reads dims/d of the vector bytes — the cost saving
    being audited is visible in the probe itself.
    """
    if dims < 1:
        raise ValueError("dims must be >= 1")
    tv = vectors.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )
    tq = queries.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )
    full_top = cosine_topk(vectors, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    tr_top = cosine_topk(tv, tq, k, id_col, vec_col).select(
        F.col("query_id").alias("t_query"),
        F.col("neighbor_id").alias("t_neighbor"),
    )
    return (
        full_top.join(
            tr_top,
            (F.col("query_id") == F.col("t_query"))
            & (F.col("neighbor_id") == F.col("t_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("t_neighbor").cast("bigint").alias("n_overlap"),
            F.round(
                F.count("t_neighbor").cast("double") / F.lit(k), 6
            ).alias("recall_at_k"),
        )
    )


def mutual_margin_pairs(
    a: DataFrame,
    b: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    candidates_distinct: bool = False,
) -> DataFrame:
    """Margin-based mutual nearest-neighbor matching between two vector
    sets — the standard bitext-mining / cross-corpus alignment scorer
    (Artetxe & Schwenk 2019, "margin-based parallel corpus mining",
    public method): a pair (x, y) is emitted when y is x's single
    nearest neighbor in B AND x is y's single nearest in A AND their
    cosine stands out against both local neighborhoods:

        margin(x, y) = cos(x, y) / ((avg_k cos(x, NN_k(x))
                                     + avg_k cos(y, NN_k(y))) / 2)

    The ratio-margin kills hubs: a vector cosine-close to EVERYTHING
    (a hub in the embedding space) has a high average neighborhood
    cosine, so none of its matches clears a threshold near 1.  Mutual
    top-1 alone (no margin) is the classic high-precision/low-recall
    baseline; the margin recovers precision at useful recall.

    Output: (a_id, b_id, cosine, margin) — one row per surviving pair,
    cosine at 6 dp, margin floor-quantized at 6 dp (engine-portable).

    Scale shape: by default the pair scores are the declared
    brute-force cross product (the similarity_cosine_topk baseline
    pattern — exactness first, and Catalyst broadcasts the smaller
    side).  For production corpora pass ``candidates`` — an
    (a_id, b_id) frame from any pruner in this module (IVF cells, LSH
    bands, PQ shortlists) — and only those pairs are scored: the
    margin statistics then read over the candidate neighborhoods,
    exactly how the public mining pipelines run it at corpus scale.
    Everything downstream of scoring is pair-sized and SINGLE-PASS
    (r17 shape): each side's rank AND its top-k sum/count ride the
    same window partitioning — a conditional windowed sum over the
    rows the row_number already marked — so the whole scorer is two
    exchanges of the pair list (a_id, then b_id) with no aggregation
    subtrees and no joins back onto the mutual-top-1 rows.  Top-k
    averages are combined from EXACT decimal sums and integer counts
    in deterministic double arithmetic, so the report is bit-identical
    across engines and partitionings (a windowed decimal sum is the
    same exact Sum aggregate the old groupBy computed).

    ``candidates_distinct=True`` skips the defensive candidate dedup
    (a duplicate (a_id, b_id) row would occupy ranks 1 AND 2 in both
    windows and double-count in the top-k sums): every pruner in this
    module already emits distinct pairs, and the dedup is a full
    shuffle of the pair list.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    av = a.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).cast("array<double>").alias("ae"),
    ).withColumn("__an__", F.expr(f"sqrt({_dot('ae', 'ae')})"))
    bv = ensure_min_parallelism(b).select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).cast("array<double>").alias("be"),
    ).withColumn("__bn__", F.expr(f"sqrt({_dot('be', 'be')})"))
    if candidates is not None:
        cand = candidates.select("a_id", "b_id")
        if not candidates_distinct:
            cand = cand.distinct()
        paired = cand.join(av, "a_id").join(bv, "b_id")
    else:
        paired = av.crossJoin(bv)
    scored = paired.select(
        "a_id",
        "b_id",
        F.expr(f"round({_dot('ae', 'be')} / (__an__ * __bn__), 6)")
        .cast("decimal(18,6)")
        .alias("cos"),
    )
    wa = Window.partitionBy("a_id").orderBy(
        F.col("cos").desc(), F.col("b_id").asc()
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.col("cos").desc(), F.col("a_id").asc()
    )
    # the flat (whole-partition) stats windows reuse wa/wb's exchange +
    # sort — Catalyst plans them as a second WindowExec on the already
    # partitioned-and-sorted child, no new exchange
    fa = Window.partitionBy("a_id")
    fb = Window.partitionBy("b_id")
    ranked = (
        scored.withColumn("ra", F.row_number().over(wa))
        .withColumn(
            "__sa__", F.sum(F.when(F.col("ra") <= k, F.col("cos"))).over(fa)
        )
        .withColumn(
            "__ca__",
            F.sum(F.when(F.col("ra") <= k, F.lit(1)).otherwise(0)).over(fa),
        )
        .withColumn("rb", F.row_number().over(wb))
        .withColumn(
            "__sb__", F.sum(F.when(F.col("rb") <= k, F.col("cos"))).over(fb)
        )
        .withColumn(
            "__cb__",
            F.sum(F.when(F.col("rb") <= k, F.lit(1)).otherwise(0)).over(fb),
        )
    )
    margin = F.floor(
        (
            F.col("cos").cast("double")
            / (
                (
                    F.col("__sa__").cast("double") / F.col("__ca__")
                    + F.col("__sb__").cast("double") / F.col("__cb__")
                )
                * F.lit(0.5)
            )
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return (
        ranked.filter((F.col("ra") == 1) & (F.col("rb") == 1))
        .withColumn("margin", margin)
        .filter(F.col("margin") >= F.lit(float(margin_threshold)))
        .select(
            "a_id",
            "b_id",
            F.col("cos").cast("double").alias("cosine"),
            "margin",
        )
    )


def lsh_planes(seed: str, bits: int, dim: int) -> list[list[float]]:
    """Deterministic md5-derived pseudo-random hyperplanes, rounded to
    6 decimals — the SAME literals can therefore be embedded in any
    engine's SQL, so the bucketing is bit-reproducible.  Plane ``p`` is
    a pure function of ``(seed, p)``: growing ``bits`` EXTENDS a
    narrower signature's plane list (the first 16 planes of a 32-bit
    signature are the 16-bit signature), so auto-width growth never
    changes the planes a fixed-width deployment already pinned."""
    import hashlib

    return [
        [
            round(
                int(
                    hashlib.md5(
                        f"{seed}|{p}|{i}".encode()
                    ).hexdigest()[:8],
                    16,
                )
                / 2**32
                - 0.5,
                6,
            )
            for i in range(dim)
        ]
        for p in range(bits)
    ]


def lsh_auto_width(
    n_rows: int,
    floor_width: int = 4,
    target_bucket_rows: int = 1000,
    max_width: int = 15,
) -> int:
    """Per-band key width for a corpus of ``n_rows`` vectors — the
    measured LSH tuning law (SCALE.md 17th probe): expected rows per
    band bucket must stay bounded or candidates approach all-pairs, so
    the signature grows ~log(corpus):

        width = clamp(ceil(log2(n / target_bucket_rows)), floor, max)

    Anchors from the probe: 2k vectors -> width 4 (the fixed 16-bit /
    4-band registry planes, which saturate at 250k: 16 buckets/band for
    250k rows read 23.7M of 62.5M possible candidate pairs); 250k ->
    width 8 (256 buckets/band, re-measured at 1.94M candidates, 35.2 s
    vs 139 s).  ``max_width`` keeps ``bands * width`` inside the 63-bit
    signature fold."""
    import math

    if n_rows <= 0:
        return floor_width
    w = max(
        floor_width,
        math.ceil(math.log2(max(n_rows / target_bucket_rows, 1.0))),
    )
    return min(w, max_width)


def lsh_candidate_pairs(
    a: DataFrame,
    b: DataFrame,
    planes: list[list[float]] | None = None,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center: float = 0.0,
    seed: str = "lsh1",
    dim: int | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """Cross-set LSH candidate pairs: (a_id, b_id) for every pair whose
    random-hyperplane signatures agree EXACTLY on at least one band
    slice — the candidate generator that feeds pair-scoped scorers
    (:func:`mutual_margin_pairs`' ``candidates`` input, a rerank stage,
    an exact verify) without ever forming the cross product.  Same
    signature construction as :func:`lsh_topk` (dots rounded to 6 dp
    before the sign, so the bucketing is bit-reproducible by any engine
    holding the same plane literals); candidates collide per band and
    are DEDUPLICATED here, so downstream scoring sees each pair once.

    Scale shape: signatures are per-row folds over broadcast-size plane
    literals; the only shuffle is the (band, key) equi-join on int
    keys; output is candidate-pair-sized.

    AUTO WIDTH: pass ``planes=None`` (with ``dim`` set) and the
    signature width defaults to the measured log-corpus tuning law
    (:func:`lsh_auto_width` over ``n_hint``): ``bands * width`` planes
    from :func:`lsh_planes` with ``seed``.  ALWAYS pass ``n_hint`` when
    the corpus size is known (table stats, a prior count, a memo) — the
    ``a.count() + b.count()`` fallback costs two full-scan jobs per
    invocation before any candidate work, which at cluster scale is two
    extra passes over the corpus.  The width law only needs order of
    magnitude, so a stale or approximate hint is fine.  Because plane ``p`` depends only on ``(seed, p)``, the
    auto path at small corpora reproduces the fixed 16-bit/4-band
    literals EXACTLY, and at large corpora extends them — no manual
    re-tuning as the corpus grows.
    """
    if planes is None:
        if dim is None:
            raise ValueError("planes=None needs dim to generate planes")
        n = n_hint if n_hint is not None else a.count() + b.count()
        planes = lsh_planes(seed, bands * lsh_auto_width(n), dim)
    bits = len(planes)
    if bits == 0 or bits > 63:
        raise ValueError(f"need 1..63 planes, got {bits}")
    if bits % bands:
        raise ValueError(f"bits={bits} must divide evenly into bands={bands}")
    width = bits // bands

    def sig_col(e: str) -> str:
        terms = []
        for p, plane in enumerate(planes):
            lits = ", ".join(f"{x:.6f}D" for x in plane)
            dot = DOT.format(a=e, b=f"array({lits})")
            bias = round(-center * sum(plane), 6)
            terms.append(
                f"CASE WHEN round({dot} + {bias:.6f}D, 6) >= 0 "
                f"THEN {1 << p}L ELSE 0L END"
            )
        return " + ".join(terms)

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).cast("array<double>").alias("__e__"),
            )
            .withColumn("__sig__", F.expr(sig_col("__e__")))
            .withColumn(
                "__band__", F.explode(F.expr(f"sequence(0, {bands - 1})"))
            )
            .withColumn(
                "__key__",
                F.expr(
                    f"shiftright(__sig__, __band__ * {width})"
                    f" & {(1 << width) - 1}L"
                ),
            )
            .select(out_id, "__band__", "__key__")
        )

    av = banded(ensure_min_parallelism(a), "a_id")
    bv = banded(b, "b_id")
    return (
        av.join(bv, ["__band__", "__key__"])
        .select("a_id", "b_id")
        .distinct()
    )
