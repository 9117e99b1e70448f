"""BM25 lexical retrieval — the sparse counterpart of the embedding ANN
family (`operators/similarity.py`).

A training-data pipeline needs lexical search next to vector search:
near-dup triage, contamination spot-checks, and eval-set mining all ask
"which documents contain these terms" with a relevance order.  BM25 is
the standard scorer; here it is expressed as pure DataFrame ops:

  bm25_index   ONE corpus-sized explode+aggregate producing the WHOLE
               index artifact — postings (term, doc_id, tf), document
               lengths, the per-term document-frequency table, and the
               two corpus scalars (doc count, average length).  All
               corpus statistics live here, computed once; postings
               shuffle on the term key only (short strings), never the
               text.  At 100 TB the artifact persists to storage and is
               amortized over every query batch.
  bm25_topk    score a bag of query terms against a prebuilt index:
               broadcast the (tiny) query frame onto the postings, join
               the vocab-bounded df table by broadcast, one partial
               aggregation per (query, doc), deterministic top-k per
               query (score desc, doc_id asc) via window ranking.
               Scoring touches NO corpus-wide aggregation — every
               per-call cost is bounded by the query terms' postings.
  lm_qlik_topk Dirichlet-smoothed query likelihood over the SAME index
               (rank-equivalent split form) — the classic second
               lexical model; identical plan shape to bm25_topk.
  rrf_fuse     reciprocal-rank fusion of any rankings sharing
               (query_id, doc_id, rank) — the scale-free hybrid
               combiner; rank-list-sized, flat at any corpus scale.

Numerics: each per-(term, doc) contribution rounds to 6 decimals and
accumulates as DECIMAL(18,6) — the repo-wide convention — so scores are
bit-identical in any engine regardless of add order.  IDF uses the
Robertson-Sparck-Jones form ln(1 + (N - df + 0.5) / (df + 0.5)), which
is positive for every df, so scores never cancel to negative zero.

Scale posture: the index build is one explode pass (linear, the floor);
the df and length tables are vocab- and doc-count-sized; query scoring
touches only the postings of the query's terms — a broadcast semi-join
prunes the posting scan before any shuffle, and df arrives by broadcast
from the index (never recomputed).  The one shuffle-side join left in
scoring is hits ⨝ doclen on doc id: doclen is doc-count-sized, so at
cluster scale it intentionally shuffles (broadcasting a billion-row
length table would OOM executors); the hits side is already pruned to
the query terms' postings, so the exchange is the smaller of the two.
Top-k per query executes as a bounded window over (query, candidate)
rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import release_checkpoint


@dataclass(frozen=True)
class BM25Index:
    """The persistable retrieval artifact: everything scoring needs.

    postings: (term, id, tf); doclen: (id, dl); df: (term, df, cf) —
    the vocab-bounded per-term table (document frequency + collection
    frequency, serving both the BM25 idf and the query-likelihood
    collection model); n_docs / avgdl / total_tokens: the corpus
    scalars.  Callers that score many query batches persist all three
    frames (they ARE the index); nothing in :func:`bm25_topk` or
    :func:`lm_qlik_topk` recomputes a corpus statistic.
    """

    postings: DataFrame
    doclen: DataFrame
    df: DataFrame
    n_docs: int
    avgdl: float
    total_tokens: int = 0
    indexed_docs: int = 0  # doclen rows (docs with >= 1 token)

    def unpersist(self) -> None:
        """Release the materialized frames' storage blocks.

        ``localCheckpoint`` pins its data as RDD blocks that
        ``DataFrame.unpersist`` does NOT release (that path only drops
        cache-manager entries); the blocks are reachable through the
        checkpointed plan's ``LogicalRDD`` and freed there.  A session
        that rotates between corpora (e.g. a bench alternating sf dirs)
        calls this on the evicted index or leaks block-manager memory
        until JVM GC.  No-op per frame when nothing was materialized.
        """
        for frame in (self.postings, self.doclen, self.df):
            release_checkpoint(frame)


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> BM25Index:
    """Build the full BM25 index from ONE explode of the corpus.

    With ``materialize`` (the default, and the deployment shape) the
    postings table is checkpointed as soon as it exists and doclen /
    df / avgdl all derive from THAT artifact — the corpus is tokenized
    exactly once, and the derived tables are doc- and vocab-sized
    aggregations of the persisted postings, never re-scans of the text.
    At 100 TB the checkpoint stands in for writing the index tables to
    storage.  ``materialize=False`` returns fully lazy frames for
    callers embedding the build in a larger plan.

    n_docs and avgdl are the only collects (both scalars; n_docs comes
    from the parquet-metadata count of ``docs`` so empty documents are
    counted too).  df is computed HERE — it is a corpus statistic, so
    it belongs to the index artifact, not to the per-query scoring
    path.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        ).alias("term"),
    )
    postings = toks.groupBy("term", "id").agg(F.count("*").alias("tf"))
    if materialize:
        postings = postings.localCheckpoint()
    doclen = postings.groupBy("id").agg(F.sum("tf").alias("dl"))
    df_tab = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    if materialize:
        doclen = doclen.localCheckpoint()
        df_tab = df_tab.localCheckpoint()
    n_docs = docs.count()
    stats_row = doclen.agg(
        F.sum("dl").alias("tot"), F.count("*").alias("n")
    ).collect()[0]
    tot = int(stats_row["tot"] or 0)
    return BM25Index(
        postings=postings,
        doclen=doclen,
        df=df_tab,
        n_docs=n_docs,
        avgdl=tot / max(int(stats_row["n"]), 1),
        total_tokens=tot,
        indexed_docs=int(stats_row["n"]),
    )


def _query_term_stats(index: BM25Index, qterms: DataFrame) -> DataFrame:
    """``index.df`` pruned to the query's DISTINCT terms — the only rows a
    scoring call may broadcast.

    The per-term table is vocab-sized; broadcasting it whole per call
    would OOM executors on a large-vocab corpus (billion-type vocabs are
    normal at 100 TB).  Pruning first is a broadcast semi-shape join of
    the tiny distinct-term frame ONTO the vocab table — the vocab side
    streams past a broadcast hash join, never shuffles, never broadcasts
    — and the survivor is query-term-sized, safe to broadcast onto the
    postings.
    """
    return index.df.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )


def bm25_topk(
    index: BM25Index,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per query by BM25 over a prebuilt index.

    ``queries``: (query_id, term) — one row per query term; duplicate
    terms in one query weigh that term once per occurrence (bag
    semantics).  Returns (query_id, doc_id, rank, score) with the
    deterministic order (score desc, doc_id asc); ``score`` is a DOUBLE
    rounded to 6 decimals.

    Plan shape: postings pruned to query terms by a broadcast join, df
    joined by broadcast from the index (vocab-bounded — the unmatched
    non-query terms stream past a broadcast hash join for free), doclen
    joined on id (doc-count-sized: intentionally a shuffle-capable join
    at cluster scale, see module docstring).  No corpus-wide aggregation
    runs per scoring call.
    """
    qterms = queries.select("query_id", "term")
    hits = (
        index.postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(_query_term_stats(index, qterms)), "term")
        .join(index.doclen, "id")
    )
    contrib = F.expr(
        f"cast(round(ln(1.0 + ({index.n_docs} - df + 0.5) / (df + 0.5)) * "
        f"(tf * ({k1} + 1.0)) / "
        f"(tf + {k1} * (1.0 - {b} + {b} * dl / {index.avgdl!r})), 6) "
        "as decimal(18,6))"
    )
    scored = (
        hits.select("query_id", F.col("id").alias("doc_id"), contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.round(F.col("s").cast("double"), 6).alias("score"),
        )
    )


def lm_qlik_topk(
    index: BM25Index,
    queries: DataFrame,
    k: int = 10,
    mu: float = 100.0,
) -> DataFrame:
    """Top-k documents per query by Dirichlet-smoothed query likelihood —
    the classic second lexical model next to BM25 (Zhai & Lafferty's
    smoothing), over the SAME index artifact.

    The full QL score sums ln((tf + mu*p_c(t)) / (dl + mu)) over every
    query term t, including terms the document lacks.  Splitting out the
    per-query constant sum ln(mu*p_c(t)) (identical for every document,
    so rank-irrelevant) leaves the rank-equivalent form actually
    computed here over MATCHING documents only:

        score(q, d) = -|q| * ln(dl + mu)
                      + sum_{t in q, tf > 0} ln(1 + tf / (mu * p_c(t)))

    with p_c(t) = cf_t / total_tokens from the index's per-term table.
    Candidates are documents matching >= 1 query term (the standard
    retrieval restriction — a no-hit document has no posting to rank
    by).  |q| counts query term ROWS (bag semantics, like bm25_topk),
    INCLUDING out-of-vocabulary terms: an OOV term has p_c = 0, so its
    only finite effect on the rank-equivalent form is through the
    length penalty — it contributes no per-document term and simply
    deepens -|q| ln(dl + mu) uniformly per document length.

    Numerics: both addends round to 6 decimals and accumulate as
    DECIMAL(18,6) — engine-identical bits; rank tiebreak (score desc,
    doc_id asc).  Plan shape mirrors bm25_topk: postings pruned by the
    broadcast query frame, per-term stats broadcast from the index, one
    aggregation per (query, doc), no corpus-wide work per call.
    """
    qterms = queries.select("query_id", "term")
    nq = qterms.groupBy("query_id").agg(F.count("*").alias("nq"))
    hits = index.postings.join(F.broadcast(qterms), "term").join(
        F.broadcast(_query_term_stats(index, qterms)), "term"
    )
    contrib = F.expr(
        f"cast(round(ln(1.0 + tf / ({mu!r} * cf / {float(index.total_tokens)!r})), 6) "
        "as decimal(18,6))"
    )
    scored = (
        hits.select("query_id", F.col("id").alias("doc_id"), contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("cs"))
        .join(index.doclen.withColumnRenamed("id", "doc_id"), "doc_id")
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.expr(
                    f"cast(round(-nq * ln(dl + {mu!r}), 6) as decimal(18,6))"
                )
                + F.col("cs")
            ).alias("s"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.round(F.col("s").cast("double"), 6).alias("score"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k_const: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of several (query_id, doc_id, rank)
    rankings: score(q, d) = sum over rankings of 1 / (k_const + rank) —
    the standard hybrid-retrieval combiner (Cormack et al.), score-scale
    free so a BM25 ranking fuses with a query-likelihood or
    embedding-cosine ranking without calibration.

    Returns (query_id, doc_id, rank, rrf_score) top-k per query with the
    deterministic (score desc, doc_id asc) tiebreak.  Per-ranking
    contributions round to 6 decimals and accumulate as DECIMAL(18,6).
    The fusion input is rank lists (k rows per query per ranking), so
    this stage is query-count-sized — trivially flat at any corpus
    scale.
    """
    from functools import reduce

    u = reduce(
        DataFrame.unionByName,
        [r.select("query_id", "doc_id", "rank") for r in rankings],
    )
    scored = (
        u.select(
            "query_id",
            "doc_id",
            F.expr(
                f"cast(round(1.0 / ({k_const} + rank), 6) as decimal(18,6))"
            ).alias("c"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.round(F.col("s").cast("double"), 6).alias("rrf_score"),
        )
    )


def bm25_index_merge(
    index: BM25Index,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate: bool = True,
) -> BM25Index:
    """Incrementally extend a BM25 index with an append batch — the
    retrieval analog of the layout family's `zorder_append`: at 100 TB
    nobody re-tokenizes the corpus per arriving batch; they tokenize the
    BATCH, union its postings/doclen alongside the existing artifact,
    and merge the vocab-sized term statistics.

    Requirements: batch doc ids must be NEW (append semantics — an id
    already indexed would double-count df/cf and leave two doclen rows
    per id, corrupting every later score with no error; same contract as
    the upsert stores' append path).  With ``validate`` (the default)
    the contract is ENFORCED: a metadata-sized semi-join of the batch's
    doclen ids against the existing index's — never a corpus scan, the
    batch side is batch-sized and the probe side is the already-
    materialized doc-length table — raises on the first overlap instead
    of silently corrupting.  (Re-sent EMPTY documents have no doclen row
    on either side; they only nudge n_docs, so the guard covers every
    row that can affect a score.)  Cost: one batch tokenization + one
    vocab-sized full-outer merge of the per-term table + two scalar
    updates — the OLD postings are never read, only referenced.  The
    merged index is bit-identical to a full rebuild over old ∪ batch
    (pinned in pytest and by the registry row's full-corpus oracle).
    """
    batch = bm25_index(new_docs, id_col=id_col, text_col=text_col)
    if validate:
        dup = (
            batch.doclen.join(index.doclen.select("id"), "id", "left_semi")
            .limit(1)
            .collect()
        )
        if dup:
            # the batch index is already materialized (localCheckpointed);
            # release its pinned blocks before raising or every failed
            # retry leaks block-manager memory
            batch.unpersist()
            raise ValueError(
                f"bm25_index_merge: doc id {dup[0]['id']} is already "
                "indexed — merge is append-only (re-sending an indexed id "
                "would double-count term statistics); dedupe the batch or "
                "pass validate=False after deduping upstream"
            )
    df_merged = (
        index.df.withColumnsRenamed({"df": "df_a", "cf": "cf_a"})
        .join(
            batch.df.withColumnsRenamed({"df": "df_b", "cf": "cf_b"}),
            "term",
            "full_outer",
        )
        .select(
            "term",
            (
                F.coalesce(F.col("df_a"), F.lit(0))
                + F.coalesce(F.col("df_b"), F.lit(0))
            ).alias("df"),
            (
                F.coalesce(F.col("cf_a"), F.lit(0))
                + F.coalesce(F.col("cf_b"), F.lit(0))
            ).alias("cf"),
        )
        .localCheckpoint()
    )
    n_docs = index.n_docs + batch.n_docs
    tot = index.total_tokens + batch.total_tokens
    indexed = index.indexed_docs + batch.indexed_docs
    return BM25Index(
        postings=index.postings.unionByName(batch.postings),
        doclen=index.doclen.unionByName(batch.doclen),
        df=df_merged,
        n_docs=n_docs,
        avgdl=tot / max(indexed, 1),
        total_tokens=tot,
        indexed_docs=indexed,
    )


def retrieval_eval(
    results: DataFrame,
    judgments: DataFrame,
    k: int = 10,
    rel_threshold: int = 1,
) -> DataFrame:
    """Standard ranking-quality metrics for a retrieval run — the
    evaluation half of the BM25/QL/RRF family: a retriever that is
    never scored against judgments cannot be tuned or regressed.

    ``results``: (query_id, doc_id, rank) — a ranked run (e.g.
    ``bm25_topk`` output); rows with rank > k are ignored.
    ``judgments``: (query_id, doc_id, grade) — graded relevance,
    grade >= 1; a (query, doc) absent from judgments is unjudged
    (grade 0).  Binary metrics count docs with grade >= rel_threshold
    as relevant.

    Output, one row per query_id in ``results``:
      n_rel        judged docs with grade >= rel_threshold
      hits_k       relevant docs retrieved in the top k
      precision_k  hits_k / k
      recall_k     hits_k / n_rel                     (NULL if n_rel = 0)
      rr_k         1 / rank of the first relevant hit (0.0 if none)
      ndcg_k       DCG over the run's top k / ideal DCG from the
                   judgments' best k grades, with the standard gain
                   (2^grade - 1) / log2(rank + 1)     (NULL if IDCG = 0)

    Determinism: every per-rank DCG term is rounded to 6 dp and
    quantized to DECIMAL before summing (sum order cannot change a
    bit); the final ratios are ratios of exact quantities rounded to
    6 dp — the repo's float-parity contract.

    Scale shape: the run is queries x k rows and judgments are
    query-local — the (query_id, doc_id) equi-join and both window
    passes shuffle on the query key only; no corpus-sized input is
    touched.  At 100 TB the judged set is still evaluation-sized; the
    expensive side (producing ``results``) already paid its cost.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    run = results.filter(F.col("rank") <= k).select(
        "query_id", "doc_id", "rank"
    )
    judged = judgments.select("query_id", "doc_id", "grade")
    gain = F.coalesce(F.col("grade"), F.lit(0))
    dcg_term = F.round(
        (F.pow(F.lit(2.0), gain.cast("double")) - F.lit(1.0))
        / F.log2(F.col("rank").cast("double") + F.lit(1.0)),
        6,
    ).cast("decimal(18,6)")
    scored = run.join(judged, ["query_id", "doc_id"], "left")
    rel = gain >= F.lit(rel_threshold)
    per_q = scored.groupBy("query_id").agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("hits_k"),
        F.min(F.when(rel, F.col("rank"))).alias("__first_rel__"),
        F.sum(dcg_term).alias("__dcg__"),
    )
    wj = Window.partitionBy("query_id").orderBy(
        F.col("grade").desc(), F.col("doc_id").asc()
    )
    ideal_term = F.round(
        (F.pow(F.lit(2.0), F.col("grade").cast("double")) - F.lit(1.0))
        / F.log2(F.col("__irank__").cast("double") + F.lit(1.0)),
        6,
    ).cast("decimal(18,6)")
    ideal = (
        judged.withColumn("__irank__", F.row_number().over(wj))
        .filter(F.col("__irank__") <= k)
        .groupBy("query_id")
        .agg(F.sum(ideal_term).alias("__idcg__"))
    )
    n_rel = (
        judged.filter(F.col("grade") >= rel_threshold)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    return (
        per_q.join(ideal, "query_id", "left")
        .join(n_rel, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint")
            .alias("n_rel"),
            F.col("hits_k").cast("bigint").alias("hits_k"),
            F.round(F.col("hits_k").cast("double") / F.lit(k), 6)
            .alias("precision_k"),
            F.when(
                F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                F.round(
                    F.col("hits_k").cast("double") / F.col("n_rel"), 6
                ),
            ).alias("recall_k"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("__first_rel__"), 6),
                F.lit(0.0),
            ).alias("rr_k"),
            F.when(
                F.coalesce(F.col("__idcg__"), F.lit(0).cast("decimal(18,6)"))
                > 0,
                F.round(
                    F.col("__dcg__").cast("double")
                    / F.col("__idcg__").cast("double"),
                    6,
                ),
            ).alias("ndcg_k"),
        )
    )


def rank_agreement(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Per-query agreement between two ranked runs — the retriever
    A/B diagnostic next to ``retrieval_eval``: before swapping BM25 for
    a hybrid (or an index rebuild), measure how much the rankings
    actually moved.

    Both runs: (query_id, doc_id, rank); rows with rank > k ignored.
    Output per query (any query present in either run):
      n_common     documents in both top-k sets
      jaccard_k    |A ∩ B| / |A ∪ B| of the retrieved sets
      kendall_tau  Kendall's tau over the COMMON documents — sign
                   agreement of all rank pairs; NULL when fewer than
                   two common documents.  Ranks are unique within a
                   run, so there are no ties and the simple
                   (C - D) / (m(m-1)/2) form is exact.

    Ratios of exact counts rounded at 6 dp — engine-portable.

    Scale shape: runs are queries x k rows; the full outer join and
    the within-query pair join (<= k(k-1)/2 pairs per query) shuffle
    on the query key only — evaluation-sized, never the corpus.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a = run_a.filter(F.col("rank") <= k).select(
        "query_id", "doc_id", F.col("rank").alias("__ra__")
    )
    b = run_b.filter(F.col("rank") <= k).select(
        "query_id", "doc_id", F.col("rank").alias("__rb__")
    )
    u = a.join(b, ["query_id", "doc_id"], "outer")
    sets = u.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("__ra__").isNotNull() & F.col("__rb__").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_common"),
        F.count(F.lit(1)).alias("__n_union__"),
    )
    common = u.filter(
        F.col("__ra__").isNotNull() & F.col("__rb__").isNotNull()
    ).select("query_id", "doc_id", "__ra__", "__rb__")
    prod = (
        (F.col("x.__ra__") - F.col("y.__ra__"))
        * (F.col("x.__rb__") - F.col("y.__rb__"))
    )
    tau = (
        common.alias("x")
        .join(
            common.alias("y"),
            (F.col("x.query_id") == F.col("y.query_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.query_id").alias("query_id"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(-1)).alias("__cd__"),
            F.count(F.lit(1)).alias("__np__"),
        )
    )
    return (
        sets.join(tau, "query_id", "left")
        .select(
            "query_id",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common").cast("double") / F.col("__n_union__"), 6
            ).alias("jaccard_k"),
            F.when(
                F.col("__np__") >= 1,
                F.round(
                    F.col("__cd__").cast("double") / F.col("__np__"), 6
                ),
            ).alias("kendall_tau"),
        )
    )
