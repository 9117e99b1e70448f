"""Round-16 regression tests: the r15 verdict's open items — the
UniqueKeyMonitor column-identity/empty-path fixes, per-round
convergence probing in the star-contraction cap region, the Dawid-Skene
bigint exactness precondition, and the bitext corpus-drift width pin."""

from __future__ import annotations

import tempfile

import pytest

import confluent_data_ingestion_spark.queries as Q
from confluent_data_ingestion_spark.caching import SessionArtifact
from confluent_data_ingestion_spark.operators.cluster import (
    connected_components,
)
from confluent_data_ingestion_spark.operators.labels import dawid_skene
from confluent_data_ingestion_spark.streaming.contracts import (
    UniqueKeyMonitor,
)


# ---------------------------------------------------------------------------
# UniqueKeyMonitor: column identity + empty path (r15 ADVICE)
# ---------------------------------------------------------------------------


def test_unique_monitor_empty_path_gives_empty_report(spark):
    path = tempfile.mkdtemp(prefix="cdis-ukm-empty-")
    rep = UniqueKeyMonitor(path, ["k"]).snapshot(spark)
    assert rep.count() == 0
    assert rep.columns == ["check", "column", "observed", "threshold",
                           "status"]


def test_unique_monitor_rejects_reordered_columns(spark):
    """Partials persist the column NAME next to its index; a monitor
    re-instantiated with a reordered list must fail loudly, not merge
    stale digests under the wrong column."""
    path = tempfile.mkdtemp(prefix="cdis-ukm-reord-")
    writer = UniqueKeyMonitor(path, ["k", "g"])
    writer.apply(
        spark.createDataFrame([(1, "x"), (2, "x")], "k long, g string"), 0
    )
    with pytest.raises(ValueError, match="written for columns"):
        UniqueKeyMonitor(path, ["g", "k"]).snapshot(spark)


def test_unique_monitor_rejects_different_column_set(spark):
    path = tempfile.mkdtemp(prefix="cdis-ukm-diff-")
    UniqueKeyMonitor(path, ["k"]).apply(
        spark.createDataFrame([(1,)], "k long"), 0
    )
    with pytest.raises(ValueError, match="UniqueKeyMonitor"):
        UniqueKeyMonitor(path, ["other"]).snapshot(spark)


def test_unique_monitor_same_columns_still_green(spark):
    """The validation must not reject the legitimate case: a NEW monitor
    instance over existing partials with the SAME column list resumes
    cumulative monitoring (process restart)."""
    path = tempfile.mkdtemp(prefix="cdis-ukm-resume-")
    UniqueKeyMonitor(path, ["k"]).apply(
        spark.createDataFrame([(1,), (2,)], "k long"), 0
    )
    resumed = UniqueKeyMonitor(path, ["k"])
    resumed.apply(spark.createDataFrame([(2,)], "k long"), 1)
    row = resumed.snapshot(spark).collect()[0]
    assert abs(row["observed"] - round(2 / 3, 6)) < 2e-6


# ---------------------------------------------------------------------------
# star contraction: per-round probing near the iteration cap
# ---------------------------------------------------------------------------


def test_star_cap_region_detects_convergence_per_round(spark):
    """A 33-node chain converges in 6 star rounds; with max_iter=6 the
    run only succeeds because the last three rounds before the cap all
    probe — under pure every-second-round probing, detection trails the
    fixed point by up to two rounds and this exact budget would raise
    (r15 ADVICE).  max_iter should size the contraction depth, not the
    probe cadence."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    out = connected_components(
        chain, pairs_distinct=True, algorithm="star", max_iter=6,
        stats=stats,
    )
    assert stats["rounds"] == 6  # full budget used — the cap region fired
    assert out.filter("cluster_id = 0").count() == 33


# ---------------------------------------------------------------------------
# Dawid-Skene: bigint fixed-point exactness precondition (r15 ADVICE)
# ---------------------------------------------------------------------------


def test_dawid_skene_enforces_class_count_bound(spark):
    """n_classes * 1e12 must stay below 2^53 for the pico-unit softmax
    denominator to be 1-ulp-exact vs the DECIMAL oracle; the bound is
    enforced before any EM work, not just documented."""
    votes = spark.range(9000).selectExpr(
        "1L as item_id", "id as rater_id", "cast(id as string) as label"
    )
    with pytest.raises(ValueError, match="9000"):
        dawid_skene(votes, item_col="item_id", rater_col="rater_id",
                    label_col="label", iterations=1)


# ---------------------------------------------------------------------------
# bitext width pin: corpus drift fails loudly, and no count jobs
# ---------------------------------------------------------------------------


def test_bitext_corpus_drift_fails_loudly(spark, sf_dir, monkeypatch):
    """The registry row's DuckDB oracle hard-pins width-4 band keys; if
    the corpus grows into the width-8 regime the row must raise, not
    silently hash-mismatch.  Simulated by swapping in a
    corpus-count artifact whose build reports a width-8+ corpus."""
    monkeypatch.setattr(
        Q, "_emb_count", SessionArtifact(lambda spark, sf_dir: 500_000)
    )
    with pytest.raises(AssertionError, match="re-pin the oracle"):
        Q.QUERIES["bitext_mutual_margin"](spark, sf_dir)


def test_bitext_row_memoizes_corpus_count(spark, sf_dir):
    """After one invocation the embeddings count is memoized per
    (session, sf_dir) — the n_hint path never re-runs count jobs
    (two full-scan jobs per invocation at cluster scale, r15 verdict)."""
    Q.release_artifact_families(["emb_count"])
    df = Q.QUERIES["bitext_mutual_margin"](spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    assert Q.artifact_family_keys()["emb_count"] == {key}
    assert Q._emb_count(spark, sf_dir) > 0
    assert df.columns == ["a_id", "b_id", "cosine", "margin"]


# ---------------------------------------------------------------------------
# ngram_containment_pairs: asymmetric near-dup (excerpt detection)
# ---------------------------------------------------------------------------


def test_containment_finds_excerpt_jaccard_misses(spark):
    """A 10-word excerpt of a 20-word parent shares 6 of 16 distinct
    5-gram shingles (Jaccard 0.375, below a 0.8 near-dup bar) but all 6
    of its OWN shingles (containment 1.0) — the directed score flags
    the pair and names the excerpt side."""
    from confluent_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words[:10])),          # excerpt: first half
            (3, " ".join(f"z{i}" for i in range(12))),  # unrelated
        ],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs(docs, n=5, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["contained_doc"] == 2


def test_containment_tie_resolves_to_smaller_id(spark):
    from confluent_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    text = " ".join(f"w{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(7, text), (9, text)], "doc_id long, text string"
    )
    r = ngram_containment_pairs(docs, n=5, threshold=0.8).collect()[0]
    assert r["containment"] == 1.0
    assert r["contained_doc"] == 7  # equal sizes -> doc_a (smaller id)


def test_containment_df_cap_drops_boilerplate_shingles(spark):
    """A shingle shared by more docs than max_group_size is removed from
    posting lists AND size counts — the capped feature space, same
    semantics as ngram_jaccard_pairs."""
    from confluent_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    boiler = "b0 b1 b2 b3 b4"  # one shared 5-gram across ALL docs
    docs = spark.createDataFrame(
        [(i, boiler + f" u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(4)],
        "doc_id long, text string",
    )
    # cap=3 < 4 docs: the boilerplate shingle is dropped everywhere; the
    # remaining per-doc shingles are unique, so NO pair survives
    assert ngram_containment_pairs(
        docs, n=5, threshold=0.1, max_group_size=3
    ).count() == 0


# ---------------------------------------------------------------------------
# containment_verify_pairs: the containment scale path
# ---------------------------------------------------------------------------


def test_containment_verify_scores_only_candidates(spark):
    """Verification is pair-scoped: a true containment pair NOT in the
    candidate frame is never scored (the generator owns recall); a
    candidate pair sharing no shingle scores 0 and drops."""
    from confluent_data_ingestion_spark.operators.dedup import (
        containment_verify_pairs,
    )

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words[:10])),           # excerpt of 1
            (3, " ".join(words[10:])),           # excerpt of 1 (2nd half)
            (4, " ".join(f"z{i}" for i in range(12))),  # unrelated
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 4)], "doc_a long, doc_b long"  # (1,3) NOT offered
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in containment_verify_pairs(
        docs, cand, n=5, threshold=0.8
    ).collect()}
    assert set(rows) == {(1, 2)}          # (1,4) scored 0, (1,3) unscored
    assert rows[(1, 2)]["containment"] == 1.0
    assert rows[(1, 2)]["contained_doc"] == 2


def test_containment_verify_matches_allpairs_on_offered_pairs(spark, sf_dir):
    """On the pairs the LSH generator DOES offer, the verified scores
    must equal the exact all-pairs row's scores — the same
    exactness-on-candidates contract as jaccard_verify_pairs."""
    from confluent_data_ingestion_spark.operators.dedup import (
        containment_verify_pairs,
        minhash_lsh_pairs,
        ngram_containment_pairs,
    )
    from confluent_data_ingestion_spark.queries import _excerpt_corpus

    corpus = _excerpt_corpus(spark, sf_dir)
    cand = minhash_lsh_pairs(corpus, n=5)
    verified = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["contained_doc"])
        for r in containment_verify_pairs(
            corpus, cand, n=5, threshold=0.8
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["contained_doc"])
        for r in ngram_containment_pairs(
            corpus, n=5, threshold=0.8, max_group_size=None
        ).collect()
    }
    assert verified  # the generator offers a non-empty candidate set
    for pair, scored in verified.items():
        assert exact[pair] == scored
    # and the recall gap is real: the exact row sees pairs LSH missed
    assert set(verified) <= set(exact)


# ---------------------------------------------------------------------------
# ngram_diversity: per-group distinct-n corpus diversity
# ---------------------------------------------------------------------------


def test_ngram_diversity_exact_counts_and_guards(spark):
    """Counts are exact and per-document (no cross-doc bigrams); empty /
    1-token / NULL documents contribute no grams and trip neither the
    descending-sequence hazard nor the ratio division."""
    from confluent_data_ingestion_spark.operators.text import (
        ngram_diversity,
    )

    docs = spark.createDataFrame(
        [
            ("a", "x y x"),       # uni: x,y,x  bi: "x y","y x"
            ("a", "y x"),         # uni: y,x    bi: "y x"
            ("a", ""),            # nothing (empty after filter)
            ("a", None),          # nothing
            ("b", "solo"),        # 1 token, no bigram
        ],
        "source string, text string",
    )
    rep = {r["source"]: r for r in ngram_diversity(docs).collect()}
    a = rep["a"]
    assert (a["n_docs"], a["n_tokens"], a["distinct_tokens"]) == (4, 5, 2)
    assert a["ttr"] == 0.4
    # bigrams: "x y", "y x" (doc1) + "y x" (doc2) — never "x y" across
    # the doc boundary of doc2+doc3
    assert (a["n_bigrams"], a["distinct_bigrams"]) == (3, 2)
    assert a["distinct2"] == round(2 / 3, 6)
    b = rep["b"]
    assert (b["n_docs"], b["n_tokens"], b["n_bigrams"]) == (1, 1, 0)
    assert b["distinct2"] is None  # zero bigrams -> NULL ratio, no 1/0
