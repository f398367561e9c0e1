"""KMeans clustering (C1/C2), cluster summaries, coherence (A10)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark.operators.clustering import (
    cluster_coherence,
    cluster_documents,
    cluster_summaries,
)
from pdf_knowledge_extractor_spark.operators.mentions import keyword_mentions
from pdf_knowledge_extractor_spark.operators.tfidf import (
    tfidf_longform,
    to_ml_vectors,
)


@pytest.fixture(scope="module")
def topic_corpus(spark):
    """Three well-separated vocabularies -> three natural clusters."""
    topics = {
        0: "alpha beta gamma delta epsilon zeta",
        1: "spark shuffle partition executor driver cluster",
        2: "piano violin cello trumpet oboe clarinet",
    }
    rows = []
    for i in range(90):
        t = i % 3
        words = topics[t].split()
        # vary length and rotation so vectors differ within a topic
        body = " ".join(words[(i + j) % 6] for j in range(8 + i % 7))
        rows.append((i, f"{body} common filler", t))
    return spark.createDataFrame(
        rows, "doc_id long, text string, topic long"
    ).persist()


@pytest.fixture(scope="module")
def clustered(spark, topic_corpus):
    km = keyword_mentions(topic_corpus)
    tfidf = tfidf_longform(
        km.select("doc_id", "text"), n_docs=topic_corpus.count()
    ).persist()
    vectors = to_ml_vectors(tfidf, vocab_size=1 << 10)
    assignments, k, silhouette = cluster_documents(
        vectors, k_min=2, k_max=5
    )
    return topic_corpus, tfidf, assignments.persist(), k, silhouette


def test_silhouette_search_finds_three_clusters(clustered):
    _, _, assignments, k, silhouette = clustered
    assert k == 3
    assert silhouette > 0.5


def test_clusters_align_with_topics(clustered):
    corpus, _, assignments, _, _ = clustered
    joined = assignments.join(corpus.select("doc_id", "topic"), "doc_id")
    # every cluster should be topic-pure
    purity = (
        joined.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("topic").alias("n_topics"),
        )
        .collect()
    )
    assert all(r["n_topics"] == 1 for r in purity)


def test_cluster_summaries_shape(clustered):
    _, tfidf, assignments, k, _ = clustered
    summaries = cluster_summaries(assignments, tfidf).collect()
    assert len(summaries) == k
    for s in summaries:
        assert s["cluster_label"] and " & " in s["cluster_label"]
        assert len(s["document_ids"]) == s["n_documents"]
        assert 1 <= len(s["main_topics"]) <= 5


def test_cluster_coherence_high_for_pure_clusters(clustered):
    corpus, tfidf, assignments, _, _ = clustered
    coh = cluster_coherence(assignments, tfidf).collect()
    assert coh
    for r in coh:
        assert r["coherence_score"] > 0.3


def test_centroid_coherence_equals_exact_when_pairs_share_terms(clustered):
    """The O(nnz) centroid identity must equal the exact within-cluster
    join whenever every vectorized pair shares a term (all topic docs
    share their topic vocabulary + 'common filler'), and be a lower
    bound in general."""
    from pdf_knowledge_extractor_spark.operators.clustering import (
        cluster_coherence_centroid,
    )

    _, tfidf, assignments, _, _ = clustered
    exact = {
        r["cluster_id"]: r["coherence_score"]
        for r in cluster_coherence(assignments, tfidf).collect()
    }
    cent = {
        r["cluster_id"]: r["coherence_score"]
        for r in cluster_coherence_centroid(assignments, tfidf).collect()
    }
    assert set(exact) == set(cent)
    for c in exact:
        assert abs(exact[c] - cent[c]) < 1e-9, (c, exact[c], cent[c])


def test_cluster_coherence_matches_reference_semantics(spark):
    """ADVICE r3 (medium): coherence must equal the reference's
    _calculate_cluster_coherence — mean of ALL positive intra-cluster
    pairwise cosines (not just pairs >= the similarity threshold),
    singleton clusters 1.0 — verified against an independent numpy
    re-derivation, including a cluster whose cohesion is entirely
    sub-threshold and a singleton."""
    from tests.golden_reference import golden_cluster_coherence

    rows = [
        # cluster 0: tight near-dups (high coherence)
        (0, "alpha beta gamma delta epsilon zeta", "python"),
        (1, "alpha beta gamma delta epsilon sigma", "python"),
        (2, "alpha beta gamma delta epsilon tau", "python"),
        # cluster 1: weakly-related docs — every pairwise cosine is
        # positive but << 0.7 (the old pair-table approximation
        # reported 0.0 here; the reference reports the true mean)
        (3, "piano violin filler common words here", "python"),
        (4, "piano cello other shared tokens again", "python"),
        (5, "piano trumpet more unrelated payload text", "python"),
        # cluster 2: singleton -> 1.0
        (6, "completely isolated document body", "python"),
        # cluster 3: two docs with NO shared term -> no positive pair
        # -> 0.0
        (7, "uniqueworda uniquewordb uniquewordc", "python"),
        (8, "uniquewordx uniquewordy uniquewordz", "python"),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    assign = {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 2, 7: 3, 8: 3}
    assignments = spark.createDataFrame(
        list(assign.items()), "doc_id long, cluster_id int"
    )
    km = keyword_mentions(docs)
    tfidf = tfidf_longform(km.select("doc_id", "text"), n_docs=len(rows))
    got = {
        r["cluster_id"]: r["coherence_score"]
        for r in cluster_coherence(assignments, tfidf).collect()
    }
    expected = golden_cluster_coherence(
        [(i, t, lg) for i, t, lg in rows], assign
    )
    assert set(got) == set(expected)
    for c in expected:
        assert abs(got[c] - expected[c]) < 1e-9, (
            c, got[c], expected[c],
        )
    assert got[2] == 1.0, "singleton cluster must score 1.0"
    assert got[3] == 0.0, "no-positive-pair cluster must score 0.0"
    assert 0.0 < got[1] < 0.7, (
        "sub-threshold cluster must report its true positive mean"
    )


def test_search_path_keeps_vectors_until_assignments_materialize(
    spark, monkeypatch,
):
    """On the k-search path (cluster_k=None) run_pipeline must get the
    kmeans input back still cached, so materializing the assignments
    does not recompute to_ml_vectors, and must release it itself
    before returning."""
    from pyspark import StorageLevel

    from pdf_knowledge_extractor_spark.operators import clustering
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    topics = ["alpha beta gamma delta epsilon zeta",
              "spark shuffle partition executor driver cluster",
              "piano violin cello trumpet oboe clarinet"]
    docs = spark.createDataFrame(
        [(i, " ".join(topics[i % 3].split()[(i + j) % 6]
                      for j in range(8 + i % 5)))
         for i in range(12)],
        "doc_id long, text string",
    )
    real = clustering.cluster_documents
    seen = {}

    def spy(vectors, *args, **kwargs):
        out = real(vectors, *args, **kwargs)
        seen["vectors"] = vectors
        seen["cached_on_return"] = (
            vectors.storageLevel != StorageLevel.NONE
        )
        return out

    monkeypatch.setattr(clustering, "cluster_documents", spy)
    res = run_pipeline(
        spark, docs, PipelineConfig(with_clusters=True, cluster_k=None),
    )
    assert seen["cached_on_return"], (
        "search path released the vectors before assignments.count()"
    )
    assert seen["vectors"].storageLevel == StorageLevel.NONE, (
        "run_pipeline left the kmeans input cached"
    )
    assert res["cluster_assignments"].count() == 12
