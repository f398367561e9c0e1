"""Deduplication operators: exact groups, MinHash-LSH recall vs exact
Jaccard, SimHash near-dup detection."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)


def test_exact_duplicates_groups(spark):
    df = spark.createDataFrame(
        [
            ("a", "Hello   world"),
            ("b", "hello world"),      # same after normalization
            ("c", " HELLO\tWORLD "),   # same after normalization
            ("d", "something else"),
        ],
        "doc_id string, content string",
    )
    res = exact_duplicates(df, "doc_id", "content").persist()
    rows = {r["doc_id"]: r for r in res.collect()}
    assert rows["a"]["group_size"] == 3
    assert rows["a"]["canonical_id"] == "a"
    assert not rows["a"]["is_duplicate"]
    assert rows["b"]["is_duplicate"] and rows["b"]["canonical_id"] == "a"
    assert rows["c"]["is_duplicate"]
    assert rows["d"]["group_size"] == 1 and not rows["d"]["is_duplicate"]


def test_exact_duplicates_no_false_positives(spark, small_corpus):
    res = exact_duplicates(small_corpus, "doc_id", "content")
    # every non-empty content row is unique in the generated corpus
    dups = res.filter(F.col("is_duplicate")).count()
    empties = small_corpus.filter(F.length("content") == 0).count()
    assert dups <= max(empties - 1, 0) + small_corpus.filter(
        F.col("content").startswith("!!!")
    ).count()


def test_minhash_recall_vs_exact_jaccard(spark, small_corpus):
    exact = {
        (r["doc1_id"], r["doc2_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            small_corpus, threshold=0.5, n=3, id_col="doc_id",
            text_col="content", max_df=None,
        ).collect()
    }
    assert exact, "corpus must contain near-dup bodies (id %% 23 == 1)"
    got = {
        (r["doc1_id"], r["doc2_id"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            small_corpus, threshold=0.5, id_col="doc_id", text_col="content"
        ).collect()
    }
    # precision exact (candidates verified with true Jaccard)
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-9
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.95, f"minhash recall {recall}"


def test_simhash_finds_near_dups(spark, small_corpus):
    pairs = {
        (r["doc1_id"], r["doc2_id"])
        for r in simhash_near_dup_pairs(
            small_corpus, max_hamming=10, id_col="doc_id", text_col="content"
        ).collect()
    }
    exact = {
        (r["doc1_id"], r["doc2_id"])
        for r in ngram_jaccard_pairs(
            small_corpus, threshold=0.8, n=3, id_col="doc_id",
            text_col="content", max_df=None,
        ).collect()
    }
    assert exact
    found = len(pairs & exact) / len(exact)
    assert found >= 0.9, f"simhash found only {found:.2f} of strong near-dups"


def test_simhash_rejects_full_width_hamming(spark, small_corpus):
    """A distance-64 pair differs in every bit and shares no block, so
    max_hamming >= 64 cannot return the full hamming ball: reject it."""
    for d in (64, 65):
        with pytest.raises(ValueError):
            simhash_near_dup_pairs(
                small_corpus, max_hamming=d, id_col="doc_id",
                text_col="content",
            )


def test_minhash_bucket_cap(spark):
    """max_bucket_size bounds degenerate band buckets (the |bucket|^2
    candidate blowup guard) without touching normal pairs. Default
    "star" mode keeps each hot-bucket member connected to the bucket's
    min-id representative (dedup grouping via connected components
    stays intact, O(|bucket|) candidates); "drop" mode removes the
    bucket entirely (round-3 behavior)."""
    import pyspark.sql.functions as F

    from pdf_knowledge_extractor_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    # 20 identical boilerplate docs (one degenerate bucket) + 2
    # distinct near-dup docs
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(20)]
    rows += [
        (100, "red green blue cyan magenta yellow black white"),
        (101, "red green blue cyan magenta yellow black gray"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, threshold=0.5)
    n_unc = uncapped.count()
    assert n_unc >= 20 * 19 // 2 + 1  # boilerplate clique + the dup pair

    dropped = minhash_lsh_pairs(
        docs, threshold=0.5, max_bucket_size=10, hot_bucket_mode="drop"
    )
    got = {(r["doc1_id"], r["doc2_id"]) for r in dropped.collect()}
    # the boilerplate clique's buckets (20 members) were dropped;
    # the small near-dup pair survives
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), got

    starred = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=10)
    got = {(r["doc1_id"], r["doc2_id"]) for r in starred.collect()}
    assert (100, 101) in got
    # every clique member pairs with the representative (doc 0): the
    # family remains ONE connected component...
    assert {(0, i) for i in range(1, 20)} <= got
    # ...while the quadratic non-representative pair list is gone
    assert not any(a != 0 and b < 100 for a, b in got), got


def test_ngram_prefix_path_matches_direct(spark, small_corpus, monkeypatch):
    """Round 7: ngram_jaccard_pairs picks its physical plan by posting
    volume (direct self-join below _PREFIX_PATH_MIN_POSTS, the
    prefix-pair candidate path above). Small fixtures always take the
    direct path, so pin the prefix path's exactness explicitly by
    forcing it onto the same corpus and comparing full rows — the
    prefix machinery (2-subset keys + small-doc side channel +
    string-array intersection verify) must reproduce the direct
    join's output byte-for-byte at several thresholds."""
    from pdf_knowledge_extractor_spark.operators import dedup

    def rows(threshold):
        return sorted(
            (r["doc1_id"], r["doc2_id"], r["inter"], r["sz1"], r["sz2"],
             round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(
                small_corpus, threshold=threshold, n=3,
                id_col="doc_id", text_col="content", max_df=None,
            ).collect()
        )

    for t in (0.5, 0.8):
        direct = rows(t)
        monkeypatch.setattr(dedup, "_PREFIX_PATH_MIN_POSTS", 0)
        prefix = rows(t)
        monkeypatch.setattr(dedup, "_PREFIX_PATH_MIN_POSTS", 1_000_000)
        assert direct, f"fixture produced no pairs at t={t}"
        assert prefix == direct, (
            f"prefix path diverged from direct at t={t}"
        )
