"""Length-skewed rescore parity: the dot product iterates the SMALLER
doc vector per pair (operators/similarity.py _rescore_candidates), so
a corpus mixing 300-token and 6-token documents exercises both
when-branches. Fed every doc pair of the corpus, the rescore must
match the numpy golden exactly regardless of which side of the pair
carries the big map.

Reference semantics: semantic_analyzer.py cosine over the full
TF-IDF matrix is length-agnostic; this gate pins our skew-optimized
evaluation to the same values.
"""

from __future__ import annotations

import random

from pdf_knowledge_extractor_spark.operators.mentions import keyword_mentions
from pdf_knowledge_extractor_spark.operators.similarity import (
    _rescore_candidates,
    exact_cosine_pairs,
)
from pdf_knowledge_extractor_spark.operators.tfidf import tfidf_longform
from tests.golden_reference import golden_similarities, keyword_tokens

# keyword tokens must match the engine lexicon shape: >=4 lowercase
# letters, no digits (KEYWORD_RE in golden_reference / mentions)
VOCAB = [
    f"term{c}{d}" for c in "abcdefghij" for d in ("alpha", "beta", "gamma", "delta")
]
THRESHOLD = 0.25


def _skewed_docs():
    rng = random.Random(7)
    docs = []
    # Giant docs on BOTH sides of the doc-id ordering, so giant-vs-tiny
    # candidate pairs occur with the big map as m1 AND as m2.
    for did in ("aaa_big_0", "aaa_big_1", "zzz_big_0", "zzz_big_1"):
        docs.append((did, " ".join(rng.choices(VOCAB, k=300)), "python"))
    for i in range(20):
        docs.append(
            (f"mid_tiny_{i:02d}", " ".join(rng.choices(VOCAB, k=6)), "python")
        )
    return docs


def _run(spark, docs, op):
    corpus = spark.createDataFrame(docs, ["doc_id", "content", "lang"])
    km = keyword_mentions(corpus, "doc_id", "content")
    tfidf = tfidf_longform(km.select("doc_id", "text"), n_docs=len(docs))
    return {
        (r["doc1_id"], r["doc2_id"]): r["similarity_score"]
        for r in op(tfidf, THRESHOLD).collect()
    }


def _rescore_all_pairs(tfidf, threshold):
    ids = sorted(
        r["doc_id"] for r in tfidf.select("doc_id").distinct().collect()
    )
    pairs = tfidf.sparkSession.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "doc1_id string, doc2_id string",
    )
    return _rescore_candidates(pairs, tfidf, threshold)


def test_skewed_rescore_matches_golden(spark):
    docs = _skewed_docs()
    expected = golden_similarities(docs, THRESHOLD)
    sizes = {d: len(set(keyword_tokens(t))) for d, t, _ in docs}
    skew_lo = [(a, b) for (a, b) in expected if sizes[a] > 2 * sizes[b]]
    skew_hi = [(a, b) for (a, b) in expected if sizes[b] > 2 * sizes[a]]
    assert skew_lo and skew_hi, (
        "corpus must emit skewed pairs in both doc-id orders "
        f"(got {len(skew_lo)} big-first, {len(skew_hi)} big-second)"
    )

    got = _run(spark, docs, exact_cosine_pairs)
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)

    rescored = _run(spark, docs, _rescore_all_pairs)
    assert set(rescored) == set(expected)
    for k, v in expected.items():
        assert abs(rescored[k] - v) < 1e-9, (k, rescored[k], v)
