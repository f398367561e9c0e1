"""Similarity join: exact vs numpy golden; the MinHash scale path's
bucket cap, signature stop-list and option validation."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_knowledge_extractor_spark.operators.mentions import keyword_mentions
from pdf_knowledge_extractor_spark.operators.similarity import (
    exact_cosine_pairs,
)
from pdf_knowledge_extractor_spark.operators.tfidf import tfidf_longform
from tests.golden_reference import golden_similarities


def _tfidf(small_corpus):
    km = keyword_mentions(small_corpus, "doc_id", "content")
    return tfidf_longform(
        km.select("doc_id", "text"), n_docs=small_corpus.count()
    ).persist()


def _pairs_dict(df):
    return {
        (r["doc1_id"], r["doc2_id"]): r["similarity_score"] for r in df.collect()
    }


def test_exact_pairs_match_numpy_golden(spark, small_corpus):
    tfidf = _tfidf(small_corpus)
    got = _pairs_dict(exact_cosine_pairs(tfidf, 0.7))
    docs = [
        (r["doc_id"], r["content"], r["lang"]) for r in small_corpus.collect()
    ]
    expected = golden_similarities(docs, 0.7)
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9
    assert len(expected) > 0, "corpus must contain engineered near-dups"


def test_minhash_bucket_cap_drop_mode(spark):
    """The degenerate-bucket guard (PipelineConfig.similarity_max_bucket)
    in "drop" mode: a cluster whose band buckets exceed the cap
    contributes ZERO candidate pairs, while small near-dup buckets are
    untouched — and with the cap off the operator still finds
    everything (the oracle-parity setting). The census stats must
    record the drop (no silent caps)."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    rows = []
    # 20 identical boilerplate docs -> identical signatures -> one
    # bucket of 20 in every band
    for i in range(20):
        rows.append((f"b{i:02d}", "standard header footer legal notice "
                                  "copyright reserved trademark"))
    # one engineered near-dup pair (bucket size 2)
    rows.append(("n1", "gradient descent converges under convex losses "
                       "with bounded curvature assumptions"))
    rows.append(("n2", "gradient descent converges under convex losses "
                       "with bounded curvature conditions"))
    docs = spark.createDataFrame(rows, "doc_id string, content string")
    tfidf = _tfidf(docs)

    stats: dict = {}
    capped = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.5, max_bucket_size=10, hot_bucket_mode="drop",
            stats=stats,
        )
    )
    uncapped = _pairs_dict(minhash_blocked_cosine_pairs(tfidf, 0.5))
    assert ("n1", "n2") in capped, "small near-dup bucket must survive"
    assert not any(
        a.startswith("b") or b.startswith("b") for a, b in capped
    ), "boilerplate bucket above the cap must be dropped"
    assert ("n1", "n2") in uncapped
    assert ("b00", "b01") in uncapped, "cap off keeps full recall"
    assert stats["buckets_over_cap"] > 0
    assert stats["buckets_dropped"] == stats["buckets_over_cap"]
    assert stats["dense_buckets_kept"] == 0


def test_minhash_bucket_cap_verify_mode(spark):
    """"verify" (default) mode density-probes hot buckets: a TRUE-dense
    family (identical texts => every pair passes the exact rescore) is
    kept in full despite exceeding the cap, while a FALSE-positive hot
    bucket (same term SET => same minhash signature, but skewed tf
    weights => cosine below threshold) is dropped."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    base = ("kernel scheduler preempts threads across cores under "
            "contention with fairness guarantees")
    rows = [(f"d{i:02d}", base) for i in range(20)]  # true-dense family
    # false-positive family: identical term set, tf skewed onto a
    # different word per doc => same banding bucket, low pairwise cosine
    fp_words = ["alpha", "bravo", "charlie", "delta", "echofox", "golfy",
                "hotelz", "indiaq"]
    for i in range(20):
        hot = fp_words[i % len(fp_words)]
        rows.append((f"f{i:02d}", " ".join(fp_words) + (" " + hot) * 12))
    # filler so idf > 0 for the shared words
    for i in range(30):
        rows.append((f"z{i:02d}", f"unrelated filler number{i} payload "
                                  f"words entropy{i} salt{i} random{i}"))
    docs = spark.createDataFrame(rows, "doc_id string, content string")
    tfidf = _tfidf(docs)

    stats: dict = {}
    got = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.9, max_bucket_size=10, stats=stats
        )
    )
    dense_pairs = {(a, b) for a, b in got if a.startswith("d")}
    fp_pairs = {(a, b) for a, b in got if a.startswith("f")}
    assert len(dense_pairs) == 20 * 19 // 2, (
        "true-dense hot bucket must keep its full pair set"
    )
    assert not fp_pairs, "false-positive hot bucket must be dropped"
    assert stats["dense_buckets_kept"] > 0
    assert stats["buckets_dropped"] > 0


def test_family_pairs_survive_dropped_mixed_bucket_via_other_bands(spark):
    """Why the verify path needs no partial-recovery mode for MIXED
    buckets (a true family swamped inside a false-positive pile-up):
    banding gives every pair `bands` independent chances, so family
    members also collide in their own private sub-cap buckets of
    OTHER bands. Dropping the mixed bucket (density probe fails —
    most sampled pairs are pile-up members) must still leave the
    family's pairs intact."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    # pile-up: 30 docs with the same term SET but tf skewed per doc
    # (same signature bucket in every band, pairwise cosine < 0.9)
    fp_words = ["alpha", "bravo", "charlie", "delta", "echofox",
                "golfy", "hotelz", "indiaq"]
    rows = []
    for i in range(30):
        hot = fp_words[i % len(fp_words)]
        rows.append((f"f{i:02d}", " ".join(fp_words) + (" " + hot) * 12))
    # true family of 4 near-identical docs that SHARE the pile-up's
    # vocabulary (so they land in the pile-up's buckets) plus a
    # private vocabulary (so they also form their own small buckets)
    fam = " ".join(fp_words) + " kernel scheduler preempts threads fairness"
    rows += [(f"d{i}", fam + f" tail{i % 2}") for i in range(4)]
    for i in range(30):
        rows.append((f"z{i:02d}", f"filler{i} entropy{i} salt{i} "
                                  f"random{i} payload{i} words{i}"))
    docs = spark.createDataFrame(rows, "doc_id string, content string")
    tfidf = _tfidf(docs)

    stats: dict = {}
    got = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.9, max_bucket_size=10, stats=stats
        )
    )
    assert stats["buckets_dropped"] > 0, "mixed buckets must be dropped"
    fam_pairs = {(a, b) for a, b in got if a.startswith("d")}
    assert len(fam_pairs) == 4 * 3 // 2, (
        f"family pairs lost with the mixed bucket: {sorted(got)}"
    )
    tfidf.unpersist()


def test_hot_keys_distributed_fallback_parity(spark, monkeypatch):
    """Above _HOT_KEYS_LOCAL_MAX hot buckets, the capped path must stop
    collecting hot/dense key lists to the driver and switch to
    distributed joins (the 100-TB guard against an adversarial corpus
    with millions of over-cap buckets). Forcing the bound to 0 must
    produce BYTE-IDENTICAL pairs and census stats in both modes."""
    from pdf_knowledge_extractor_spark.operators import similarity as sim

    base = ("kernel scheduler preempts threads across cores under "
            "contention with fairness guarantees")
    rows = [(f"d{i:02d}", base) for i in range(20)]
    fp_words = ["alpha", "bravo", "charlie", "delta", "echofox", "golfy",
                "hotelz", "indiaq"]
    for i in range(20):
        hot = fp_words[i % len(fp_words)]
        rows.append((f"f{i:02d}", " ".join(fp_words) + (" " + hot) * 12))
    for i in range(30):
        rows.append((f"z{i:02d}", f"unrelated filler number{i} payload "
                                  f"words entropy{i} salt{i} random{i}"))
    docs = spark.createDataFrame(rows, "doc_id string, content string")
    tfidf = _tfidf(docs)

    out = {}
    for mode in ("verify", "drop"):
        for bound in (100_000, 0):
            monkeypatch.setattr(sim, "_HOT_KEYS_LOCAL_MAX", bound)
            stats: dict = {}
            pairs = _pairs_dict(
                sim.minhash_blocked_cosine_pairs(
                    tfidf, 0.9, max_bucket_size=10,
                    hot_bucket_mode=mode, stats=stats,
                )
            )
            out[(mode, bound)] = (pairs, stats)
    for mode in ("verify", "drop"):
        (p_local, s_local), (p_dist, s_dist) = (
            out[(mode, 100_000)], out[(mode, 0)]
        )
        assert p_local == p_dist, f"{mode}: pair sets diverge"
        for key in ("buckets_over_cap", "dense_buckets_kept",
                    "buckets_dropped", "probe_sampled_pairs",
                    "probe_pairs_near_threshold"):
            if key in s_local or key in s_dist:
                assert s_local.get(key) == s_dist.get(key), (
                    f"{mode}/{key}: {s_local.get(key)} != {s_dist.get(key)}"
                )
    assert out[("verify", 0)][1]["dense_buckets_kept"] > 0
    tfidf.unpersist()


def test_minhash_cap_fast_path_when_no_hot_bucket(spark, small_corpus):
    """With the cap set but NO bucket over it, the fast path (no
    anti-join, no probe) must produce exactly the uncapped pair set
    and still report the census (no silent caps)."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    tfidf = _tfidf(small_corpus)
    stats: dict = {}
    capped = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, max_bucket_size=10_000, stats=stats
        )
    )
    uncapped = _pairs_dict(minhash_blocked_cosine_pairs(tfidf, 0.7))
    assert stats["buckets_over_cap"] == 0
    assert stats["buckets_total"] > 0
    assert set(capped) == set(uncapped)
    for k in capped:
        assert abs(capped[k] - uncapped[k]) < 1e-12
    tfidf.unpersist()


def test_minhash_capped_releases_caches(spark, small_corpus):
    """VERDICT r3 item 4 + r4 item 1: the capped path persists the
    banded rows internally; looping the operator in a long-lived
    session must not accumulate orphaned cached RDDs (the result is
    eagerly localCheckpointed and the cache released via _finalize),
    and after `release_checkpointed_results()` ZERO storage blocks may
    survive beyond what existed before the loop — including the
    checkpointed RDD blocks that `spark.catalog.clearCache()` cannot
    see (the round-4 sim_minhash_corpus bench regression)."""
    from pdf_knowledge_extractor_spark.operators.ann import (
        release_checkpointed_results,
    )
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    sc = spark.sparkContext

    def persistent():
        out = {}
        it = sc._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            e = it.next()
            out[int(e.getKey())] = e.getValue().toString()
        return out

    def stored_block_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    spark.catalog.clearCache()
    release_checkpointed_results()  # drain prior tests' results
    tfidf = _tfidf(small_corpus)  # the test's own single persist
    tfidf.count()
    before = set(persistent())
    before_blocks = stored_block_ids()
    for _ in range(2):
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, max_bucket_size=5
        ).count()
    after = persistent()
    # the RESULT of each call is localCheckpointed (caller-owned; it
    # stays in the persistent list while the JVM retains the query
    # execution). What must NOT remain is any INTERNAL DataFrame cache
    # (the banded rows) — _finalize releases those synchronously.
    leaked = {
        rid: desc
        for rid, desc in after.items()
        if rid not in before and "localCheckpoint" not in desc
    }
    assert not leaked, f"capped similarity path leaked caches: {leaked}"
    # explicit release: both results' checkpoint blocks must vanish
    # from executor storage (not just from the DataFrame cache manager)
    assert release_checkpointed_results() == 2
    leaked_blocks = stored_block_ids() - before_blocks
    assert not leaked_blocks, (
        f"checkpoint blocks survived release: rdd ids {leaked_blocks}"
    )
    tfidf.unpersist()


def test_pipeline_concepts_carry_context(spark, small_corpus):
    """Flagship default (with_context=True): the concepts relation
    carries <=5 context sentences per keyword concept and the JSON-LD
    description field renders from them (VERDICT r2 item 3)."""
    from pdf_knowledge_extractor_spark.plans.exports import (
        jsonld_concept_objects,
    )
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    # max_concepts raised: the default top-100 cut ranks by importance
    # where phrases (0.6) / entities (0.7-0.8) outrank keywords (0.5),
    # and only keyword mentions carry context by reference semantics
    res = run_pipeline(
        spark, small_corpus,
        PipelineConfig(similarity_strategy="exact", max_concepts=3000),
        id_col="doc_id", text_col="content", lang_col="lang",
    )
    concepts = res["concepts"]
    assert "context_sentences" in concepts.columns
    kw = concepts.filter(
        (F.col("concept_type") == "keyword")
        & (F.size("context_sentences") > 0)
    )
    rows = kw.limit(20).collect()
    assert rows, "keyword concepts must carry context sentences"
    for r in rows:
        assert 1 <= len(r["context_sentences"]) <= 5
        assert any(
            r["text"] in s.lower() for s in r["context_sentences"]
        ), f"context must contain the concept text: {r['text']}"
    jl = jsonld_concept_objects(concepts).collect()
    assert any('"description":' in r["jsonld"] for r in jl)


def test_auto_stoplist_byte_identical_on_zipf_corpus(spark, small_corpus):
    """signature_max_df='auto' (the DEFAULT) probes
    each head term's posting list and excludes only verified Zipf-head
    noise. On the plain Zipf corpus every head is noise (random
    co-occurrence the rescore rejects), so the emitted pairs must be
    byte-identical to full-signature banding — and deterministic
    across calls."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    tfidf = _tfidf(small_corpus)
    base = _pairs_dict(
        minhash_blocked_cosine_pairs(tfidf, 0.7, signature_max_df=None)
    )
    stats: dict = {}
    # floor lowered to exercise the probe at 200 docs (the production
    # floor 256 exists so tiny corpora skip the machinery entirely)
    auto = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, signature_max_df="auto", n_docs=200,
            signature_head_df_floor=30, signature_probe_max_frac=1.0,
            stats=stats,
        )
    )
    assert stats["signature_head_terms"] > 0
    assert stats["signature_heads_excluded"] == stats["signature_head_terms"]
    assert auto == base and len(base) > 0
    again = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, signature_max_df="auto", n_docs=200,
            signature_head_df_floor=30, signature_probe_max_frac=1.0,
        )
    )
    assert again == auto


def test_auto_stoplist_gate_engages_at_large_n(spark, small_corpus):
    """Complement of the small-corpus gate: when the corpus-size hint
    says the probe footprint is a rounding error (the large-N regime
    the stop-list exists for), the gate must let the probe run under
    its DEFAULT 5% budget — no probe_max_frac override. Same 200-doc
    posting lists, n_docs hint 200k → frac ≈ Σ min(16, df)/200000 ≪
    5% (head_df_frac pinned tiny so the df cap stays at the floor
    instead of scaling to 0.5%·200k, which no 200-doc df can
    clear)."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    tfidf = _tfidf(small_corpus)
    base = _pairs_dict(
        minhash_blocked_cosine_pairs(tfidf, 0.7, signature_max_df=None)
    )
    stats: dict = {}
    auto = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, signature_max_df="auto", n_docs=200_000,
            signature_head_df_floor=30, signature_head_df_frac=1e-6,
            stats=stats,
        )
    )
    assert "signature_probe_skipped_small_corpus" not in stats
    assert 0 < stats["signature_probe_frac"] <= 0.05
    assert stats["signature_heads_excluded"] > 0  # probe really ran
    assert auto == base and len(base) > 0


def test_auto_stoplist_small_corpus_gate(spark, small_corpus):
    """The probe ENGAGEMENT gate: when sampling the head terms would
    touch more than signature_probe_max_frac of the corpus (the
    default 5% — every small corpus), the stop-list disengages
    entirely: no probe job, all terms stay in signatures, output
    byte-identical to full-signature banding. Measured motivation:
    the probe cost +11.5 s on the 50 k-doc bench corpus while
    excluding 946 heads changed nothing."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )

    tfidf = _tfidf(small_corpus)
    base = _pairs_dict(
        minhash_blocked_cosine_pairs(tfidf, 0.7, signature_max_df=None)
    )
    stats: dict = {}
    auto = _pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, signature_max_df="auto", n_docs=200,
            signature_head_df_floor=30, stats=stats,
        )
    )
    # heads exist, but the gate skipped the probe before sampling
    assert stats["signature_head_terms"] > 0
    assert stats["signature_probe_skipped_small_corpus"] is True
    assert stats["signature_probe_frac"] > 0.05
    assert stats["signature_heads_excluded"] == 0
    assert auto == base and len(base) > 0


def test_auto_stoplist_recall_safe_on_large_families(spark):
    """The counter-case that rules out a plain df cap: a
    mutated-boilerplate family larger than the cap. The AUTO mode's
    per-term density probe must recognize the family's base words as
    signal (sampled posting-list pairs ARE similar), keep them in
    signatures, and lose nothing — measured against the EXACT pair
    set, since banding is probabilistic and excluding noise heads
    legitimately perturbs which borderline pairs collide (here it
    IMPROVES recall: fewer wasted collisions)."""
    from pdf_knowledge_extractor_spark.corpus import generate_corpus
    from pdf_knowledge_extractor_spark.operators.similarity import (
        exact_cosine_pairs,
        minhash_blocked_cosine_pairs,
    )

    docs = generate_corpus(
        spark, 800, boilerplate_fraction=0.25, boilerplate_families=1
    ).select("doc_id", "content")
    tfidf = _tfidf(docs)
    kw = dict(max_bucket_size=50, hot_bucket_mode="verify")

    exact = set(_pairs_dict(exact_cosine_pairs(tfidf, 0.7, round_dp=9)))
    base = set(_pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, signature_max_df=None, **kw
        )
    ))
    stats: dict = {}
    auto = set(_pairs_dict(
        minhash_blocked_cosine_pairs(
            tfidf, 0.7, signature_max_df="auto", n_docs=800,
            signature_head_df_floor=50, signature_probe_max_frac=1.0,
            stats=stats, **kw
        )
    ))
    # the probe recognized family base words as signal
    assert stats["signature_heads_kept_family"] > 0
    assert stats["signature_heads_excluded"] > 0
    # precision exact on every path (rescore), so compare recall
    assert auto <= exact and base <= exact
    auto_recall = len(auto & exact) / len(exact)
    base_recall = len(base & exact) / len(exact)
    assert auto_recall >= base_recall, (
        f"auto {auto_recall} < baseline {base_recall}"
    )
    assert auto_recall > 0.999
    tfidf.unpersist()


def test_all_excluded_doc_falls_back_to_full_signature(spark):
    """A doc whose EVERY term is in the signature stop-list must not
    fall out of the blocker: it bands over its full term set, so it
    gets all `bands` rows, identical to its unexcluded rows."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        _banded_rows,
    )

    docs = spark.createDataFrame(
        [("head", "common shared everywhere frequent"),
         ("body", "common shared particular distinctive payload"),
         ("other", "unrelated material entirely")],
        "doc_id string, content string",
    )
    tfidf = _tfidf(docs)
    exclude = spark.createDataFrame(
        [("common",), ("shared",), ("everywhere",), ("frequent",)],
        "term string",
    )

    def rows(**kw):
        return sorted(
            (r["doc_id"], r["band"], r["band_hash"])
            for r in _banded_rows(tfidf, 60, 12, **kw).collect()
        )

    full = rows()
    stopped = rows(signature_exclude=exclude)
    head_full = [r for r in full if r[0] == "head"]
    head_stopped = [r for r in stopped if r[0] == "head"]
    assert len(head_stopped) == 12
    assert head_stopped == head_full
    # the other doc still bands over its kept terms only
    assert [r for r in stopped if r[0] == "body"] != [
        r for r in full if r[0] == "body"
    ]
    tfidf.unpersist()


@pytest.mark.parametrize(
    "call, value",
    [("run_pipeline", "lsh"), ("run_pipeline", "prefix"),
     ("minhash", 50)],
)
def test_removed_similarity_options_raise(spark, small_corpus, call, value):
    """Removed strategies and the integer signature df cap are rejected
    up front instead of silently running another path."""
    from pdf_knowledge_extractor_spark.operators.similarity import (
        minhash_blocked_cosine_pairs,
    )
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    if call == "run_pipeline":
        with pytest.raises(ValueError, match="similarity_strategy"):
            run_pipeline(
                spark, small_corpus,
                PipelineConfig(similarity_strategy=value),
                id_col="doc_id", text_col="content",
            )
    else:
        tfidf = _tfidf(small_corpus)
        with pytest.raises(ValueError, match="signature_max_df"):
            minhash_blocked_cosine_pairs(tfidf, 0.7, signature_max_df=value)
        tfidf.unpersist()
