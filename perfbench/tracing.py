"""Traced replay of the KG pipeline, one span per layer.

The replay calls each layer's public function in the order
``plans.pipeline.run_pipeline`` composes them, persists and counts the
layer's output inside the layer's span (so the span covers the layer's
own work and nothing downstream re-runs it), and tags every Spark job
started inside a span with the span's name. Shuffle, spill and task
figures are then read back from the Spark event log and attributed to
spans by that tag. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.operators import clustering, concepts
from pdf_knowledge_extractor_spark.operators import graph, mentions, related
from pdf_knowledge_extractor_spark.operators import similarity, tfidf
from pdf_knowledge_extractor_spark.plans import pipeline
from pdf_knowledge_extractor_spark.plans import triples as T3
from pdf_knowledge_extractor_spark.sources import readers
from pdf_knowledge_extractor_spark.sources.checkpoint import CheckpointManager

from workloads import ID_COL, LANG_COL, TEXT_COL

SPAN_PROPERTY = "perfbench.span"

LAYERS = (
    "sources.readers",
    "functions",
    "operators.mentions",
    "operators.tfidf",
    "operators.concepts",
    "operators.similarity",
    "operators.related",
    "operators.graph",
    "operators.clustering",
    "plans.triples",
    "sources.checkpoint",
)
# the layers run_pipeline + write_triples execute; their spans sum to
# the traced counterpart of one untraced pass (related_documents is the
# only part of operators.related the triples do not need, so that span
# stays out)
PIPELINE_LAYERS = tuple(
    x for x in LAYERS
    if x not in ("operators.related", "operators.clustering",
                 "sources.checkpoint")
)

LAYER_METRICS = (
    ("self_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("rows_out", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
)
EXTRA_METRICS = (
    ("operators.similarity.candidates", "count", "lower"),
    ("operators.similarity.pairs_out", "count", "higher"),
    ("operators.similarity.useful_ratio", "ratio", "higher"),
    ("operators.similarity.buckets_over_cap", "count", "lower"),
    ("operators.concepts.mentions_in", "count", "lower"),
    ("operators.concepts.concepts_out", "count", "higher"),
    ("sources.checkpoint.bytes_written", "bytes", "lower"),
    ("sources.checkpoint.stages_reused", "count", "higher"),
    ("sources.checkpoint.restore_s", "s", "lower"),
    ("trace.total_s", "s", "lower"),
)


def per_layer_metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    specs = [(f"{layer}.{m}", unit, better)
             for layer in LAYERS for m, unit, better in LAYER_METRICS]
    return specs + list(EXTRA_METRICS)


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans; jobs started inside a span carry its name as a
    Spark local property."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1].name if self._stack else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, s.parent)

    def self_s(self, span: Span) -> float:
        children = sum(c.end - c.start for c in self.spans
                       if c.parent == span.name)
        return (span.end - span.start) - children


def _force(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def replay(spark: SparkSession, tracer: Tracer, corpus_path: str, cfg,
           triples_dir: str, ckpt_dir: str) -> dict:
    """Runs the pipeline layer by layer under spans, writing the
    triples to ``triples_dir``. Returns the enriched ``documents`` for
    the caller's checks and ``pipeline_s``, the summed span time of
    the layers ``run_pipeline`` + ``write_triples`` execute."""
    out = {}
    with tracer.span("trace"):
        with tracer.span("sources.readers") as s:
            docs = readers.spread_input(spark.read.parquet(corpus_path))
            docs, s.counts["rows_out"] = _force(docs)
        with tracer.span("functions") as s:
            enriched = pipeline.enrich_documents(docs, ID_COL, TEXT_COL)
            enriched, n_docs = _force(enriched)
            s.counts["rows_out"] = n_docs
        with tracer.span("operators.mentions") as s:
            ments, n_ments = _force(mentions.all_mentions(
                enriched, id_col=ID_COL, text_col=TEXT_COL,
                lang_col=LANG_COL if cfg.with_entities else None,
            ))
            kw, n_kw = _force(
                mentions.keyword_mentions(enriched, ID_COL, TEXT_COL)
            )
            s.counts["rows_out"] = n_ments + n_kw
        with tracer.span("operators.tfidf") as s:
            # run_pipeline materializes tf-idf in the same job as the
            # auto stop-list's head census
            tf = tfidf.tfidf_longform(
                kw.select("doc_id", F.col("text")), n_docs=n_docs,
                normalize=True,
            ).persist()
            heads = similarity.collect_signature_head_census(tf)
            s.counts["rows_out"] = tf.count()
        with tracer.span("operators.concepts") as s:
            cons = concepts.aggregate_concepts_canonical(
                ments, min_frequency=cfg.min_concept_frequency,
                max_concepts=cfg.max_concepts, n_salts=cfg.n_salts,
                materialize=True,
            )
            cons = concepts.with_concept_contexts(
                cons, enriched, id_col=ID_COL, text_col=TEXT_COL
            ).localCheckpoint(eager=True)
            s.counts["rows_out"] = cons.count()
            s.counts["mentions_in"] = n_ments
            s.counts["concepts_out"] = s.counts["rows_out"]
        with tracer.span("operators.similarity") as s:
            stats: dict = {}
            pairs = similarity.minhash_blocked_cosine_pairs(
                tf, threshold=cfg.similarity_threshold,
                num_hashes=cfg.similarity_num_hashes,
                bands=cfg.similarity_bands,
                max_bucket_size=cfg.similarity_max_bucket,
                hot_bucket_mode=cfg.similarity_hot_mode, stats=stats,
                signature_max_df=cfg.similarity_signature_max_df,
                signature_probe_max_frac=(
                    cfg.similarity_signature_probe_max_frac
                ),
                n_docs=n_docs, signature_heads=heads,
            )
            sims, n_pairs = _force(similarity.with_similarity_metadata(pairs))
            cand = stats.get("candidate_pairs_subcap", 0)
            s.counts.update(
                rows_out=n_pairs, candidates=cand, pairs_out=n_pairs,
                useful_ratio=n_pairs / cand if cand else 0.0,
                buckets_over_cap=stats.get("buckets_over_cap", 0),
            )
        with tracer.span("operators.related") as s:
            kw_window = Window.partitionBy("doc_id").orderBy(
                F.desc("tf"), F.asc("term")
            )
            doc_kw = (
                tf.withColumn("_r", F.row_number().over(kw_window))
                .filter(F.col("_r") <= cfg.per_doc_keywords)
                .select("doc_id", F.col("term").alias("text"))
            )
            rel_docs, s.counts["rows_out"] = _force(
                related.related_documents(
                    doc_kw, min_shared=cfg.min_shared_keywords,
                    top_k=cfg.related_top_k, max_df_abs=cfg.related_max_df,
                )
            )
        with tracer.span("operators.graph") as s:
            # entity relationships feed the edges, so the triples: they
            # belong to the untraced pass's work, unlike related_documents
            rel = related.entity_relationships(cons)
            nodes, edges = graph.build_graph(enriched, cons, sims,
                                             id_col=ID_COL)
            edges = edges.unionByName(rel.select(
                F.col("entity1").alias("src"),
                F.col("pred").alias("edge_type"),
                F.col("entity2").alias("dst"),
                F.col("strength").alias("weight"),
            ))
            nodes, n_nodes = _force(nodes)
            edges, n_edges = _force(edges)
            s.counts["rows_out"] = n_nodes + n_edges
        with tracer.span("operators.clustering") as s:
            vectors = tfidf.to_ml_vectors(tf, vocab_size=cfg.cluster_dims)
            assign, _k, _sil = clustering.cluster_documents(
                vectors, k=8, unpersist_input=False, evaluate=False
            )
            assign, n_assign = _force(assign)
            _, n_clusters = _force(
                clustering.cluster_summaries(assign, tf).join(
                    clustering.cluster_coherence_centroid(assign, tf),
                    "cluster_id", "left",
                )
            )
            s.counts["rows_out"] = n_assign + n_clusters
        with tracer.span("plans.triples") as s:
            parts = [
                T3.edge_triples(edges),
                T3.document_property_triples(
                    enriched, id_col=ID_COL, created_at=cfg.created_at
                ),
                T3.concept_property_triples(cons),
            ]
            if cfg.with_definitions:
                parts.append(T3.concept_definition_triples(
                    cons, enriched, id_col=ID_COL, text_col=TEXT_COL
                ))
            trip = parts[0]
            for p in parts[1:]:
                trip = trip.unionByName(p)
            T3.write_triples(trip, triples_dir)
            s.counts["rows_out"] = spark.read.parquet(triples_dir).count()

    with tracer.span("sources.checkpoint") as s:
        stages = {"documents": enriched, "concepts": cons,
                  "similarities": sims, "related": rel_docs,
                  "edges": edges, "triples": trip}
        cp = CheckpointManager(spark, ckpt_dir)
        fp = cp.fingerprint(docs, content_col=TEXT_COL)
        for name, df in stages.items():
            cp.stage(name, fp, lambda d=df: d,
                     partition_by=["pred"] if name == "triples" else None)
        t_restore = time.perf_counter()
        restore = CheckpointManager(spark, ckpt_dir)
        back = {name: restore.stage(name, fp, _not_checkpointed(name))
                for name in stages}
        s.counts["rows_out"] = back["triples"].count()
        s.counts["restore_s"] = time.perf_counter() - t_restore
        s.counts["stages_reused"] = len(back)
        s.counts["bytes_written"] = _dir_bytes(ckpt_dir)

    out["documents"] = enriched
    out["pipeline_s"] = sum(
        sp.end - sp.start for sp in tracer.spans if sp.name in PIPELINE_LAYERS
    )
    return out


def _not_checkpointed(stage: str):
    def thunk():
        raise RuntimeError(f"stage {stage!r} was not restored on restart")
    return thunk


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


# -- event log --------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh)
    return events


def layer_metrics(tracer: Tracer, events: list[dict]) -> dict[str, float]:
    """Per-layer metrics from the spans and the event log."""
    job_span, job_iv, stage_job = {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            job_span[e["Job ID"]] = span
            job_iv[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job_iv[e["Job ID"]][1] = e["Completion Time"] / 1e3

    shuffle, spill, stage_tasks = {}, {}, {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        span = job_span.get(stage_job.get(e["Stage ID"]))
        if span is None:
            continue
        tm = e.get("Task Metrics") or {}
        sw = (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        shuffle[span] = shuffle.get(span, 0) + sw
        spill[span] = spill.get(span, 0) + tm.get("Disk Bytes Spilled", 0)
        info = e["Task Info"]
        stage_tasks.setdefault((span, e["Stage ID"]), []).append(
            max(info["Finish Time"] - info["Launch Time"], 1) / 1e3
        )

    out: dict[str, float] = {}
    for span in tracer.spans:
        if span.name not in LAYERS:
            continue
        name = span.name
        busy = _covered(
            [iv for j, iv in job_iv.items()
             if job_span.get(j) == name and iv[1] is not None],
            span.start, span.end,
        )
        out[f"{name}.self_s"] = tracer.self_s(span)
        out[f"{name}.driver_s"] = max(span.end - span.start - busy, 0.0)
        out[f"{name}.rows_out"] = span.counts.get("rows_out", 0)
        out[f"{name}.shuffle_write_mb"] = shuffle.get(name, 0) / 2**20
        out[f"{name}.spill_mb"] = spill.get(name, 0) / 2**20
        out[f"{name}.task_skew"] = _skew(
            [t for (sp, _), t in stage_tasks.items() if sp == name]
        )
        for key, value in span.counts.items():
            if key != "rows_out":
                out[f"{name}.{key}"] = value
    return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _skew(stages: list[list[float]]) -> float:
    """Max / median task time per stage, averaged over the layer's
    multi-task stages weighted by their total task time (tiny stages
    would otherwise dominate with millisecond jitter)."""
    num = den = 0.0
    for tasks in stages:
        if len(tasks) < 2:
            continue
        weight = sum(tasks)
        num += weight * max(tasks) / statistics.median(tasks)
        den += weight
    return num / den if den else 1.0
