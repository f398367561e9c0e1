"""Workload definitions, seeded corpus generation and output checks.

A workload is a corpus shape; every workload runs the default
``PipelineConfig``. The seed selects a window of
``corpus.generate_corpus``'s row-id space: the generator is a pure
function of the row id, so a window starting at
``seed * STRIDE`` is a different corpus with the same planted
structure. A ``family`` workload makes every row of its window a member
of one mutated-boilerplate family. The pipeline only ever reads the
parquet table written here.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.corpus import generate_corpus

# the generator plants a near-duplicate pair at every id % 23 == 1 and
# a quality-filter row at id % 199 in {7, 8}; windows that start on a
# multiple of both keep that structure aligned across seeds
_PERIOD = 23 * 199
_SEED_SPACE = 1 << 20
ID_COL, TEXT_COL, LANG_COL = "doc_id", "content", "lang"


# per-word mutation rate of the family members: at the generator's
# default of 30 per mille, how many of the 12 bands put the family over
# the bucket cap varies with the seed (7 to 9); at 10, the same 9 bands
# cross it on every seed tried
FAMILY_MUTATION_PERMILLE = 10


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    # every row is a member of one mutated-boilerplate family, so the
    # family size, and with it the blocking work, is the same for every
    # seed
    family: bool = False


# why each workload exists: BENCHMARK.json and README.md
WORKLOADS = {
    w.name: w
    for w in (
        Workload(name="code_kg", rows=500),
        Workload(name="boilerplate_kg", rows=550, family=True),
    )
}


class _OffsetSession:
    """SparkSession stand-in whose ``range`` starts at ``offset``.

    ``generate_corpus`` derives every column from the ``spark.range``
    id, so shifting the range is how the seed reaches the generator
    without a seed parameter of its own."""

    def __init__(self, spark: SparkSession, offset: int):
        self._spark = spark
        self._offset = offset

    def range(self, start, end=None, step=1, numPartitions=None):
        return self._spark.range(
            start + self._offset, end + self._offset, step, numPartitions
        )

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _row_id(path: str) -> int:
    """The generator's row id, which it writes into every path."""
    return int(path.rsplit("/file", 1)[1].split(".", 1)[0])


@dataclass
class Corpus:
    path: str
    rows: int
    planted: DataFrame   # (a, b) doc-id pairs with a < b
    n_planted: int


def write_corpus(spark: SparkSession, w: Workload, seed: int,
                 path: str) -> Corpus:
    """Generate the seeded corpus, write it to ``path`` and derive the
    planted near-duplicate pairs from the written table."""
    stride = -(-w.rows // _PERIOD) * _PERIOD
    offset = (seed % _SEED_SPACE) * stride
    family = {
        "boilerplate_fraction": 1.0,
        "boilerplate_families": 1,
        "boilerplate_mutation_permille": FAMILY_MUTATION_PERMILLE,
    } if w.family else {}
    generate_corpus(
        _OffsetSession(spark, offset), w.rows, **family
    ).write.mode("overwrite").parquet(path)

    rows = spark.read.parquet(path).select("path", ID_COL).collect()
    doc_of = {_row_id(r["path"]): r[ID_COL] for r in rows}
    if min(doc_of, default=None) != offset or len(doc_of) != w.rows:
        raise RuntimeError(
            f"corpus holds ids {min(doc_of, default=None)}.. "
            f"({len(doc_of)} rows), expected {offset}.. ({w.rows} rows): "
            "generate_corpus no longer builds its rows from spark.range"
        )

    # id % 23 == 1 copies the body of id - 1, unless either row is a
    # quality-filter row; family members copy nothing
    def plain(rid: int) -> bool:
        return not w.family and rid in doc_of and rid % 199 not in (7, 8)

    pairs = sorted(
        tuple(sorted((doc_of[rid - 1], doc_of[rid])))
        for rid in doc_of
        if rid % 23 == 1 and plain(rid) and plain(rid - 1)
    )
    if not w.family and not pairs:
        raise RuntimeError("the corpus plants no near-duplicate pairs")
    planted = spark.createDataFrame(pairs, "a string, b string")
    return Corpus(path=path, rows=w.rows, planted=planted,
                  n_planted=len(pairs))


@dataclass
class Check:
    triples: int
    digest: str
    problems: list


PLANTED_RECALL_MIN = 0.95


def check_output(spark: SparkSession, corpus: Corpus, triples_dir: str,
                 documents: DataFrame) -> Check:
    """Checks one pass's written triples and enriched documents:
    content_sha256 matches the content, the planted pairs appear in
    ``similar_to`` with recall >= PLANTED_RECALL_MIN, and the triple
    set's order-insensitive (subj, pred, obj) digest is returned for
    the caller's cross-pass comparison."""
    problems = []
    triples = spark.read.parquet(triples_dir)
    a = F.least("subj", "obj")
    b = F.greatest("subj", "obj")
    hits = F.broadcast(corpus.planted)
    agg = triples.join(
        hits,
        (F.col("pred") == "similar_to") & (a == hits["a"]) & (b == hits["b"]),
        "left",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)"))
        .alias("s"),
        F.count_distinct(hits["a"], hits["b"]).alias("hit"),
    ).first()
    n, digest = int(agg["n"]), f"{agg['n']}:{agg['s']}"
    if n == 0:
        problems.append("no triples written")
    planted = corpus.n_planted
    recall = agg["hit"] / planted if planted else 1.0
    if recall < PLANTED_RECALL_MIN:
        problems.append(
            f"planted near-duplicate recall {recall:.4f} "
            f"({agg['hit']}/{planted}) < {PLANTED_RECALL_MIN}"
        )

    docs = documents.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.col("content_sha256").isNull()
                | (F.col("content_sha256") != F.sha2(F.col(TEXT_COL), 256)),
                1,
            ).otherwise(0)
        ).alias("bad"),
    ).first()
    if docs["n"] != corpus.rows or docs["bad"]:
        problems.append(
            f"content_sha256 invariant: {docs['bad']} of {docs['n']} "
            f"documents differ (corpus has {corpus.rows})"
        )
    return Check(n, digest, problems)
