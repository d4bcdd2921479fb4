"""Distributed term statistics + BM25 / TF-IDF weighting.

The scalable re-expression of the reference's in-memory index build
(``retrieve/bm25.py:146-197``, ``retrieve/tfidf.py:146-161``) as plain
DataFrame aggregations that Catalyst executes with partial+final hash
aggregation and whole-stage codegen:

    tokenize (JVM expr)           — SURVEY §2.2 P2+P3
    → groupBy(doc_id, term).count — A1 term frequencies
    → groupBy(doc_id).sum         — A4 doc lengths
    → global avg                  — A5 avgdl (broadcast scalar)
    → groupBy(term).sum/count     — A2/A3 term stats + idf
    → per-term L2 via agg + join  — A6 (groupBy+join, window-free:
                                     no per-partition sort at scale)

Scale notes (10^12 docs):
* every aggregation here is key-partitioned with map-side combine;
  the only shuffles are on (doc_id, term), doc_id, and term;
* the (doc_id,term)→term shuffle is skew-prone (zipfian head grams) —
  AQE handles the agg side; the posting-list builder (postings.py)
  additionally salts head terms explicitly;
* avgdl / n_docs are single scalars — crossJoin(broadcast(stats)) so
  every executor gets them without a shuffle.

All arithmetic here is DOUBLE (for exact agreement with the DuckDB
oracle); the compressed-postings path (postings.py) re-derives weights
in float32 numpy to emulate the reference's float32 index
(bm25.py:151-153). Rank order is identical; tests pin both.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from neural_cherche_spark.text.ngrams import term_tf_pairs_column, tokenize_terms


@dataclass(frozen=True)
class BM25Config:
    """Defaults match the reference (bm25.py:118-143, README.md:109-118).

    ``k1 ≥ 0`` and ``0 ≤ b ≤ 1`` are required: every block-max bound
    and the idf-sign whole-query prune assume the tf-saturation
    w1 − ε is nonnegative, which holds exactly on that domain."""

    k1: float = 1.5
    b: float = 0.75
    epsilon: float = 0.0
    n_min: int = 3
    n_max: int = 5

    def __post_init__(self) -> None:
        if not self.k1 >= 0.0:
            raise ValueError(f"BM25Config.k1 must be >= 0, got {self.k1}")
        if not 0.0 <= self.b <= 1.0:
            raise ValueError(f"BM25Config.b must be in [0, 1], got {self.b}")


def term_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_min: int = 3,
    n_max: int = 5,
    stats: Observation | None = None,
) -> DataFrame:
    """(doc_id, term, tf) — reference A1 (tfidf.py:114-120).

    Counted IN-ROW (sort + run-length over each doc's n-gram array,
    :func:`~neural_cherche_spark.text.ngrams.term_tf_pairs_column`)
    instead of ``explode → groupBy(doc, term)``: same rows, but the
    plan has no (doc, term) hash aggregation or exchange and the
    explode emits ~n_postings rows instead of ~token occurrences
    (guide §2.3/§2.4 — measured 2× on the 100k-doc tf stage; parity
    pinned by anti-joins both ways in tests).

    ``stats`` observes the collection statistics on the way, at no
    extra job: ``n`` docs with at least one n-gram and their Σdl ``s``
    (the docs and lengths :func:`doc_lengths` gives)."""
    pairs = docs.select(
        F.col(id_col), term_tf_pairs_column(text_col, n_min, n_max).alias("__ps")
    )
    if stats is not None:
        pairs = pairs.observe(
            stats,
            F.sum((F.size("__ps") > 0).cast("long")).alias("n"),
            F.sum(
                F.aggregate("__ps", F.lit(0).cast("long"), lambda a, p: a + p["tf"])
            ).alias("s"),
        )
    return pairs.select(F.col(id_col), F.explode("__ps").alias("__p")).select(
        id_col, F.col("__p.term").alias("term"), F.col("__p.tf").alias("tf")
    )


def doc_lengths(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dl) — sum of n-gram counts per doc (bm25.py:159)."""
    return tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))


def collection_stats(dl: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl) (bm25.py:161,180-183)."""
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def term_stats(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(term, tf_total, df) — NOTE reference idf uses *total collection
    count* tf_total, not doc-frequency (bm25.py:155-157,185-190).
    df is kept for diagnostics / skew planning."""
    return tf.groupBy("term").agg(
        F.sum("tf").alias("tf_total"),
        F.count(F.lit(1)).alias("df"),
    )


def bm25_weights(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: BM25Config = BM25Config(),
) -> DataFrame:
    """(doc_id, term, w) — normalized BM25 index weights.

    Implements SURVEY §2.9 steps 1-5 (single-batch build):
      w1  = tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) + ε        (bm25.py:163-178)
      idf = ln((N - tf_total + 0.5)/(tf_total + 0.5) + 1)   (bm25.py:185-190)
      w   = w1·idf / sqrt(Σ_docs (w1·idf)²)  per term       (bm25.py:192-193)

    Physical plan: one shuffle to (doc_id,term), one to doc_id (dl),
    one to term (stats + norms), the scalar stats broadcast. The final
    norm join is a shuffle-hash/sort-merge on term with AQE skew split.
    """
    from pyspark import StorageLevel

    # ONE tokenize pass: tf feeds four branches (dl, stats, ts, w1) and
    # the norms branch re-derives the whole weight tree — without a
    # persist the physical plan re-scans and re-tokenizes the corpus
    # once per branch (8 Scan+Generate subtrees measured in
    # plans/r06/index_build_before.txt; guide §2.4 "remove shuffles/
    # passes outright"). MEMORY_AND_DISK: spills instead of OOM; the
    # cache is released by the ContextCleaner when the DataFrame goes
    # out of scope.
    tf = term_frequencies(
        docs, text_col, id_col, cfg.n_min, cfg.n_max
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dl = doc_lengths(tf, id_col)
    stats = collection_stats(dl)
    ts = term_stats(tf, id_col)

    w1 = (
        tf.join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w1",
            F.col("tf")
            * (cfg.k1 + 1.0)
            / (
                F.col("tf")
                + cfg.k1 * (1.0 - cfg.b + cfg.b * F.col("dl") / F.col("avgdl"))
            )
            + F.lit(cfg.epsilon),
        )
    )
    w2 = (
        w1.join(ts, "term")
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("tf_total") + 0.5)
                / (F.col("tf_total") + 0.5)
                + 1.0
            ),
        )
        .withColumn("w2", F.col("w1") * F.col("idf"))
        .select(id_col, "term", "w2", "idf", "dl")
        # second shared subtree: w2 feeds both the per-term norm agg and
        # the final normalization join — persisting it keeps the joins
        # (tf⋈dl⋈stats⋈ts) single-pass too
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    norms = w2.groupBy("term").agg(
        F.sqrt(F.sum(F.col("w2") * F.col("w2"))).alias("term_norm")
    )
    return (
        w2.join(norms, "term")
        .withColumn("w", F.col("w2") / F.col("term_norm"))
        .select(id_col, "term", "w", "idf")
    )


def tfidf_weights(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_min: int = 3,
    n_max: int = 5,
) -> DataFrame:
    """(doc_id, term, w) — L2-normalized (per doc) smoothed tf-idf.

    Reference ``retrieve.TfIdf`` delegates to lenlp's TfidfVectorizer
    (tfidf.py:89-93); its pinned observable behavior is cosine(doc,
    identical query)=1.0 (tfidf.py:67-70), i.e. per-DOC L2
    normalization with query weighted by the same idf. We use the
    standard smoothed idf ln((1+N)/(1+df)) + 1 with per-doc L2 — the
    sklearn-family formula lenlp mirrors; exact lenlp constants are
    unpinnable offline (SURVEY §2.2 P4) and affect scores, not the
    cosine=1.0 invariant our tests assert.
    """
    from pyspark import StorageLevel

    # same shared-subtree treatment as bm25_weights (guide §2.4): tf
    # feeds dfreq/stats/w, and w feeds both the doc-norm agg and the
    # final join — persist both so the corpus is tokenized once
    tf = term_frequencies(docs, text_col, id_col, n_min, n_max).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = tf.select(id_col).distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0
        )
        .withColumn("w_raw", F.col("tf") * F.col("idf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    doc_norm = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("doc_norm")
    )
    return (
        w.join(doc_norm, id_col)
        .withColumn("w", F.col("w_raw") / F.col("doc_norm"))
        .select(id_col, "term", "w", "idf")
    )
