"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k over sf0.001 documents.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2, each checked against a DuckDB oracle at sf0.01.

Both sides tokenize identically (lowercase + in-word char 3-5-grams,
reference retrieve/bm25.py:131-137 semantics) and round floating
outputs to 6 dp AFTER ranking on the rounded value, so the
order-insensitive value-hash comparison is deterministic across
engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared fixtures: the literal query workload (words drawn from the
# driver testdata vocabulary), embedded identically in Spark + SQL.
# ---------------------------------------------------------------------------
QUERY_SET: list[tuple[int, str]] = [
    # 'dup' is the only rare word in the driver corpus → positive idf →
    # real ranked results (reference idf goes negative for any term with
    # tf_total > N, bm25.py:185-190, and scores ≤ 0 are dropped).
    (0, "dup"),
    (1, "dup merge batch"),
    (2, "dup window value stream"),
    (3, "hash join table"),  # all head terms → negative idf → empty
    (4, "slow row key part"),  # likewise
    (5, "zzzzqqq"),  # zero-overlap → must return nothing (SURVEY T1 note)
]

K1, B, EPS = 1.5, 0.75, 0.0  # reference defaults (bm25.py:118-143)
TOP_K = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERY_SET, "query_id long, query string")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL building blocks
# ---------------------------------------------------------------------------
# char_wb 3-5 n-gram tokenizer over `documents` (same semantics as
# neural_cherche_spark.text.ngrams, SURVEY §2.2 P2+P3)
_TOK_DOCS = r"""
words AS (
  SELECT doc_id, w FROM documents,
  LATERAL unnest(regexp_split_to_array(lower(text), '\s+')) AS t(w)
  WHERE length(w) >= 3
),
grams AS (
  SELECT doc_id, substring(w, s::INT, n::INT) AS term
  FROM words
  JOIN LATERAL (SELECT unnest(range(3,6)) AS n) tn ON length(w) >= n
  JOIN LATERAL (SELECT unnest(range(1, length(w)-n+2)) AS s) ts ON TRUE
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2)
"""

_QUERY_VALUES = ", ".join(f"({i}, '{q}')" for i, q in QUERY_SET)

_TOK_QUERIES = rf"""
qtab(query_id, query) AS (VALUES {_QUERY_VALUES}),
qwords AS (
  SELECT query_id, w FROM qtab,
  LATERAL unnest(regexp_split_to_array(lower(query), '\s+')) AS t(w)
  WHERE length(w) >= 3
),
qgrams AS (
  SELECT query_id, substring(w, s::INT, n::INT) AS term
  FROM qwords
  JOIN LATERAL (SELECT unnest(range(3,6)) AS n) tn ON length(w) >= n
  JOIN LATERAL (SELECT unnest(range(1, length(w)-n+2)) AS s) ts ON TRUE
),
qtf AS (SELECT query_id, term, count(*) AS qtf FROM qgrams GROUP BY 1, 2)
"""

# BM25 weight pipeline (SURVEY §2.9 steps 1-5) as SQL CTEs
_BM25_WEIGHTS = rf"""
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
cstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
tstats AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf_total,
                  CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
w2 AS (
  SELECT tf.doc_id, tf.term,
         (tf.tf * ({K1} + 1.0) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cstats.avgdl)) + {EPS})
         * ln((cstats.n_docs - tstats.tf_total + 0.5) / (tstats.tf_total + 0.5) + 1.0) AS w2
  FROM tf
  JOIN dl USING (doc_id)
  JOIN tstats USING (term)
  CROSS JOIN cstats
),
tnorm AS (SELECT term, sqrt(sum(w2 * w2)) AS term_norm FROM w2 GROUP BY 1),
weights AS (
  SELECT w2.doc_id, w2.term, w2.w2 / tnorm.term_norm AS w
  FROM w2 JOIN tnorm USING (term)
)
"""


# ---------------------------------------------------------------------------
# Spark-side query implementations
# ---------------------------------------------------------------------------
def _q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.index import term_frequencies

    return term_frequencies(_docs(spark, sf_dir)).select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf")
    )


def _q_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.index import doc_lengths, term_frequencies

    return doc_lengths(term_frequencies(_docs(spark, sf_dir))).select(
        "doc_id", F.col("dl").cast("long").alias("dl")
    )


def _q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.index import (
        collection_stats,
        doc_lengths,
        term_frequencies,
    )

    return collection_stats(
        doc_lengths(term_frequencies(_docs(spark, sf_dir)))
    ).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 6).alias("avgdl"),
    )


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.index import (
        doc_lengths,
        term_frequencies,
        term_stats,
    )

    tf = term_frequencies(_docs(spark, sf_dir))
    n_docs = doc_lengths(tf).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        term_stats(tf)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.col("tf_total").cast("long").alias("tf_total"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("tf_total") + 0.5)
                    / (F.col("tf_total") + 0.5)
                    + 1.0
                ),
                6,
            ).alias("idf"),
        )
    )


def _q_bm25_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.index import bm25_weights

    return bm25_weights(_docs(spark, sf_dir)).select(
        "doc_id", "term", F.round("w", 6).alias("w")
    )


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.index import bm25_weights
    from neural_cherche_spark.query import query_term_counts
    from pyspark.sql import Window

    w = bm25_weights(_docs(spark, sf_dir))
    qt = query_term_counts(_queries_df(spark))
    scored = (
        w.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("qtf") * F.col("w")), 6).alias("score"))
        .filter(F.col("score") > 0)
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "doc_id", "score", "rank")
    )


# The compressed index stores float32 weights (reference bm25.py:151-153
# parity); the exact oracle computes in double. 4-dp rounding puts both
# on the same grid (f32 error ~1e-6 at score magnitude ~2.4).
_COMPRESSED_DP = 4


def _entry_index(spark: SparkSession, sf_dir: str):
    """Build (or resume) the on-disk compressed index for sf_dir under
    /tmp — the production-shaped artifact the BMW/distributed entries
    query. Content-aware fingerprint makes resume safe across runs."""
    import hashlib

    from neural_cherche_spark.index.builder import build_index

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return build_index(
        spark,
        _docs(spark, sf_dir),
        f"/tmp/ncs_entry_idx_{tag}",
        id_col="doc_id",
        n_buckets=8,
        # low salt_every so head grams ARE salted at sf0.01 — the
        # correctness gate then covers multi-run (term, salt) block
        # bounds, not just the trivial single-salt layout
        salt_every=50,
    )


def _q_bm25_topk_compressed(strategy: str):
    """CORRECTNESS gate for the compressed-index query strategies:
    build → query.bmw.search_{bmw,distributed} → same oracle SQL as
    bm25_topk (at 4 dp). Rank is recomputed on the ROUNDED score so
    both engines rank on the same grid."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from neural_cherche_spark.query import bmw

        idx = _entry_index(spark, sf_dir)
        search = getattr(bmw, f"search_{strategy}")
        res = (
            search(idx, _queries_df(spark), k=TOP_K)
            .select(
                "query_id",
                "doc_id",
                F.round("score", _COMPRESSED_DP).alias("score"),
            )
            .filter(F.col("score") > 0)
        )
        win = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return res.withColumn(
            "rank", F.row_number().over(win).cast("long")
        ).select("query_id", "doc_id", "score", "rank")

    return q


def _q_bm25_topk_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the SERVING path under a VOCABULARY-
    FILTERED prepare (round-5, VERDICT r4 #6): prepare_serving(queries=
    workload) collects only the workload's grams into the driver map
    (bounded memory at 10^7+-term vocabularies) and a list search
    matches against it with one Spark job per call — results must
    match the same exact oracle as the batch compressed gates
    (QUERY_SET ids are the list positions, so query_id lines up with
    the oracle's). Scored by search_bmw, the block-max strategy for
    selective queries."""
    from neural_cherche_spark.query.bmw import search_bmw

    idx = _entry_index(spark, sf_dir)
    texts = [q for _, q in QUERY_SET]
    try:
        idx.prepare_serving(queries=texts)
        return _rank_on_grid(search_bmw(idx, texts, TOP_K), _COMPRESSED_DP)
    finally:
        idx.close()


def _q_bm25_topk_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the SPARK-FREE serving tier
    (serve.LocalSearcher): the same index artifact is searched via a
    pyarrow postings read + the in-process scorer — zero Spark jobs
    per query — and must match the same exact DuckDB oracle as every
    other bm25 top-k gate."""
    from neural_cherche_spark.serve import LocalSearcher

    idx = _entry_index(spark, sf_dir)
    texts = [q for _, q in QUERY_SET]
    try:
        idx.prepare_serving(queries=texts)
        srv = LocalSearcher.from_index(idx)
        rows = [
            (qid, d["doc_id"], float(d["score"]))
            for qid, res in enumerate(srv.search(texts, k=TOP_K))
            for d in res
        ]
        return _rank_on_grid(
            spark.createDataFrame(
                rows, "query_id long, doc_id long, score double"
            ),
            _COMPRESSED_DP,
        )
    finally:
        idx.close()


def _rank_on_grid(res: DataFrame, dp: int) -> DataFrame:
    from pyspark.sql import Window

    res = res.select(
        "query_id", "doc_id", F.round("score", dp).alias("score")
    ).filter(F.col("score") > 0)
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return res.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select("query_id", "doc_id", "score", "rank")


def _q_bm25_topk_raw_bmw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the RAW storage mode (per-posting tf+dl,
    query-time f64 weights): fresh raw build → block-max search →
    same oracle as the other compressed gates."""
    import hashlib

    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import search_bmw

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx = build_index(
        spark,
        _docs(spark, sf_dir),
        f"/tmp/ncs_entry_raw_{tag}",
        id_col="doc_id",
        n_buckets=8,
        salt_every=50,
        storage="raw",
    )
    return _rank_on_grid(
        search_bmw(idx, _queries_df(spark), k=TOP_K), _COMPRESSED_DP
    )


def _q_bm25_topk_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the segmented DELTA refresh: two stream
    batches, a materialize after each (second one appends seg=1 only,
    seg=0 bytes untouched), block-max search over the merged segments —
    must match the full-corpus exact oracle (global stats stay exact
    across refreshes; no stale-idf quirk).

    The /tmp state dir is keyed by a CONTENT hash of the input parquet
    bytes, not just the path: the stream ledger skips replayed epochs
    by id, so a regenerated corpus under the same path must map to
    fresh state (unlike the build_index gates, whose resume is
    content-fingerprinted internally). Stat signatures are not enough —
    mtime has 1 s granularity, so a same-size regeneration within one
    second would silently reuse stale state."""
    from neural_cherche_spark.query.bmw import search_bmw
    from neural_cherche_spark.streaming import CompressedIndexStream

    tag = _content_tag(sf_dir)
    docs = _docs(spark, sf_dir)
    stream = CompressedIndexStream(
        spark, f"/tmp/ncs_entry_delta_state_{tag}"
    )
    idx_dir = f"/tmp/ncs_entry_delta_idx_{tag}"
    stream.add_batch(docs.filter(F.col("doc_id") % 2 == 0), epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.add_batch(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=1)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert len(idx.manifest.segments) == 2, "delta gate must span 2 segments"
    return _rank_on_grid(
        search_bmw(idx, _queries_df(spark), k=TOP_K), _COMPRESSED_DP
    )


def _content_tag(sf_dir: str) -> str:
    """md5 over the documents.parquet BYTES (plus the path): the /tmp
    stream-state keys must change whenever the corpus content does,
    even for a same-size same-second regeneration."""
    import hashlib
    import os as _os

    p = f"{sf_dir}/documents.parquet"
    h = hashlib.md5(sf_dir.encode())
    files = (
        [_os.path.join(p, f) for f in sorted(_os.listdir(p))]
        if _os.path.isdir(p)
        else [p]
    )
    for fp in files:
        if not _os.path.isfile(fp):
            continue
        h.update(_os.path.basename(fp).encode())
        with open(fp, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:10]


def _q_tfidf_topk_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the tfidf raw/delta path (round-4): two
    stream batches materialized with weighting='tfidf', storage='raw'
    — seg=1 appended, docnorm revision rewritten — must match the
    full-corpus exact TfIdf cosine oracle on the 6-dp grid (raw
    scores are f64 end-to-end)."""
    from neural_cherche_spark.streaming import CompressedIndexStream

    tag = _content_tag(sf_dir)
    docs = _docs(spark, sf_dir)
    stream = CompressedIndexStream(
        spark, f"/tmp/ncs_entry_tfdelta_state_{tag}"
    )
    idx_dir = f"/tmp/ncs_entry_tfdelta_idx_{tag}"
    stream.add_batch(docs.filter(F.col("doc_id") % 2 == 0), epoch_id=0)
    stream.materialize(
        idx_dir, n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf",
    )
    stream.add_batch(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=1)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf",
    )
    assert len(idx.manifest.segments) == 2, "delta gate must span 2 segments"
    return _rank_on_grid(idx.search(_queries_df(spark), k=TOP_K), 6)


def _q_bm25_topk_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for DELETE support (round-4, beyond-reference):
    two stream batches + a delete batch (doc_id % 7 == 3), delta
    materialize (tombstone masking over untouched segments, ledger-
    exact stats), block-max search — must match the exact oracle over
    the REMAINING documents only."""
    from neural_cherche_spark.query.bmw import search_bmw
    from neural_cherche_spark.streaming import CompressedIndexStream

    tag = _content_tag(sf_dir)
    docs = _docs(spark, sf_dir)
    stream = CompressedIndexStream(
        spark, f"/tmp/ncs_entry_del_state_{tag}"
    )
    idx_dir = f"/tmp/ncs_entry_del_idx_{tag}"
    stream.add_batch(docs.filter(F.col("doc_id") % 2 == 0), epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.add_batch(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=1)
    stream.delete_batch(
        docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        epoch_id=2,
    )
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert idx.manifest.tombstones_path, "delete gate must carry tombstones"
    return _rank_on_grid(
        search_bmw(idx, _queries_df(spark), k=TOP_K), _COMPRESSED_DP
    )


def _q_tfidf_topk_bmw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the tfidf-weighted compressed index: the
    block-max path must match the exact TfIdf oracle on the 4-dp
    grid (float32 stored weights)."""
    import hashlib

    from pyspark.sql import Window

    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import search_bmw

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx = build_index(
        spark,
        _docs(spark, sf_dir),
        f"/tmp/ncs_entry_tfidf_{tag}",
        id_col="doc_id",
        n_buckets=8,
        salt_every=50,
        weighting="tfidf",
    )
    res = (
        search_bmw(idx, _queries_df(spark), k=TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.round("score", _COMPRESSED_DP).alias("score"),
        )
        .filter(F.col("score") > 0)
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return res.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select("query_id", "doc_id", "score", "rank")


def _q_tfidf_topk_raw_bmw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the tfidf RAW storage block-max path
    (round-5): blocks carry per-posting tf + quantized encode-time
    docnorms, per-segment γ drift factors keep the bounds sound, and
    search_bmw prunes instead of silently bulking — must match the
    full-corpus exact TfIdf cosine oracle on the 6-dp grid (raw
    scores are f64 end-to-end)."""
    import hashlib

    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import _tfidf_raw_gammas, search_bmw

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx = build_index(
        spark,
        _docs(spark, sf_dir),
        f"/tmp/ncs_entry_tfraw_{tag}",
        id_col="doc_id",
        n_buckets=8,
        salt_every=50,
        weighting="tfidf",
        storage="raw",
    )
    assert _tfidf_raw_gammas(idx) is not None, (
        "tfidf raw gate must take the block-max path (γ coverage)"
    )
    return _rank_on_grid(
        search_bmw(idx, _queries_df(spark), k=TOP_K), 6
    )


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over L2-normalized smoothed tf-idf (reference
    retrieve.TfIdf semantics; SURVEY §2.9 TfIdf variant)."""
    from neural_cherche_spark.index import tfidf_weights
    from neural_cherche_spark.query.exact import query_term_counts
    from pyspark.sql import Window

    w = tfidf_weights(_docs(spark, sf_dir))
    qt = query_term_counts(_queries_df(spark))
    dfq = qt.join(w.select("term", "idf").distinct(), "term").withColumn(
        "qw_raw", F.col("qtf") * F.col("idf")
    )
    qnorm = dfq.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw"))).alias("qnorm")
    )
    scored = (
        dfq.join(qnorm, "query_id")
        .withColumn("qw", F.col("qw_raw") / F.col("qnorm"))
        .join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("qw") * F.col("w")), 6).alias("score"))
        .filter(F.col("score") > 0)
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "doc_id", "score", "rank")
    )


def _q_field_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P1: multi-field concat with missing→'' semantics."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ", F.coalesce(F.col("source"), F.lit("")), F.coalesce(F.col("text"), F.lit(""))
        ).alias("joined"),
    )


def _q_text_decorate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P5: model-input decoration — '[Q] ' query prefix
    (colbert.py:208-209 shape) and '[D] ' + text + MASK-run suffix
    (splade.py:205-207 shape) as pure Catalyst concat (the one per-row
    op before a 10^12-doc neural encode that must NOT be a UDF)."""
    from neural_cherche_spark.text.decorate import decorate

    return _docs(spark, sf_dir).select(
        "doc_id",
        decorate("text", query_mode=True).alias("q_text"),
        decorate("text", n_mask_tokens=5).alias("d_text"),
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline ops (dedup / ANN / text analysis)
# ---------------------------------------------------------------------------
def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir)).select(
        "content_hash",
        F.col("n_dups").cast("long").alias("n_dups"),
        "canonical_id",
    )


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    sh = word_shingles(_docs(spark, sf_dir), n=3)
    sig = minhash_signatures(sh, num_hashes=16)
    return lsh_candidate_pairs(sig, bands=4, num_hashes=16)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.05).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified near-dup pairs (3-gram
    jaccard >= 0.2): every doc labeled with its canonical (smallest)
    reachable doc_id; singletons label themselves. The keep/drop
    resolution step of the dedup pipeline."""
    from neural_cherche_spark.ops.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return dedup_clusters(docs, pairs).select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.dedup import simhash

    return simhash(_docs(spark, sf_dir), bits=32)


def _q_simhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.dedup import simhash, simhash_neighbors

    fp = simhash(_docs(spark, sf_dir), bits=32)
    return simhash_neighbors(fp, max_hamming=3, bits=32).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_ann_lsh_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.ann import lsh_banded_cosine_scores
    from pyspark.sql import Window

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = lsh_banded_cosine_scores(
        vecs, bands=4, planes_per_band=4, seed=42
    ).withColumn("cos", F.round("cos", 6))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("vec_id", "neighbor_id", "cos", "rank")
    )


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH candidates + exact verify).
    Threshold 0.4 ≈ the near-dup tail of this synthetic fixture."""
    from neural_cherche_spark.ops.ann import embedding_near_duplicates

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_duplicates(
        vecs, threshold=0.4, bands=4, planes_per_band=4, seed=42
    ).select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.ann import cosine_scores
    from pyspark.sql import Window

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = cosine_scores(vecs).withColumn("cos", F.round("cos", 6))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("vec_id", "neighbor_id", "cos", "rank")
    )


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.ops.ann import lsh_cosine_scores
    from pyspark.sql import Window

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = lsh_cosine_scores(vecs, n_planes=8, seed=42).withColumn(
        "cos", F.round("cos", 6)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("vec_id", "neighbor_id", "cos", "rank")
    )


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN self-search (ops/ivf.py): hash-seeded coarse
    centroids (iters=0 — the oracle-exact configuration; Lloyd
    refinement is pytest-gated in test_ivf.py), nprobe=2 of 16
    partitions, exact cosine inside the probed slice only."""
    from neural_cherche_spark.ops.ivf import ivf_seed_centroids, ivf_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = ivf_seed_centroids(vecs, n_centroids=16)
    return ivf_topk(
        vecs, vecs, cents, k=5, nprobe=2, exclude_self=True
    ).select("vec_id", "neighbor_id", "cos", "rank")


def _q_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for the STATEFUL STREAMING dedup operator
    (streaming/stateful.py, applyInPandasWithState): run the stream
    over the documents table as an availableNow file source; the
    first-seen-wins semantics over a static input equal batch
    min(doc_id)-per-content-hash, which is the DuckDB oracle."""
    import os
    import tempfile

    from neural_cherche_spark.streaming import streaming_exact_dedup

    work = tempfile.mkdtemp(prefix="ncs_stream_dedup_")
    # file-stream sources take a DIRECTORY; link the table in
    os.makedirs(f"{work}/src")
    os.symlink(
        f"{sf_dir}/documents.parquet", f"{work}/src/documents.parquet"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{work}/src")
    )
    q = (
        streaming_exact_dedup(stream, n_shards=8)
        .writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "stream_exact_dedup stream did not finish within 300 s"
        )
    return spark.read.parquet(f"{work}/out").select(
        "doc_id", "text", "content_hash"
    )


def _q_stream_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRECTNESS gate for STREAMING near-dup candidate detection
    (streaming/stateful.py streaming_lsh_candidates): run the stream
    over the documents table as a single availableNow micro-batch;
    first-holder semantics over a static input equal the batch LSH
    buckets with min-doc holders, which is the DuckDB oracle (same
    minhash/band-key formulas as the minhash_lsh_pairs gate)."""
    import os
    import tempfile

    from neural_cherche_spark.streaming import streaming_lsh_candidates

    work = tempfile.mkdtemp(prefix="ncs_stream_lsh_")
    os.makedirs(f"{work}/src")
    os.symlink(
        f"{sf_dir}/documents.parquet", f"{work}/src/documents.parquet"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{work}/src")
    )
    q = (
        streaming_lsh_candidates(
            stream, shingle_n=3, num_hashes=16, bands=4, n_shards=8
        )
        .writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        # proceeding would read a partial/missing output dir and fail
        # confusingly downstream (ADVICE r5) — stop and raise clearly
        q.stop()
        raise RuntimeError(
            "stream_lsh_candidates stream did not finish within 600 s"
        )
    return spark.read.parquet(f"{work}/out").select(
        "doc_id", F.col("band").cast("long").alias("band"), "dup_of"
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.text.analysis import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.text.analysis import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.text.analysis import token_count

    return token_count(_docs(spark, sf_dir))


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neural_cherche_spark.text.analysis import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def _q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition rules (dup-word / dup-2gram /
    top-word fractions + threshold flag) — pure Catalyst, zero
    shuffle."""
    from neural_cherche_spark.text.analysis import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


# deterministic synthetic PII injected into the corpus text so the
# scrub gate has real positives (emails on doc_id%5, phone-shaped runs
# on doc_id%7; CASE order disambiguates doc_id%35)
_PII_AUGMENT = (
    "concat(text, CASE "
    "WHEN doc_id % 5 = 0 THEN concat(' contact user', doc_id, '@example.com now') "
    "WHEN doc_id % 7 = 0 THEN concat(' call 555-0100-', cast(doc_id % 90 + 10 as int), ' today') "
    "ELSE '' END)"
)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction counts + redacted-text digest over the
    deterministically PII-augmented corpus."""
    from neural_cherche_spark.text.analysis import pii_scrub

    aug = _docs(spark, sf_dir).withColumn("text", F.expr(_PII_AUGMENT))
    return pii_scrub(aug).select(
        "doc_id", "n_emails", "n_phones",
        F.md5("clean_text").alias("clean_md5"),
    )


def _q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc corpus-shared shingle fraction (boilerplate /
    contamination screen)."""
    from neural_cherche_spark.ops.dedup import shingle_novelty

    return shingle_novelty(_docs(spark, sf_dir), n=3)


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide line dedup. The synthetic corpus has no
    newlines, so the gate derives a line structure DETERMINISTICALLY
    on both sides first (groups of 7 words become lines) — same
    pattern as the pii_scrub gate's synthetic injection."""
    from neural_cherche_spark.ops.dedup import line_dedup

    docs = _docs(spark, sf_dir).withColumn(
        "__w", F.expr(r"filter(split(lower(text), '\\s+'), x -> x != '')")
    ).withColumn(
        "text",
        F.expr(
            "array_join(transform("
            "sequence(0, cast(ceil(size(__w)/7.0) as int) - 1), "
            "g -> array_join(slice(__w, g*7+1, 7), ' ')), '\n')"
        ),
    ).drop("__w")
    out = line_dedup(docs)
    return out.select(
        "doc_id", "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def _q_cross_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen: docs 0..19 play the held-out
    benchmark (probes), the rest the training corpus; n=3 shingles so
    the synthetic corpus yields a non-degenerate overlap set (the
    production default is 8-gram)."""
    from neural_cherche_spark.ops.dedup import cross_contamination

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") >= 20)
    probes = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    return cross_contamination(corpus, probes, n=3).select(
        "doc_id", "probe_id",
        F.col("n_shared").cast("long").alias("n_shared"),
    )


def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (ops/dedup.py substring_span_dedup,
    the windowed Lee et al. 2022 formulation) at the literature's
    canonical 50-token window — the synthetic corpus naturally repeats
    boilerplate runs long enough to trip it."""
    from neural_cherche_spark.ops.dedup import substring_span_dedup

    return substring_span_dedup(_docs(spark, sf_dir), window=50).select(
        "doc_id", "n_tokens", "n_dup_windows", "n_dup_tokens", "dup_frac"
    )


def _q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC self-search (ops/pq.py): hash-seeded
    codebooks (iters=0 — the oracle-exact configuration; Lloyd
    refinement and the Arrow paths are pytest-gated in test_pq.py),
    m=8 subspaces × 16 codes over the 64-dim embeddings; the corpus
    side of the scoring join reads only the 8-byte code rows."""
    from neural_cherche_spark.ops.pq import pq_codebooks, pq_encode, pq_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cb = pq_codebooks(vecs, m=8, k_codes=16)
    codes = pq_encode(vecs, cb, m=8)
    return pq_topk(
        vecs, codes, cb, k=5, m=8, exclude_self=True
    ).select("vec_id", "neighbor_id", "score", "rank")


def _q_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage rank step (SURVEY §3.3): MaxSim late interaction over
    token-embedding tables derived deterministically from the
    embeddings fixture (4 tokens = 16-dim slices of each vector)."""
    from neural_cherche_spark.ops.maxsim import maxsim_scores
    from pyspark.sql import Window

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tok = "array(slice(embedding,1,16), slice(embedding,17,16), slice(embedding,33,16), slice(embedding,49,16))"
    doc_tokens = vecs.select(
        F.col("vec_id").alias("doc_id"), F.expr(tok).alias("d_tokens")
    )
    query_tokens = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.expr(tok).alias("q_tokens")
    )
    candidates = (
        vecs.select(F.col("vec_id").alias("doc_id"))
        .crossJoin(query_tokens.select("query_id"))
        .filter(F.col("doc_id") % 5 == F.col("query_id"))
    )
    scored = maxsim_scores(candidates, doc_tokens, query_tokens).withColumn(
        "score", F.round("score", 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "score", "rank")
    )


def _q_colbert_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieve.ColBERT semantics (reference retrieve/colbert.py:120-190):
    MaxSim over the FULL corpus for every query — no candidate list, no
    positive-score filter. Same deterministic token fixture as
    colbert_maxsim (4 tokens = 16-dim slices of each vector)."""
    from neural_cherche_spark.ops.maxsim import maxsim_retrieve

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tok = "array(slice(embedding,1,16), slice(embedding,17,16), slice(embedding,33,16), slice(embedding,49,16))"
    doc_tokens = vecs.select(
        F.col("vec_id").alias("doc_id"), F.expr(tok).alias("d_tokens")
    )
    query_tokens = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.expr(tok).alias("q_tokens")
    )
    ranked = maxsim_retrieve(doc_tokens, query_tokens, k=None).withColumn(
        "score", F.round("score", 6)
    )
    # re-rank on the ROUNDED score so grid ties break identically in
    # both engines (same protocol as the other score-graded entries)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        ranked.select("query_id", "doc_id", "score")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# Sparse neural retrieval (Splade / SparseEmbed semantics, torch-free)
# ---------------------------------------------------------------------------
# Deterministic activation fixture: dim i of the embeddings table is
# "token" i, activated where the value exceeds 0.2 (ReLU-thresholded —
# ~19 of 64 dims). Queries are vec_id < 5.
_ACT_THRESHOLD = 0.2


def _activations(spark: SparkSession, sf_dir: str, queries: bool) -> DataFrame:
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if queries:
        vecs = vecs.filter(F.col("vec_id") < 5)
    id_name = "query_id" if queries else "doc_id"
    return (
        vecs.select(F.col("vec_id").alias(id_name), F.posexplode("embedding"))
        .select(
            id_name,
            F.col("pos").cast("long").alias("term_id"),
            F.col("col").cast("double").alias("weight"),
        )
        .filter(F.col("weight") > _ACT_THRESHOLD)
    )


def _token_embs(spark: SparkSession, sf_dir: str, queries: bool) -> DataFrame:
    """Per-(id, activated term) 16-dim token embedding: a deterministic
    slice of the base vector (token t ↦ dims (t%4)*16 .. +16)."""
    acts = _activations(spark, sf_dir, queries)
    id_name = "query_id" if queries else "doc_id"
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias(id_name), "embedding"
    )
    return acts.join(vecs, id_name).select(
        id_name,
        "term_id",
        F.expr(
            "slice(embedding, cast(term_id % 4 as int) * 16 + 1, 16)"
        ).alias("emb"),
    )


def _rank10(scored: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "doc_id", "score", "rank")
    )


def _q_splade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference retrieve.Splade semantics (splade.py:23-78): sparse
    dot product over activations, top-k. Ranked on the 6-dp grid."""
    from neural_cherche_spark.ops.sparse_neural import splade_scores

    scored = splade_scores(
        _activations(spark, sf_dir, queries=False),
        _activations(spark, sf_dir, queries=True),
    ).withColumn("score", F.round("score", 6))
    return _rank10(scored)


def _q_sparse_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference retrieve.SparseEmbed semantics (sparse_embed.py:341-452):
    activation-overlap candidates, token-intersection re-scoring.
    candidates uncut (exact mode) so both engines cut only once, on the
    rounded final score."""
    from neural_cherche_spark.ops.sparse_neural import (
        sparse_embed_scores,
        splade_scores,
    )

    dacts = _activations(spark, sf_dir, queries=False)
    qacts = _activations(spark, sf_dir, queries=True)
    cands = splade_scores(dacts, qacts).select("query_id", "doc_id")
    scored = sparse_embed_scores(
        cands,
        _token_embs(spark, sf_dir, queries=False),
        _token_embs(spark, sf_dir, queries=True),
    ).withColumn("score", F.round("score", 6))
    return _rank10(scored)


def _q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR metrics (SURVEY A8) of the BM25 run against deterministic
    synthetic qrels: doc relevant to query i iff doc_id % 7 == i."""
    from neural_cherche_spark.eval import evaluate_run

    run = _q_bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rank")
    qrels = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .crossJoin(_queries_df(spark).select("query_id"))
        .filter(F.col("doc_id") % 7 == F.col("query_id"))
        .withColumn("relevance", F.lit(1))
    )
    return evaluate_run(run, qrels, k=TOP_K)


# shared DuckDB CTE: lowercased non-empty word lists per doc
_DUCK_WORDS = r"""
dwords AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS w
  FROM documents
)
"""

_EN = "['the','of','and','to','in','is','that','for','with','was']"
_FR = "['le','la','les','de','des','et','un','une','est','que']"
_DE = "['der','die','das','und','ist','von','mit','ein','eine','nicht']"
_ES = "['el','la','los','las','de','y','que','es','en','por']"

_DUCK_SHINGLES = rf"""
{_DUCK_WORDS},
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
  FROM dwords, LATERAL unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS u(i)
)
"""

# simhash fingerprint pipeline (shared by the `simhash` and
# `simhash_neighbors` oracle entries)
_DUCK_SIMHASH = rf"""
{_DUCK_WORDS},
wtf AS (
  SELECT doc_id, uw.x AS word, count(*) AS tf
  FROM dwords, LATERAL unnest(w) AS uw(x)
  GROUP BY 1, 2
),
h AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(word), 1, 8))::BIGINT AS h
  FROM wtf
),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM h, LATERAL unnest(range(0, 32)) AS b(bit)
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << bit::INT ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
)
"""

_DUCK_COS_PAIRS = """
e AS (SELECT vec_id, embedding AS v FROM embeddings),
nrm AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x::DOUBLE * x::DOUBLE))) AS nr
  FROM e
)
"""


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k retrieval over sf0.001 documents."""
    return _q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_frequencies": _q_term_frequencies,
        "doc_length": _q_doc_length,
        "collection_stats": _q_collection_stats,
        "term_stats": _q_term_stats,
        "bm25_weights": _q_bm25_weights,
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_bmw": _q_bm25_topk_compressed("bmw"),
        "bm25_topk_serving": _q_bm25_topk_serving,
        "bm25_topk_local": _q_bm25_topk_local,
        "bm25_topk_raw_bmw": _q_bm25_topk_raw_bmw,
        "bm25_topk_delta": _q_bm25_topk_delta,
        "bm25_topk_delete": _q_bm25_topk_delete,
        "bm25_topk_distributed": _q_bm25_topk_compressed("distributed"),
        "tfidf_topk": _q_tfidf_topk,
        "tfidf_topk_bmw": _q_tfidf_topk_bmw,
        "tfidf_topk_raw_bmw": _q_tfidf_topk_raw_bmw,
        "tfidf_topk_delta": _q_tfidf_topk_delta,
        "field_concat": _q_field_concat,
        "text_decorate": _q_text_decorate,
        "stream_exact_dedup": _q_stream_exact_dedup,
        "stream_lsh_candidates": _q_stream_lsh_candidates,
        "dedup_exact": _q_dedup_exact,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "ngram_jaccard": _q_ngram_jaccard,
        "dedup_clusters": _q_dedup_clusters,
        "simhash": _q_simhash,
        "simhash_neighbors": _q_simhash_neighbors,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_lsh_banded_topk": _q_ann_lsh_banded_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_pq_topk": _q_ann_pq_topk,
        "embedding_near_dups": _q_embedding_near_dups,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality_score,
        "token_count": _q_token_count,
        "doc_fingerprint": _q_doc_fingerprint,
        "repetition_metrics": _q_repetition_metrics,
        "pii_scrub": _q_pii_scrub,
        "shingle_novelty": _q_shingle_novelty,
        "line_dedup": _q_line_dedup,
        "substring_dedup": _q_substring_dedup,
        "cross_contamination": _q_cross_contamination,
        "colbert_maxsim": _q_colbert_maxsim,
        "colbert_retrieve": _q_colbert_retrieve,
        "splade_topk": _q_splade_topk,
        "sparse_embed_topk": _q_sparse_embed_topk,
        "eval_metrics": _q_eval_metrics,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "term_frequencies": f"""
            WITH {_TOK_DOCS}
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf FROM tf
        """,
        "doc_length": f"""
            WITH {_TOK_DOCS}
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        """,
        "collection_stats": f"""
            WITH {_TOK_DOCS},
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1)
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(dl), 6) AS avgdl
            FROM dl
        """,
        "term_stats": f"""
            WITH {_TOK_DOCS},
            nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
            SELECT term,
                   CAST(sum(tf) AS BIGINT) AS tf_total,
                   CAST(count(*) AS BIGINT) AS df,
                   round(ln((nd.n_docs - sum(tf) + 0.5) / (sum(tf) + 0.5) + 1.0), 6) AS idf
            FROM tf CROSS JOIN nd
            GROUP BY term, nd.n_docs
        """,
        "bm25_weights": f"""
            WITH {_TOK_DOCS}, {_BM25_WEIGHTS}
            SELECT doc_id, term, round(w, 6) AS w FROM weights
        """,
        "bm25_topk": f"""
            WITH {_TOK_DOCS}, {_BM25_WEIGHTS}, {_TOK_QUERIES},
            scored AS (
              SELECT qtf.query_id, weights.doc_id,
                     round(sum(qtf.qtf * weights.w), 6) AS score
              FROM qtf JOIN weights USING (term)
              GROUP BY 1, 2
              HAVING round(sum(qtf.qtf * weights.w), 6) > 0
            ),
            ranked AS (
              SELECT query_id, doc_id, score,
                     CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS BIGINT) AS rank
              FROM scored
            )
            SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {TOP_K}
        """,
        # compressed-index paths: identical retrieval semantics, scored
        # on the 4-dp grid (float32 stored weights vs double oracle)
        **{
            name: f"""
            WITH {_TOK_DOCS}, {_BM25_WEIGHTS}, {_TOK_QUERIES},
            scored AS (
              SELECT qtf.query_id, weights.doc_id,
                     round(sum(qtf.qtf * weights.w), {_COMPRESSED_DP}) AS score
              FROM qtf JOIN weights USING (term)
              GROUP BY 1, 2
              HAVING round(sum(qtf.qtf * weights.w), {_COMPRESSED_DP}) > 0
            ),
            ranked AS (
              SELECT query_id, doc_id, score,
                     CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS BIGINT) AS rank
              FROM scored
            )
            SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {TOP_K}
        """
            for name in (
                "bm25_topk_bmw",
                "bm25_topk_serving",
                "bm25_topk_local",
                "bm25_topk_distributed",
                "bm25_topk_raw_bmw",
                "bm25_topk_delta",
            )
        },
        "bm25_topk_delete": f"""
            WITH docs_kept AS (
              SELECT * FROM documents WHERE doc_id % 7 != 3
            ),
            {_TOK_DOCS.replace("FROM documents,", "FROM docs_kept,")},
            {_BM25_WEIGHTS}, {_TOK_QUERIES},
            scored AS (
              SELECT qtf.query_id, weights.doc_id,
                     round(sum(qtf.qtf * weights.w), {_COMPRESSED_DP}) AS score
              FROM qtf JOIN weights USING (term)
              GROUP BY 1, 2
              HAVING round(sum(qtf.qtf * weights.w), {_COMPRESSED_DP}) > 0
            ),
            ranked AS (
              SELECT query_id, doc_id, score,
                     CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS BIGINT) AS rank
              FROM scored
            )
            SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {TOP_K}
        """,
        # tfidf: exact DataFrame path at 6 dp; compressed block-max
        # path at 4 dp (float32 stored weights)
        **{
            name: f"""
            WITH {_TOK_DOCS}, {_TOK_QUERIES},
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
            widf AS (
              SELECT term, ln((1.0 + nd.n_docs) / (1.0 + df)) + 1.0 AS idf
              FROM dfreq CROSS JOIN nd
            ),
            wraw AS (
              SELECT tf.doc_id, tf.term, tf.tf * widf.idf AS w_raw
              FROM tf JOIN widf USING (term)
            ),
            dnorm AS (
              SELECT doc_id, sqrt(sum(w_raw * w_raw)) AS dn FROM wraw GROUP BY 1
            ),
            w AS (
              SELECT wraw.doc_id, wraw.term, wraw.w_raw / dnorm.dn AS w
              FROM wraw JOIN dnorm USING (doc_id)
            ),
            qraw AS (
              SELECT qtf.query_id, qtf.term, qtf.qtf * widf.idf AS qw_raw
              FROM qtf JOIN widf USING (term)
            ),
            qnorm AS (
              SELECT query_id, sqrt(sum(qw_raw * qw_raw)) AS qn FROM qraw GROUP BY 1
            ),
            qw AS (
              SELECT qraw.query_id, qraw.term, qraw.qw_raw / qnorm.qn AS qw
              FROM qraw JOIN qnorm USING (query_id)
            ),
            scored AS (
              SELECT qw.query_id, w.doc_id, round(sum(qw.qw * w.w), {dp}) AS score
              FROM qw JOIN w USING (term)
              GROUP BY 1, 2
              HAVING round(sum(qw.qw * w.w), {dp}) > 0
            )
            SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= {TOP_K}
        """
            for name, dp in (
                ("tfidf_topk", 6),
                ("tfidf_topk_bmw", _COMPRESSED_DP),
                ("tfidf_topk_raw_bmw", 6),
                ("tfidf_topk_delta", 6),
            )
        },
        "field_concat": """
            SELECT doc_id,
                   concat(coalesce(source, ''), ' ', coalesce(text, '')) AS joined
            FROM documents
        """,
        "text_decorate": """
            SELECT doc_id,
                   '[Q] ' || text AS q_text,
                   '[D] ' || text ||
                   ' [MASK] [MASK] [MASK] [MASK] [MASK]' AS d_text
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   min(doc_id) AS canonical_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "stream_exact_dedup": """
            SELECT d.doc_id, d.text, md5(d.text) AS content_hash
            FROM documents d
            JOIN (
              SELECT md5(text) AS h, min(doc_id) AS m
              FROM documents GROUP BY 1
            ) f ON md5(d.text) = f.h AND d.doc_id = f.m
        """,
        "stream_lsh_candidates": f"""
            WITH {_DUCK_SHINGLES},
            mh AS (
              SELECT doc_id, seed, min(md5(shingle || ':' || seed)) AS minhash
              FROM shingles, LATERAL unnest(range(0, 16)) AS s(seed)
              GROUP BY 1, 2
            ),
            bands AS (
              SELECT doc_id, (seed // 4)::INT AS band,
                     md5(string_agg(seed || '=' || minhash, '|'
                         ORDER BY seed || '=' || minhash)) AS band_key
              FROM mh GROUP BY 1, 2
            ),
            first AS (
              SELECT band, band_key, min(doc_id) AS holder
              FROM bands GROUP BY 1, 2
            )
            SELECT b.doc_id, b.band::BIGINT AS band, f.holder AS dup_of
            FROM bands b JOIN first f USING (band, band_key)
            WHERE b.doc_id <> f.holder
        """,
        "minhash_lsh_pairs": f"""
            WITH {_DUCK_SHINGLES},
            mh AS (
              SELECT doc_id, seed, min(md5(shingle || ':' || seed)) AS minhash
              FROM shingles, LATERAL unnest(range(0, 16)) AS s(seed)
              GROUP BY 1, 2
            ),
            bands AS (
              SELECT doc_id, (seed // 4)::INT AS band,
                     md5(string_agg(seed || '=' || minhash, '|'
                         ORDER BY seed || '=' || minhash)) AS band_key
              FROM mh GROUP BY 1, 2
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, band_key)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "ngram_jaccard": f"""
            WITH {_DUCK_SHINGLES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(i / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i / (sa.sz + sb.sz - i) >= 0.05
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_DUCK_SHINGLES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE i / (sa.sz + sb.sz - i) >= 0.2
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs
            ),
            reach(s, d) AS (
              SELECT s, d FROM edges
              UNION
              SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
            ),
            lbl AS (
              SELECT s AS doc_id, min(d) AS m FROM reach GROUP BY 1
            )
            SELECT doc.doc_id,
                   CAST(least(doc.doc_id, coalesce(lbl.m, doc.doc_id))
                        AS BIGINT) AS cluster_id
            FROM documents doc LEFT JOIN lbl USING (doc_id)
        """,
        "simhash": f"""
            WITH {_DUCK_SIMHASH}
            SELECT doc_id, simhash FROM sh
        """,
        # oracle is the all-pairs brute force — structurally different
        # from the engine's pigeonhole chunk-join, so the blocking
        # completeness itself is what's verified
        "simhash_neighbors": f"""
            WITH {_DUCK_SIMHASH}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "ann_cosine_topk": f"""
            WITH {_DUCK_COS_PAIRS},
            scored AS (
              SELECT a.vec_id, b.vec_id AS neighbor_id,
                     round(
                       list_sum(list_transform(range(1, len(a.v) + 1),
                                i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE))
                       / (a.nr * b.nr), 6) AS cos
              FROM nrm a, nrm b
              WHERE a.vec_id <> b.vec_id
            )
            SELECT vec_id, neighbor_id, cos,
                   CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "ann_lsh_topk": f"""
            WITH {_DUCK_COS_PAIRS},
            plane_dots AS (
              SELECT n.vec_id, up.p,
                     sum(n.v[(ud.d + 1)::INT]::DOUBLE *
                         ((('0x' || substr(md5('42:' || up.p || ':' || ud.d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0)) AS pd
              FROM nrm n,
                   LATERAL unnest(range(0, 8)) AS up(p),
                   LATERAL unnest(range(0, len(n.v))) AS ud(d)
              GROUP BY 1, 2
            ),
            sigv AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN pd > 0 THEN 1::BIGINT << p::INT ELSE 0 END) AS BIGINT) AS s
              FROM plane_dots GROUP BY 1
            ),
            sig AS (SELECT nrm.vec_id, v, nr, s FROM nrm JOIN sigv USING (vec_id)),
            scored AS (
              SELECT a.vec_id, b.vec_id AS neighbor_id,
                     round(
                       list_sum(list_transform(range(1, len(a.v) + 1),
                                i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE))
                       / (a.nr * b.nr), 6) AS cos
              FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id <> b.vec_id
            )
            SELECT vec_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "ann_lsh_banded_topk": f"""
            WITH {_DUCK_COS_PAIRS},
            plane_dots AS (
              SELECT n.vec_id, up.p,
                     sum(n.v[(ud.d + 1)::INT]::DOUBLE *
                         ((('0x' || substr(md5('42:' || up.p || ':' || ud.d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0)) AS pd
              FROM nrm n,
                   LATERAL unnest(range(0, 16)) AS up(p),
                   LATERAL unnest(range(0, len(n.v))) AS ud(d)
              GROUP BY 1, 2
            ),
            band_sigs AS (
              SELECT vec_id, (p // 4)::INT AS band,
                     CAST(sum(CASE WHEN pd > 0 THEN 1::BIGINT << (p % 4)::INT ELSE 0 END) AS BIGINT) AS band_sig
              FROM plane_dots GROUP BY 1, 2
            ),
            cand AS (
              SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
              FROM band_sigs a JOIN band_sigs b USING (band, band_sig)
              WHERE a.vec_id <> b.vec_id
            ),
            scored AS (
              SELECT c.vec_id, c.neighbor_id,
                     round(
                       list_sum(list_transform(range(1, len(x.v) + 1),
                                i -> x.v[i]::DOUBLE * y.v[i]::DOUBLE))
                       / (x.nr * y.nr), 6) AS cos
              FROM cand c
              JOIN nrm x ON x.vec_id = c.vec_id
              JOIN nrm y ON y.vec_id = c.neighbor_id
            )
            SELECT vec_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "ann_ivf_topk": f"""
            WITH {_DUCK_COS_PAIRS},
            seeds AS (
              SELECT vec_id, v, nr FROM nrm
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            cents AS (
              SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                     ) - 1 AS centroid_id,
                     v AS cv, nr AS cnr
              FROM seeds
            ),
            ccos AS (
              SELECT n.vec_id, c.centroid_id,
                     round(
                       list_sum(list_transform(range(1, len(n.v) + 1),
                                i -> n.v[i]::DOUBLE * c.cv[i]::DOUBLE))
                       / (n.nr * c.cnr), 6) AS ccos
              FROM nrm n, cents c
            ),
            ranked AS (
              SELECT vec_id, centroid_id,
                     row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ccos DESC, centroid_id ASC
                     ) AS r
              FROM ccos
            ),
            assign AS (SELECT vec_id, centroid_id FROM ranked WHERE r = 1),
            probe  AS (SELECT vec_id, centroid_id FROM ranked WHERE r <= 2),
            scored AS (
              SELECT p.vec_id, a.vec_id AS neighbor_id,
                     round(
                       list_sum(list_transform(range(1, len(x.v) + 1),
                                i -> x.v[i]::DOUBLE * y.v[i]::DOUBLE))
                       / (x.nr * y.nr), 6) AS cos
              FROM probe p
              JOIN assign a USING (centroid_id)
              JOIN nrm x ON x.vec_id = p.vec_id
              JOIN nrm y ON y.vec_id = a.vec_id
              WHERE a.vec_id <> p.vec_id
            )
            SELECT vec_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "ann_pq_topk": f"""
            WITH {_DUCK_COS_PAIRS},
            nv AS (
              SELECT vec_id,
                     list_transform(v, x -> x::DOUBLE / nr) AS v
              FROM nrm
            ),
            numbered AS (
              SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                     ) - 1 AS code, v
              FROM (
                SELECT vec_id, v FROM nv
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
              )
            ),
            cb AS (
              SELECT u.sub, code,
                     list_slice(v, u.sub*8 + 1, u.sub*8 + 8) AS cw
              FROM numbered, LATERAL unnest(range(0, 8)) AS u(sub)
            ),
            subv AS (
              SELECT vec_id, u.sub,
                     list_slice(v, u.sub*8 + 1, u.sub*8 + 8) AS sv
              FROM nv, LATERAL unnest(range(0, 8)) AS u(sub)
            ),
            enc AS (
              SELECT vec_id, sub, code FROM (
                SELECT s.vec_id, s.sub, c.code,
                       row_number() OVER (
                         PARTITION BY s.vec_id, s.sub
                         ORDER BY list_sum(list_transform(range(1, 9),
                           i -> (s.sv[i::INT] - c.cw[i::INT])
                              * (s.sv[i::INT] - c.cw[i::INT]))),
                           c.code
                       ) AS rn
                FROM subv s JOIN cb c USING (sub)
              ) WHERE rn = 1
            ),
            lut AS (
              SELECT s.vec_id AS qid, s.sub, c.code,
                     list_sum(list_transform(range(1, 9),
                       i -> s.sv[i::INT] * c.cw[i::INT])) AS dot
              FROM subv s JOIN cb c USING (sub)
            ),
            scored AS (
              SELECT l.qid AS vec_id, x.vec_id AS neighbor_id,
                     round(sum(l.dot), 6) AS score
              FROM enc x JOIN lut l
                ON l.sub = x.sub AND l.code = x.code
              WHERE x.vec_id <> l.qid
              GROUP BY 1, 2
            )
            SELECT vec_id, neighbor_id, score,
                   CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id
                ORDER BY score DESC, neighbor_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "embedding_near_dups": f"""
            WITH {_DUCK_COS_PAIRS},
            plane_dots AS (
              SELECT n.vec_id, up.p,
                     sum(n.v[(ud.d + 1)::INT]::DOUBLE *
                         ((('0x' || substr(md5('42:' || up.p || ':' || ud.d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0)) AS pd
              FROM nrm n,
                   LATERAL unnest(range(0, 16)) AS up(p),
                   LATERAL unnest(range(0, len(n.v))) AS ud(d)
              GROUP BY 1, 2
            ),
            band_sigs AS (
              SELECT vec_id, (p // 4)::INT AS band,
                     CAST(sum(CASE WHEN pd > 0 THEN 1::BIGINT << (p % 4)::INT ELSE 0 END) AS BIGINT) AS band_sig
              FROM plane_dots GROUP BY 1, 2
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM band_sigs a JOIN band_sigs b USING (band, band_sig)
              WHERE a.vec_id < b.vec_id
            )
            SELECT c.id_a, c.id_b,
                   round(
                     list_sum(list_transform(range(1, len(x.v) + 1),
                              i -> x.v[i]::DOUBLE * y.v[i]::DOUBLE))
                     / (x.nr * y.nr), 6) AS cos
            FROM cand c
            JOIN nrm x ON x.vec_id = c.id_a
            JOIN nrm y ON y.vec_id = c.id_b
            WHERE list_sum(list_transform(range(1, len(x.v) + 1),
                           i -> x.v[i]::DOUBLE * y.v[i]::DOUBLE))
                  / (x.nr * y.nr) >= 0.4
        """,
        "lang_id": f"""
            WITH {_DUCK_WORDS},
            hits AS (
              SELECT doc_id,
                     len(list_filter(w, x -> list_contains({_DE}, x))) AS h_de,
                     len(list_filter(w, x -> list_contains({_EN}, x))) AS h_en,
                     len(list_filter(w, x -> list_contains({_ES}, x))) AS h_es,
                     len(list_filter(w, x -> list_contains({_FR}, x))) AS h_fr
              FROM dwords
            )
            SELECT doc_id,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                        ELSE 'fr' END AS pred_lang,
                   CAST(greatest(h_de, h_en, h_es, h_fr) AS BIGINT) AS best_hits
            FROM hits
        """,
        "quality_score": f"""
            WITH {_DUCK_WORDS},
            m AS (
              SELECT d.doc_id, d.text, w.w,
                     len(w.w) AS n_words,
                     CASE WHEN len(w.w) = 0 THEN 0.0
                          ELSE list_sum(list_transform(w.w, x -> length(x)))::DOUBLE / len(w.w)
                     END AS mwl,
                     CASE WHEN len(w.w) = 0 THEN 0.0
                          ELSE len(list_filter(w.w, x -> list_contains({_EN}, x)))::DOUBLE / len(w.w)
                     END AS swr,
                     CASE WHEN length(d.text) = 0 THEN 0.0
                          ELSE (length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')))::DOUBLE / length(d.text)
                     END AS pr
              FROM documents d JOIN dwords w USING (doc_id)
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(mwl, 6) AS mean_word_len,
                   round(swr, 6) AS stopword_ratio,
                   round(pr, 6) AS punct_ratio,
                   round(CASE WHEN n_words >= 10 AND mwl > 2 AND mwl < 12 AND pr < 0.3
                              THEN 1.0 - pr ELSE 0.0 END, 6) AS quality
            FROM m
        """,
        "token_count": r"""
            SELECT doc_id,
                   CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
            FROM documents
        """,
        "doc_fingerprint": f"""
            WITH {_DUCK_WORDS}
            SELECT doc_id,
                   CAST(sum((('0x' || substr(md5(w[i]), 1, 8))::BIGINT % 2147483648) * i)
                        % 2147483648 AS BIGINT) AS fingerprint
            FROM dwords, LATERAL unnest(range(1, len(w) + 1)) AS u(i)
            GROUP BY 1
        """,
        "repetition_metrics": f"""
            WITH {_DUCK_WORDS},
            m AS (
              SELECT doc_id,
                     len(w)::BIGINT AS n_words,
                     CASE WHEN len(w) = 0 THEN 0.0
                          ELSE round(1.0 - len(list_distinct(w)) / len(w)::DOUBLE, 6)
                     END AS dup_word_frac,
                     CASE WHEN len(w) < 2 THEN []
                          ELSE list_transform(range(1, len(w)),
                                              i -> w[i] || ' ' || w[i + 1])
                     END AS g,
                     CASE WHEN len(w) = 0 THEN 0.0
                          ELSE round(list_max(list_transform(list_distinct(w),
                                     x -> len(list_filter(w, y -> y = x))))
                               / len(w)::DOUBLE, 6)
                     END AS top_word_frac
              FROM dwords
            ),
            m2 AS (
              SELECT doc_id, n_words, dup_word_frac,
                     CASE WHEN len(g) = 0 THEN 0.0
                          ELSE round(1.0 - len(list_distinct(g)) / len(g)::DOUBLE, 6)
                     END AS dup_2gram_frac,
                     top_word_frac
              FROM m
            )
            SELECT doc_id, n_words, dup_word_frac, dup_2gram_frac, top_word_frac,
                   (CASE WHEN top_word_frac <= 0.2 AND dup_2gram_frac <= 0.2
                              AND dup_word_frac <= 0.7
                         THEN 1 ELSE 0 END)::INTEGER AS repetition_ok
            FROM m2
        """,
        "pii_scrub": """
            WITH aug AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now'
                       WHEN doc_id % 7 = 0 THEN ' call 555-0100-' || (doc_id % 90 + 10)::INTEGER || ' today'
                       ELSE '' END AS t
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
                     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
              FROM aug
            )
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(t2, '\\+?\\d[\\d\\- ]{7,}\\d'))::BIGINT AS n_phones,
                   md5(regexp_replace(t2, '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g')) AS clean_md5
            FROM e
        """,
        "line_dedup": rf"""
            WITH {_DUCK_WORDS},
            lines AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(
                       list_slice(w, (i-1)*7 + 1, (i-1)*7 + 7), ' '
                     ) AS line
              FROM dwords,
              LATERAL unnest(
                range(1, CAST(ceil(len(w)/7.0) AS BIGINT) + 1)
              ) AS u(i)
            ),
            kept AS (
              SELECT doc_id, pos, line FROM (
                SELECT doc_id, pos, line,
                       row_number() OVER (
                         PARTITION BY line ORDER BY doc_id, pos
                       ) AS rn
                FROM lines
              ) WHERE rn = 1
            ),
            stats AS (
              SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1
            )
            SELECT k.doc_id,
                   string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
                   CAST(any_value(s.n_lines) AS BIGINT) AS n_lines,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept k JOIN stats s USING (doc_id)
            GROUP BY 1
        """,
        "substring_dedup": f"""
            WITH {_DUCK_WORDS},
            wins AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(
                       list_slice(w, i + 1, i + 50), ' '
                     )) AS wkey
              FROM dwords,
              LATERAL unnest(
                range(0, greatest(len(w) - 49, 0))
              ) AS u(i)
            ),
            marked AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY wkey) AS c,
                       row_number() OVER (
                         PARTITION BY wkey ORDER BY doc_id, pos
                       ) AS rn
                FROM wins
              ) WHERE c >= 2 AND rn > 1
            ),
            cov AS (
              SELECT doc_id,
                     count(*) AS n_dup_windows,
                     sum(greatest(
                       0,
                       pos + 49 - greatest(coalesce(mprev, -50) + 49,
                                           pos - 1)
                     )) AS n_dup_tokens
              FROM (
                SELECT doc_id, pos,
                       max(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING
                       ) AS mprev
                FROM marked
              )
              GROUP BY 1
            ),
            stats AS (
              SELECT doc_id, len(w)::BIGINT AS n_tokens FROM dwords
            )
            SELECT s.doc_id, s.n_tokens,
                   coalesce(c.n_dup_windows, 0)::BIGINT AS n_dup_windows,
                   coalesce(c.n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
                   round(CASE WHEN s.n_tokens > 0
                         THEN coalesce(c.n_dup_tokens, 0)
                              / s.n_tokens::DOUBLE
                         ELSE 0 END, 6) AS dup_frac
            FROM stats s LEFT JOIN cov c USING (doc_id)
        """,
        "cross_contamination": rf"""
            WITH {_DUCK_WORDS},
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
              FROM dwords,
              LATERAL unnest(
                range(1, greatest(len(w) - 2, 0) + 1)
              ) AS u(i)
            ),
            d AS (SELECT * FROM sh WHERE doc_id >= 20),
            p AS (
              SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id < 20
            )
            SELECT d.doc_id, p.probe_id,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM d JOIN p USING (shingle)
            GROUP BY 1, 2
        """,
        "shingle_novelty": f"""
            WITH {_DUCK_SHINGLES},
            sdf AS (SELECT shingle, count(*) AS c FROM shingles GROUP BY 1),
            per AS (
              SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
                     round(avg(CASE WHEN c >= 2 THEN 1.0 ELSE 0.0 END), 6) AS shared_frac
              FROM shingles s JOIN sdf USING (shingle)
              GROUP BY 1
            )
            SELECT doc_id, n_shingles, shared_frac,
                   round(1.0 - shared_frac, 6) AS novelty
            FROM per
        """,
        "colbert_maxsim": """
            WITH tok AS (
              SELECT vec_id,
                     [list_slice(embedding, 1, 16), list_slice(embedding, 17, 32),
                      list_slice(embedding, 33, 48), list_slice(embedding, 49, 64)] AS v
              FROM embeddings
            ),
            qtok AS (SELECT vec_id AS query_id, v FROM tok WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, d.vec_id AS doc_id,
                     round(list_sum(list_transform(q.v, qt ->
                        list_max(list_transform(d.v, dt ->
                          list_sum(list_transform(range(1, len(qt) + 1),
                            i -> qt[i]::DOUBLE * dt[i]::DOUBLE)))))), 6) AS score
              FROM qtok q JOIN tok d ON d.vec_id % 5 = q.query_id
            )
            SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "colbert_retrieve": """
            WITH tok AS (
              SELECT vec_id,
                     [list_slice(embedding, 1, 16), list_slice(embedding, 17, 32),
                      list_slice(embedding, 33, 48), list_slice(embedding, 49, 64)] AS v
              FROM embeddings
            ),
            qtok AS (SELECT vec_id AS query_id, v FROM tok WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, d.vec_id AS doc_id,
                     round(list_sum(list_transform(q.v, qt ->
                        list_max(list_transform(d.v, dt ->
                          list_sum(list_transform(range(1, len(qt) + 1),
                            i -> qt[i]::DOUBLE * dt[i]::DOUBLE)))))), 6) AS score
              FROM qtok q CROSS JOIN tok d
            )
            SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= 5
        """,
        "splade_topk": f"""
            WITH dacts AS (
              SELECT vec_id AS doc_id, (i - 1)::BIGINT AS term_id,
                     embedding[i]::DOUBLE AS weight
              FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)
              WHERE embedding[i]::DOUBLE > {_ACT_THRESHOLD}
            ),
            qacts AS (
              SELECT vec_id AS query_id, (i - 1)::BIGINT AS term_id,
                     embedding[i]::DOUBLE AS weight
              FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)
              WHERE vec_id < 5 AND embedding[i]::DOUBLE > {_ACT_THRESHOLD}
            ),
            scored AS (
              SELECT q.query_id, d.doc_id,
                     round(sum(q.weight * d.weight), 6) AS score
              FROM qacts q JOIN dacts d USING (term_id)
              GROUP BY 1, 2
            )
            SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= {TOP_K}
        """,
        "sparse_embed_topk": f"""
            WITH dacts AS (
              SELECT vec_id AS doc_id, (i - 1)::BIGINT AS term_id
              FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)
              WHERE embedding[i]::DOUBLE > {_ACT_THRESHOLD}
            ),
            qacts AS (
              SELECT vec_id AS query_id, (i - 1)::BIGINT AS term_id
              FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)
              WHERE vec_id < 5 AND embedding[i]::DOUBLE > {_ACT_THRESHOLD}
            ),
            cand AS (
              SELECT DISTINCT q.query_id, d.doc_id
              FROM qacts q JOIN dacts d USING (term_id)
            ),
            qte AS (
              SELECT query_id, term_id,
                     list_slice(e.embedding, (term_id % 4)::INT * 16 + 1,
                                (term_id % 4)::INT * 16 + 16) AS qe
              FROM qacts JOIN embeddings e ON e.vec_id = qacts.query_id
            ),
            dte AS (
              SELECT doc_id, term_id,
                     list_slice(e.embedding, (term_id % 4)::INT * 16 + 1,
                                (term_id % 4)::INT * 16 + 16) AS de
              FROM dacts JOIN embeddings e ON e.vec_id = dacts.doc_id
            ),
            inter AS (
              SELECT c.query_id, c.doc_id,
                     sum(list_sum(list_transform(range(1, 17),
                        j -> qte.qe[j]::DOUBLE * dte.de[j]::DOUBLE))) AS score
              FROM cand c
              JOIN qte USING (query_id)
              JOIN dte ON dte.doc_id = c.doc_id AND dte.term_id = qte.term_id
              GROUP BY 1, 2
            ),
            -- empty-intersection candidates score 0 and STAY ranked
            -- (reference keeps every stage-1 candidate)
            scored AS (
              SELECT c.query_id, c.doc_id,
                     round(coalesce(i.score, 0.0), 6) AS score
              FROM cand c
              LEFT JOIN inter i USING (query_id, doc_id)
            )
            SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id ASC
              ) AS rnk FROM scored
            ) WHERE rnk <= {TOP_K}
        """,
        "eval_metrics": f"""
            WITH {_TOK_DOCS}, {_BM25_WEIGHTS}, {_TOK_QUERIES},
            scored AS (
              SELECT qtf.query_id, weights.doc_id,
                     round(sum(qtf.qtf * weights.w), 6) AS score
              FROM qtf JOIN weights USING (term)
              GROUP BY 1, 2
              HAVING round(sum(qtf.qtf * weights.w), 6) > 0
            ),
            ranked AS (
              SELECT query_id, doc_id,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                     ) AS rank
              FROM scored
            ),
            run AS (SELECT * FROM ranked WHERE rank <= {TOP_K}),
            qrels AS (
              SELECT d.doc_id, q.query_id, 1 AS relevance
              FROM documents d, qtab q
              WHERE d.doc_id % 7 = q.query_id
            ),
            nrel AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
            hits AS (
              SELECT r.query_id, r.rank, q.relevance,
                     row_number() OVER (
                       PARTITION BY r.query_id ORDER BY r.rank
                     ) AS hit_index
              FROM run r JOIN qrels q USING (query_id, doc_id)
            ),
            perqh AS (
              SELECT query_id, count(*) AS n_hits,
                     sum(relevance / log2(rank + 1.0)) AS dcg,
                     sum(hit_index * 1.0 / rank) AS ap_num
              FROM hits GROUP BY 1
            ),
            idcg AS (
              SELECT query_id, sum(1.0 / log2(i + 1.0)) AS idcg
              FROM (
                SELECT query_id,
                       row_number() OVER (PARTITION BY query_id) AS i
                FROM qrels
              ) WHERE i <= {TOP_K} GROUP BY 1
            ),
            perq AS (
              SELECT n.query_id,
                     CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1.0 ELSE 0.0 END AS hit,
                     coalesce(h.n_hits, 0) * 1.0 / n.n_rel AS recall,
                     coalesce(h.ap_num, 0) / least(n.n_rel, {TOP_K}) AS ap,
                     CASE WHEN i.idcg > 0 THEN coalesce(h.dcg, 0) / i.idcg
                          ELSE 0.0 END AS ndcg
              FROM nrel n
              LEFT JOIN perqh h USING (query_id)
              LEFT JOIN idcg i USING (query_id)
            )
            SELECT CAST({TOP_K} AS BIGINT) AS k,
                   CAST(count(*) AS BIGINT) AS n_queries,
                   round(avg(hit), 6) AS hits,
                   round(avg(recall), 6) AS recall,
                   round(avg(ap), 6) AS map,
                   round(avg(ndcg), 6) AS ndcg
            FROM perq
        """,
    }
