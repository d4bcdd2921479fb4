"""TfIdf + raw storage (round-4): blocks store per-posting tf, per-doc
L2 norms live in a revisioned docnorm table, queries score
unnormalized then divide via one candidate×docnorm join. Every query
mode must be rank-identical (1e-9) to the exact f64 DataFrame cosine —
and the delta refresh must equal a fresh raw build over the union."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index import tfidf_weights
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.query.exact import query_term_counts
from neural_cherche_spark.streaming import CompressedIndexStream
from tests.conftest import STRATEGIES, assert_rank_identical, assert_same_artifacts


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 300, seed=7).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def queries(spark):
    return synth_queries(spark, 10, seed=3)


@pytest.fixture(scope="module")
def raw_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "tfidf_raw")
    return build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50,
        weighting="tfidf", storage="raw",
    )


@pytest.fixture(scope="module")
def exact_topk(spark, corpus, queries):
    """f64 cosine over tfidf_weights with idf-weighted L2-normalized
    query counts (mirrors __spark_entry__._q_tfidf_topk, unrounded)."""
    w = tfidf_weights(corpus)
    qt = query_term_counts(queries)
    dfq = qt.join(w.select("term", "idf").distinct(), "term").withColumn(
        "qw_raw", F.col("qtf") * F.col("idf")
    )
    qn = dfq.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw"))).alias("qnorm")
    )
    scored = (
        dfq.join(qn, "query_id")
        .withColumn("qw", F.col("qw_raw") / F.col("qnorm"))
        .join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("score"))
        .filter(F.col("score") > 0)
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    out: dict[int, list] = {}
    rows = (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 10)
        .collect()
    )
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def _collect_topk(df):
    out: dict[int, list] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("strategy", ["distributed", "bmw", "auto"])
def test_tfidf_raw_matches_exact(raw_index, queries, exact_topk, strategy):
    # bmw/auto route to the bulk path (per-block norm minima go stale
    # every refresh) — all three strategies must agree with exact cosine
    got = _collect_topk(STRATEGIES[strategy](raw_index, queries, k=10))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)


def test_tfidf_raw_has_docnorm_revision(raw_index):
    assert raw_index.manifest.docnorm_path == "docnorm"
    dn = raw_index.docnorm
    assert set(dn.columns) == {"doc_id", "dnorm"}
    assert dn.filter(F.col("dnorm") <= 0).count() == 0


def test_tfidf_raw_serving_matches_exact(raw_index, queries, exact_topk):
    qtexts = [
        r["query"]
        for r in sorted(queries.collect(), key=lambda r: r["query_id"])
    ]
    raw_index.prepare_serving()
    got = _collect_topk(raw_index.search(qtexts, k=10))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)
    raw_index._serving = None


def test_tfidf_delta_matches_fresh_raw(
    spark, corpus, queries, exact_topk, raw_index, tmp_path
):
    """Two-batch delta materialize (tfidf): appends seg=1, rewrites the
    docnorm revision, and must equal BOTH the fresh raw build and the
    exact cosine (global idf/norms stay exact across refreshes). A
    one-batch refresh into an empty index writes the fresh raw build's
    block rows (ρq-quantized dl slot included) and termdict."""
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    stream.materialize(
        str(tmp_path / "idx"), n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf",
    )
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    inc = stream.materialize(
        str(tmp_path / "idx"), n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf",
    )
    assert [s["seg"] for s in inc.manifest.segments] == [0, 1]
    assert inc.manifest.docnorm_path == "docnorm_r1"
    got = _collect_topk(inc.search(queries, k=10))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)

    one = CompressedIndexStream(spark, str(tmp_path / "state_one"))
    one.add_batch(corpus, epoch_id=0)
    one_idx = one.materialize(
        str(tmp_path / "one"), n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf",
    )
    assert_same_artifacts(one_idx, raw_index)
    one_idx.close()


def test_doc_norms_independent_of_partitioning(spark):
    """``doc_norms`` sums each doc's squared weights in a fixed order,
    so the norms — and the quantized norm every tfidf raw block stores
    — are bit-identical however the tf rows are partitioned."""
    import numpy as np

    from neural_cherche_spark.index.builder import doc_norms

    rng = np.random.default_rng(11)
    n_docs, n_terms = 60, 400
    tf_rows = [
        (d, f"t{t}", int(rng.integers(1, 40)))
        for d in range(n_docs)
        for t in rng.choice(n_terms, size=80, replace=False)
    ]
    tf = spark.createDataFrame(tf_rows, "doc_id long, term string, tf long")
    termdict = spark.createDataFrame(
        [(f"t{t}", float(rng.uniform(0.01, 9.0))) for t in range(n_terms)],
        "term string, idf double",
    )
    one, seven = (
        {
            r["doc_id"]: r["dnorm"]
            for r in doc_norms(tf.repartition(n), termdict).collect()
        }
        for n in (1, 7)
    )
    assert len(one) == n_docs
    assert one == seven
