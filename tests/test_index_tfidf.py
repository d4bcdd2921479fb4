"""TfIdf-weighted compressed index: every query strategy must be
rank-identical to the exact DataFrame TfIdf path (reference
retrieve.TfIdf cosine semantics), and pruning must actually run
(tfidf weights are all non-negative)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index import tfidf_weights
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.query.exact import query_term_counts, top_k
from tests.conftest import STRATEGIES, assert_rank_identical


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 300, seed=17).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "tfidf")
    return build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50,
        weighting="tfidf",
    )


@pytest.fixture(scope="module")
def queries(spark):
    return synth_queries(spark, 10, seed=29)


@pytest.fixture(scope="module")
def exact_topk(spark, corpus, queries):
    """Exact TfIdf cosine top-k (same math as __spark_entry__'s
    tfidf_topk: idf-weighted L2-normalized query × per-doc-normalized
    index)."""
    w = tfidf_weights(corpus, id_col="doc_id")
    qt = query_term_counts(queries)
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
        .agg(F.sum(F.col("qw") * F.col("w")).alias("score"))
        .filter(F.col("score") > 0)
    )
    out: dict[int, list] = {}
    rows = top_k(scored, 10).collect()
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("strategy", ["bmw", "distributed", "auto"])
def test_tfidf_index_rank_identical_to_exact(index, queries, exact_topk, strategy):
    got: dict[int, list] = {}
    res = STRATEGIES[strategy](index, queries, k=10)
    for r in sorted(res.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=2e-3)


def test_tfidf_weights_all_nonnegative(index):
    assert index.manifest.cfg["weighting"] == "tfidf"
    neg = index.postings.filter(F.col("min_w") < 0).count()
    assert neg == 0, "tfidf weights must be non-negative (full pruning)"
    assert index.termdict.filter(F.col("idf") <= 0).count() == 0