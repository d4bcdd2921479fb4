"""Degenerate inputs return defined results on every search path:
empty, blank and unmatched queries, duplicated query texts, k larger
than the corpus, and an index whose live docs are all deleted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.local import ReferenceBM25
from neural_cherche_spark.serve import LocalSearcher
from neural_cherche_spark.streaming import CompressedIndexStream
from tests.conftest import STRATEGIES, assert_rank_identical

N_DOCS = 80
K = N_DOCS + 20


@pytest.fixture(scope="module")
def docs(spark):
    rows = synth_webtext(spark, N_DOCS, seed=13).select("url", "text").collect()
    rows = sorted(rows, key=lambda r: r["url"])
    return [(i, r["text"]) for i, r in enumerate(rows)]


@pytest.fixture(scope="module")
def oracle(docs):
    ref = ReferenceBM25()
    ref.add([i for i, _ in docs], [t for _, t in docs])
    return ref


@pytest.fixture(scope="module")
def qtexts(spark, oracle):
    # synthetic queries of common words often score no doc positively;
    # the duplicate and k > n_docs cases need ones that do
    qs = [
        r["query"]
        for r in synth_queries(spark, 20, seed=5).orderBy("query_id").collect()
        if oracle([r["query"]], k=K)[0]
    ]
    # empty, blank, non-ASCII-only (no gram in the vocabulary), then a
    # text duplicated within the batch and a distinct one
    return ["", "   ", "日本語の検索", qs[0], qs[0], qs[1]]


@pytest.fixture(scope="module")
def expected(oracle, qtexts):
    return [
        [(d["key"], d["similarity"]) for d in row] for row in oracle(qtexts, k=K)
    ]


@pytest.fixture(scope="module")
def indexes(spark, docs, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge")
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        storage: build_index(
            spark, df, str(d / storage), id_col="doc_id", n_buckets=4,
            salt_every=20, storage=storage,
        )
        for storage in ("weights", "raw")
    }


def _search(path, idx, spark, qtexts):
    """Per-query [(doc_id, score)] lists, in rank order, from one path."""
    if path == "local":
        return [
            [(h["doc_id"], h["score"]) for h in hits]
            for hits in LocalSearcher.from_index(idx).search(qtexts, k=K)
        ]
    if path == "serving":
        idx.prepare_serving()
        df = idx.search(qtexts, k=K)
    else:
        qdf = spark.createDataFrame(
            list(enumerate(qtexts)), "query_id long, query string"
        )
        df = STRATEGIES[path](idx, qdf, k=K)
    out: list[list] = [[] for _ in qtexts]
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("path", sorted(STRATEGIES) + ["serving", "local"])
@pytest.mark.parametrize("storage", ["weights", "raw"])
def test_edge_queries_match_reference(
    spark, indexes, qtexts, expected, storage, path
):
    got = _search(path, indexes[storage], spark, qtexts)
    # empty, blank and unmatched queries give no rows
    assert got[:3] == [[], [], []]
    assert expected[:3] == [[], [], []]
    # the duplicated text is scored independently under both query_ids
    assert got[3] == got[4] and got[3]
    # k > n_docs returns every positive-score doc; rtol 2e-3: the
    # reference is float32 (and so are stored weights)
    for g, want in zip(got, expected):
        assert all(s > 0 for _, s in g)
        assert_rank_identical(g, want, rtol=2e-3)


def test_all_docs_deleted_gives_empty_results(spark, docs, tmp_path):
    """A raw refresh whose live docs are all deleted commits an empty
    snapshot, and every search path answers it with no rows."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(df.filter(F.col("doc_id") < 40), epoch_id=0)
    stream.materialize(idx_dir, n_buckets=4, salt_every=20, storage="raw")
    stream.delete_batch(list(range(40)), epoch_id=100)
    idx = stream.materialize(idx_dir, n_buckets=4, salt_every=20, storage="raw")
    assert idx.manifest.n_docs == 0
    qtexts = [t for _, t in docs[:3]]
    qdf = spark.createDataFrame(
        list(enumerate(qtexts)), "query_id long, query string"
    )
    assert idx.search(qdf, k=10).collect() == []
    idx.prepare_serving()
    assert idx.search(qtexts, k=10).collect() == []
    assert LocalSearcher.from_index(idx).search(qtexts, k=10) == [[], [], []]
