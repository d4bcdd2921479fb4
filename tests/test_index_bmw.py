"""Compressed-index build + BMW/distributed query paths.

Rank-identity contract: every query strategy over the compressed float32
index must produce the same ranking (tie-sets) as the exact
double-precision join+agg path, and the same as the numpy reference
oracle.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index import bm25_weights
from neural_cherche_spark.index.builder import build_index, BM25Index
from neural_cherche_spark.query import retrieve_exact
from tests.conftest import STRATEGIES, assert_rank_identical


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 400, seed=5).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "bm25")
    # salt_every tiny so head terms actually get salted in the test
    return build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50
    )


@pytest.fixture(scope="module")
def queries(spark):
    return synth_queries(spark, 12, seed=9)


@pytest.fixture(scope="module")
def exact_topk(spark, corpus, queries):
    w = bm25_weights(corpus, id_col="doc_id")
    rows = retrieve_exact(w, queries, k=10).collect()
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def _collect_topk(df):
    out: dict[int, list] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def test_auto_mode_routes_and_stays_exact(index, queries, exact_topk):
    """auto mode must split the batch (threshold forces both paths
    here) and remain rank-identical to the exact path."""
    from neural_cherche_spark.query.bmw import search_auto

    got = _collect_topk(search_auto(index, queries, k=10,
                                    heavy_postings_threshold=2000))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=2e-3)


@pytest.mark.parametrize("strategy", ["distributed", "bmw"])
def test_index_search_rank_identical_to_exact(index, queries, exact_topk, strategy):
    got = _collect_topk(STRATEGIES[strategy](index, queries, k=10))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        # float32 stored weights vs double exact path → 1e-3 score slack;
        # ranking itself must agree (tie-sets)
        assert_rank_identical(got[qid], exact_topk[qid], rtol=2e-3)


def test_salting_actually_splits_head_terms(index):
    salted = index.postings.filter(F.col("salt") > 0).count()
    assert salted > 0, "no salted postings — head-term skew path untested"
    # multi-salt terms should mostly spread across buckets (with 8
    # buckets a 2-salt term collapses to one bucket 1/8 of the time by
    # chance, so assert the majority spreads, not all)
    agg = (
        index.postings.groupBy("term_id")
        .agg(F.countDistinct("salt").alias("s"), F.countDistinct("bucket").alias("b"))
        .filter(F.col("s") > 1)
    )
    multi = agg.count()
    collapsed = agg.filter(F.col("b") == 1).count()
    assert multi > 0
    assert collapsed < 0.5 * multi, f"{collapsed}/{multi} salted terms in one bucket"


def test_lineage_and_manifest(index):
    lin = index.lineage
    assert lin.count() > 0
    cols = set(lin.columns)
    assert {"bucket", "n_terms", "n_blocks", "n_postings", "bytes", "enc_ms"} <= cols
    m = index.manifest
    assert m.n_docs == 400
    assert m.n_postings == int(
        index.postings.agg(F.sum("n")).collect()[0][0]
    )
    assert all(s["done"] for s in m.stages.values())


def test_resume_skips_completed_stages(spark, corpus, index):
    """Rebuilding over the same input must reuse every stage (manifest
    fingerprints match) and leave results identical."""
    d = index.cat.index_dir
    before = os.path.getmtime(
        os.path.join(d, "postings", "_SUCCESS")
    )
    idx2 = build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50, resume=True
    )
    after = os.path.getmtime(os.path.join(d, "postings", "_SUCCESS"))
    assert before == after, "postings stage was rebuilt despite resume"
    assert idx2.manifest.input_fingerprint == index.manifest.input_fingerprint


def test_block_metadata_consistent(index):
    bad = index.postings.filter(
        (F.col("first_doc") > F.col("last_doc")) | (F.col("n") <= 0)
    ).count()
    assert bad == 0
