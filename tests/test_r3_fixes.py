"""Round-3 hardening (ADVICE r2): manifest salt-layout versioning,
subgroup_cap power-of-two validation, SparseEmbed empty-intersection
candidates, duplicate-id detection in the incremental compressed path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import BM25Index, build_index
from neural_cherche_spark.query.bmw import search_bmw, search_index
from neural_cherche_spark.streaming import CompressedIndexStream


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "i")
    docs = synth_webtext(spark, 200, seed=31).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    idx = build_index(
        spark, docs, d, id_col="doc_id", n_buckets=4, salt_every=40
    )
    return idx, d


def _res(df):
    return {
        (r["query_id"], r["doc_id"], round(r["score"], 6))
        for r in df.collect()
    }


def test_v1_manifest_routes_bmw_to_distributed(spark, built):
    idx, d = built
    queries = synth_queries(spark, 5, seed=7)
    want = _res(search_index(idx, queries, k=10, mode="distributed"))

    mp = os.path.join(d, "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    m["version"] = 1
    with open(mp, "w") as f:
        json.dump(m, f)
    try:
        old = BM25Index(spark, d)
        assert not old.salt_layout_ok
        # direct bmw call refuses; search_index / auto fall back to the
        # salt-agnostic distributed path with identical results
        with pytest.raises(ValueError, match="doc_salt"):
            search_bmw(old, queries, k=10)
        assert _res(search_index(old, queries, k=10, mode="bmw")) == want
        assert _res(search_index(old, queries, k=10, mode="auto")) == want
        old.close()
    finally:
        m["version"] = 2
        with open(mp, "w") as f:
            json.dump(m, f)


def test_subgroup_cap_validation(spark, built):
    idx, _ = built
    queries = synth_queries(spark, 5, seed=7)
    want = _res(search_bmw(idx, queries, k=10, subgroup_cap=16))
    # non-power-of-two caps round DOWN to a power of two (24 → 16):
    # results stay exact because every pow2 split is doc-disjoint
    assert _res(search_bmw(idx, queries, k=10, subgroup_cap=24)) == want
    with pytest.raises(ValueError, match="subgroup_cap"):
        search_bmw(idx, queries, k=10, subgroup_cap=0)


def test_sparse_embed_keeps_empty_intersection_candidates(spark):
    from neural_cherche_spark.ops.sparse_neural import sparse_embed_scores

    cands = spark.createDataFrame(
        [(0, 10), (0, 11)], "query_id long, doc_id long"
    )
    q_embs = spark.createDataFrame(
        [(0, 1, [1.0, 2.0])], "query_id long, term_id long, emb array<float>"
    )
    # doc 10 shares term 1; doc 11 activates only term 2 (no overlap)
    d_embs = spark.createDataFrame(
        [(10, 1, [3.0, 4.0]), (11, 2, [9.0, 9.0])],
        "doc_id long, term_id long, emb array<float>",
    )
    got = {
        (r["doc_id"], r["score"])
        for r in sparse_embed_scores(cands, d_embs, q_embs).collect()
    }
    # reference keeps the zero-score candidate in the ranking
    assert got == {(10, 11.0), (11, 0.0)}


def test_serving_path_matches_and_runs_fewer_jobs(spark, built):
    """prepare_serving + search_serving: identical results to the
    DataFrame path, with strictly fewer Spark jobs per call (the match
    rows are built driver-side — no qterms⋈termdict job)."""
    idx, _ = built
    qrows = synth_queries(spark, 6, seed=7).collect()
    qtexts = [r["query"] for r in sorted(qrows, key=lambda r: r["query_id"])]
    qdf = spark.createDataFrame(
        list(enumerate(qtexts)), "query_id long, query string"
    )
    sc = spark.sparkContext

    idx.prepare_serving()
    for mode in ("bmw", "distributed", "auto"):
        sc.setJobGroup(f"df-{mode}", "df path")
        want = _res(search_index(idx, qdf, k=10, mode=mode))
        sc.setJobGroup(f"serve-{mode}", "serving path")
        got = _res(idx.search_serving(qtexts, k=10, mode=mode))
        sc.setJobGroup("", "")
        assert got == want, mode
        n_df = len(sc.statusTracker().getJobIdsForGroup(f"df-{mode}"))
        n_serve = len(sc.statusTracker().getJobIdsForGroup(f"serve-{mode}"))
        assert n_serve < n_df, (mode, n_serve, n_df)
    idx._serving = None


def test_zip_with_index_checkpoints_only_keys(spark, tmp_path, monkeypatch):
    """The id-stability checkpoint must never pin wide payload columns
    (text) into executor storage (round-2 VERDICT what's-wrong #1)."""
    try:  # pyspark 4: the concrete method lives on the classic class
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older pyspark
        from pyspark.sql import DataFrame

    captured: list[list[str]] = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        captured.append(list(self.columns))
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    docs = synth_webtext(spark, 60, seed=9).select("url", "text")
    idx = build_index(
        spark, docs, str(tmp_path / "i"), id_col=None, n_buckets=4
    )
    assert captured, "expected a localCheckpoint in the id-assign path"
    assert all("text" not in cols for cols in captured), captured
    # dense deterministic ids: 0..n-1 in url sort order
    dm = sorted(
        idx.docmap.select("doc_id", "url").collect(), key=lambda r: r["url"]
    )
    assert [r["doc_id"] for r in dm] == list(range(60))
    idx.close()


def test_duplicate_urls_fail_id_assignment(spark, tmp_path):
    docs = spark.createDataFrame(
        [("u1", "alpha beta gamma"), ("u1", "delta epsilon zeta")],
        "url string, text string",
    )
    with pytest.raises(ValueError, match="unique"):
        build_index(spark, docs, str(tmp_path / "i"), id_col=None)


def test_duplicate_doc_ids_across_batches_raise(spark, tmp_path):
    docs = synth_webtext(spark, 40, seed=5).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(docs.filter(F.col("doc_id") < 20), epoch_id=0)
    stream.add_batch(docs.filter(F.col("doc_id") < 10), epoch_id=1)  # re-added
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        stream.materialize(str(tmp_path / "idx"), n_buckets=4)


def test_raw_refresh_releases_persists_on_failure(spark, tmp_path):
    """Every persist and id checkpoint of a raw refresh ends with the
    call — after a refresh and after one whose concurrent id validation
    fails at the commit gate."""
    docs = synth_webtext(spark, 40, seed=5).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )

    def pinned() -> set:
        # ids of persisted RDDs (earlier ones may drop out on a JVM GC,
        # so the check is that no NEW one survives the call)
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(docs.filter(F.col("doc_id") < 20), epoch_id=0)
    before = pinned()
    stream.materialize(str(tmp_path / "ok"), n_buckets=4, storage="raw")
    assert pinned() <= before
    stream.add_batch(docs.filter(F.col("doc_id") < 10), epoch_id=1)  # re-added
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        stream.materialize(str(tmp_path / "idx"), n_buckets=4, storage="raw")
    assert pinned() <= before
