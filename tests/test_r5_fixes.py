"""Round-5 regression tests for the ADVICE r4 findings:

1. a delete-only (or all-empty-batch) refresh must not append a
   postings-less segment entry — it broke the snapshot validator for
   the current and every later snapshot (FileNotFoundError on the
   phantom seg dir);
2. a refresh whose new batches were fully tombstoned beforehand must
   not write a data-file-less parquet "segment" (UNABLE_TO_INFER_SCHEMA
   crash in materialize());
3. docmap must exclude tombstoned docs — live view and on compact —
   so docmap.count() == manifest.n_docs at every snapshot.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import BM25Index, build_index
from neural_cherche_spark.streaming import CompressedIndexStream
from tests.conftest import STRATEGIES

import pytest


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 200, seed=11).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def queries(spark):
    return synth_queries(spark, 8, seed=5)


def _topk(index, queries, strategy="bmw", k=10):
    return {
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
        for r in STRATEGIES[strategy](index, queries, k=k).collect()
    }


def test_delete_only_refresh_keeps_snapshots_valid(
    spark, corpus, queries, tmp_path
):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus, epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.delete_batch([0, 1, 2], epoch_id=1)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    # no postings-less segment entry was appended
    assert all(s["n_postings"] > 0 for s in idx.manifest.segments)
    # the current snapshot (written by the delete-only refresh) opens
    # and queries — this raised FileNotFoundError pre-fix
    snap = BM25Index(spark, idx_dir, snapshot=idx.manifest.snapshot_id)
    got = {r["doc_id"] for r in snap.search(queries, k=200).collect()}
    assert not got & {0, 1, 2}
    # later refreshes stay snapshot-valid too
    extra = spark.createDataFrame(
        [(500, "u500", "fresh document text for the follow up batch")],
        "doc_id long, url string, text string",
    )
    stream.add_batch(extra, epoch_id=2)
    idx2 = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    BM25Index(spark, idx_dir, snapshot=idx2.manifest.snapshot_id)


def test_fully_tombstoned_new_batch_refresh(spark, corpus, queries, tmp_path):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    first = corpus.filter(F.col("doc_id") < 100)
    second = corpus.filter(F.col("doc_id") >= 100)
    stream.add_batch(first, epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.add_batch(second, epoch_id=1)
    # every doc of the new batch is deleted BEFORE the refresh — the
    # encode source is empty after the tombstone anti-join; pre-fix the
    # segment write produced a parquet dir with no data files and the
    # lineage read crashed with UNABLE_TO_INFER_SCHEMA
    stream.delete_batch(list(range(100, 200)), epoch_id=2)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert all(s["n_postings"] > 0 for s in idx.manifest.segments)
    # batch 1 is covered without a segment: a further refresh is a no-op
    assert 1 in (idx.manifest.covered_batches or [])
    fresh = build_index(
        spark, first, str(tmp_path / "fresh"), id_col="doc_id",
        n_buckets=8, salt_every=50, storage="raw",
    )
    assert idx.manifest.n_docs == fresh.manifest.n_docs
    for strategy in ("bmw", "distributed"):
        assert _topk(idx, queries, strategy) == _topk(fresh, queries, strategy), strategy


def test_docmap_excludes_tombstoned(spark, corpus, queries, tmp_path):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus, epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    deleted = list(range(0, 40))
    stream.delete_batch(deleted, epoch_id=1)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    # live view: tombstoned docs are filtered even though their rows
    # still sit in the immutable docmap segment
    assert idx.docmap.count() == idx.manifest.n_docs
    assert not (
        {r["doc_id"] for r in idx.docmap.select("doc_id").collect()}
        & set(deleted)
    )
    # compact: physical GC — docmap segment itself excludes them
    compacted = stream.compact(idx_dir, n_buckets=8, salt_every=50)
    assert compacted.manifest.tombstones_path == ""
    assert compacted.docmap.count() == compacted.manifest.n_docs


def test_dedup_clusters_path_graph_converges_logarithmically(spark):
    """ADVICE r4 / VERDICT #4: a 10k-node PATH graph (diameter 9 999)
    must cluster correctly within ~log2(n) large-star/small-star
    rounds — min-label propagation needed ~n rounds and silently
    returned wrong labels past max_iters. max_iters=18 ≈ ⌈log2 1e4⌉+4:
    exceeding it raises, so passing proves the round bound."""
    import math

    from neural_cherche_spark.ops.dedup import dedup_clusters

    n = 10_000
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = (
        spark.range(n - 1)
        .select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
    )
    max_iters = math.ceil(math.log2(n)) + 4
    got = dedup_clusters(docs, pairs, max_iters=max_iters)
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == n


def test_dedup_clusters_raises_instead_of_silent_wrong_labels(spark):
    from neural_cherche_spark.ops.dedup import dedup_clusters

    docs = spark.range(10).withColumnRenamed("id", "doc_id")
    pairs = spark.range(9).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_iters=1)


def test_dedup_clusters_mixed_components_and_singletons(spark):
    from neural_cherche_spark.ops.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        # component {3,5,7,9} as a chain, {0,1} direct, {10,11} direct;
        # 2,4,6,8 singletons
        [(5, 3), (5, 7), (7, 9), (0, 1), (11, 10)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {
        0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 3, 6: 6,
        7: 3, 8: 8, 9: 3, 10: 10, 11: 10,
    }
