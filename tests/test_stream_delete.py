"""Document DELETE support (round-4, beyond-reference — the reference
CSR accumulator only grows): delete_batch → exact ledger subtraction +
tombstone masking over immutable segments; compact() is the physical
GC. Every strategy must equal a fresh build over the remaining docs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.streaming import CompressedIndexStream
from tests.conftest import STRATEGIES


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 300, seed=7).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def queries(spark):
    return synth_queries(spark, 10, seed=3)


DELETED = [i for i in range(300) if i % 7 == 3]


def _topk(index, queries, strategy="bmw", k=10):
    return {
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
        for r in STRATEGIES[strategy](index, queries, k=k).collect()
    }


def test_delete_masks_exactly_like_fresh_build(
    spark, corpus, queries, tmp_path
):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    stream.delete_batch(DELETED, epoch_id=100)
    stream.delete_batch(DELETED, epoch_id=100)  # replayed epoch: no-op
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert idx.manifest.tombstones_path != ""
    assert idx.manifest.applied_delete_batches == 1

    remaining = corpus.filter(~F.col("doc_id").isin(DELETED))
    fresh = build_index(
        spark, remaining, str(tmp_path / "fresh"), id_col="doc_id",
        n_buckets=8, salt_every=50, storage="raw",
    )
    # EXACT statistics after delete: n_docs/avgdl subtract via the
    # ledger, idf/term_norm exclude deleted docs' tf
    assert idx.manifest.n_docs == fresh.manifest.n_docs
    assert abs(idx.manifest.avgdl - fresh.manifest.avgdl) < 1e-9
    for strategy in ("bmw", "distributed", "auto"):
        assert _topk(idx, queries, strategy) == _topk(
            fresh, queries, strategy
        ), strategy

    # deleted docs never surface even at k = corpus size
    got_ids = {
        r["doc_id"] for r in idx.search(queries, k=300).collect()
    }
    assert not (got_ids & set(DELETED))


def test_delete_only_refresh_is_not_a_noop(spark, corpus, queries, tmp_path):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus, epoch_id=0)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    n0 = idx.manifest.n_docs
    stream.delete_batch([0, 1], epoch_id=1)
    idx2 = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert idx2.manifest.n_docs == n0 - 2
    assert idx2.manifest.applied_delete_batches == 1
    got = {r["doc_id"] for r in idx2.search(queries, k=300).collect()}
    assert 0 not in got and 1 not in got


def test_delete_rejects_unknown_ids(spark, corpus, tmp_path):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") < 50), epoch_id=0)
    with pytest.raises(ValueError, match="unknown or already deleted"):
        stream.delete_batch([999_999], epoch_id=1)
    stream.delete_batch([5], epoch_id=2)
    with pytest.raises(ValueError, match="unknown or already deleted"):
        stream.delete_batch([5], epoch_id=3)  # double delete


def test_compact_is_physical_delete_gc(spark, corpus, queries, tmp_path):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    stream.delete_batch(DELETED, epoch_id=100)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    before = _topk(idx, queries)
    n_post_masked = idx.manifest.n_postings

    compacted = stream.compact(idx_dir, n_buckets=8, salt_every=50)
    assert compacted.manifest.tombstones_path == ""
    assert compacted.manifest.applied_delete_batches == 1
    # physically smaller: deleted docs' postings are gone, not masked
    assert compacted.manifest.n_postings < n_post_masked
    assert _topk(compacted, queries) == before
