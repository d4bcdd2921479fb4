"""Manifest-scoped reads + snapshot time travel (round-4).

The manifest is the COMMIT POINT: a refresh that crashed after its
segment write but before the manifest save must be invisible to
queries (segment writes are overwrite-idempotent, so the retry heals
the orphan). And because delta refreshes only append immutable
segments and retain termdict/docnorm revisions, every committed
manifest stays queryable — Iceberg-style time travel — until a
rewrite operation (compact / resume=False) expires the history."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.index.builder import BM25Index
from neural_cherche_spark.data import synth_queries, synth_webtext
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


def _topk(index, queries, strategy="bmw"):
    return {
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
        for r in STRATEGIES[strategy](index, queries, k=10).collect()
    }


def test_orphan_segment_is_invisible(spark, corpus, queries, tmp_path):
    """Simulated crash: a seg dir present on disk but absent from the
    manifest (refresh died before its manifest save) must not affect
    results under any strategy — reads follow the committed segment list."""
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus, epoch_id=0)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    before = {m: _topk(idx, queries, m) for m in ("bmw", "distributed")}
    n_docs = idx.docmap.count()

    # orphan: a copy of seg=0 masquerading as an uncommitted seg=7
    shutil.copytree(
        os.path.join(idx_dir, "postings", "seg=0"),
        os.path.join(idx_dir, "postings", "seg=7"),
    )
    shutil.copytree(
        os.path.join(idx_dir, "docmap", "seg=0"),
        os.path.join(idx_dir, "docmap", "seg=7"),
    )
    fresh_handle = BM25Index(spark, idx_dir)
    for m in ("bmw", "distributed"):
        assert _topk(fresh_handle, queries, m) == before[m], m
    assert fresh_handle.docmap.count() == n_docs


def test_time_travel_across_delta_refreshes(spark, corpus, queries, tmp_path):
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    idx_dir = str(tmp_path / "idx")
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    idx0 = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    snap0 = idx0.manifest.snapshot_id
    state0 = _topk(idx0, queries)
    n0 = idx0.manifest.n_docs

    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    idx1 = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert idx1.manifest.snapshot_id == snap0 + 1
    assert idx1.cat.snapshots() == [snap0, snap0 + 1]

    # the PAST snapshot reproduces the past results exactly: old
    # segments are untouched bytes and the old termdict revision is
    # retained — stats of the 150-doc state, not the 300-doc state
    past = BM25Index(spark, idx_dir, snapshot=snap0)
    assert past.manifest.n_docs == n0
    assert _topk(past, queries) == state0
    assert _topk(idx1, queries) != state0  # corpus growth moved scores

    # a rewrite operation expires history: compact() then old snapshot
    # opens must fail loudly, and snapshots() shrinks
    stream.compact(idx_dir, n_buckets=8, salt_every=50)
    cat_snaps = BM25Index(spark, idx_dir).cat.snapshots()
    assert len(cat_snaps) == 1
    with pytest.raises(FileNotFoundError):
        BM25Index(spark, idx_dir, snapshot=snap0)
