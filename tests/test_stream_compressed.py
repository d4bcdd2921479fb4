"""Incremental compressed-index maintenance (streaming/compressed.py):
a stream of batches followed by materialize() must produce an index
whose every query mode returns the SAME results as a from-scratch
build_index over the union corpus (round-1 VERDICT next-steps #9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.streaming import (
    CompressedIndexStream,
    stream_build_compressed,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 300, seed=11).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


def _results(index, queries, mode):
    return {
        (r["query_id"], r["doc_id"], round(r["score"], 6), r["rank"])
        for r in index.search(queries, k=10, mode=mode).collect()
    }


def test_materialized_stream_matches_fresh_build(spark, corpus, tmp_path):
    b1 = corpus.filter(F.col("doc_id") < 120)
    b2 = corpus.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 220))
    b3 = corpus.filter(F.col("doc_id") >= 220)

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(b1, epoch_id=0).add_batch(b2, epoch_id=1)
    stream.add_batch(b2, epoch_id=1)  # replayed epoch: must be a no-op
    stream.add_batch(b3, epoch_id=2)
    inc = stream.materialize(
        str(tmp_path / "inc_idx"), n_buckets=8, salt_every=50
    )

    fresh = build_index(
        spark, corpus, str(tmp_path / "fresh_idx"),
        id_col="doc_id", n_buckets=8, salt_every=50,
    )
    assert inc.manifest.n_docs == fresh.manifest.n_docs == 300
    assert inc.manifest.n_postings == fresh.manifest.n_postings
    assert inc.manifest.n_terms == fresh.manifest.n_terms

    queries = synth_queries(spark, 10, seed=21)
    for mode in ("bmw", "distributed"):
        assert _results(inc, queries, mode) == _results(fresh, queries, mode)


def test_materialize_resume_skips_when_state_unchanged(spark, corpus, tmp_path):
    import os

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") < 50), epoch_id=0)
    d = str(tmp_path / "idx")
    stream.materialize(d, n_buckets=4)
    t1 = os.path.getmtime(os.path.join(d, "postings", "_SUCCESS"))
    stream.materialize(d, n_buckets=4)  # no new batches → all stages skip
    assert os.path.getmtime(os.path.join(d, "postings", "_SUCCESS")) == t1
    # a new batch invalidates the fingerprint → postings rebuild
    stream.add_batch(
        corpus.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 80)),
        epoch_id=1,
    )
    idx = stream.materialize(d, n_buckets=4)
    assert os.path.getmtime(os.path.join(d, "postings", "_SUCCESS")) > t1
    assert idx.manifest.n_docs == 80


def test_stream_wire_accumulates_batches(spark, corpus, tmp_path):
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    rows = corpus.filter(F.col("doc_id") < 60).select("doc_id", "text").collect()
    pd.DataFrame([(r["doc_id"], r["text"]) for r in rows[:30]],
                 columns=["doc_id", "text"]).to_parquet(src / "a.parquet")
    pd.DataFrame([(r["doc_id"], r["text"]) for r in rows[30:]],
                 columns=["doc_id", "text"]).to_parquet(src / "b.parquet")
    q = stream_build_compressed(spark, str(src), str(tmp_path / "state"))
    q.awaitTermination(120)
    idx = CompressedIndexStream(spark, str(tmp_path / "state")).materialize(
        str(tmp_path / "idx"), n_buckets=4
    )
    assert idx.manifest.n_docs == 60


def _topk_lists(index, queries, mode):
    out: dict[int, list] = {}
    rows = index.search(queries, k=10, mode=mode).collect()
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def test_delta_materialize_appends_segments_and_matches_fresh_raw(
    spark, corpus, tmp_path
):
    """The raw-storage delta path: a refresh must encode ONLY the new
    batches (old segment bytes untouched) yet return search results
    equal to a fresh raw build over the union corpus — exact global
    statistics, no stale-idf quirk (round-2 VERDICT next-steps #1)."""
    import os

    from tests.conftest import assert_rank_identical, assert_same_artifacts

    b1 = corpus.filter(F.col("doc_id") < 120)
    b2 = corpus.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 220))
    b3 = corpus.filter(F.col("doc_id") >= 220)
    d = str(tmp_path / "idx")

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(b1, epoch_id=0)
    idx = stream.materialize(d, n_buckets=8, salt_every=50, storage="raw")
    assert [s["seg"] for s in idx.manifest.segments] == [0]
    seg0 = os.path.join(d, "postings", "seg=0", "_SUCCESS")
    t0 = os.path.getmtime(seg0)

    stream.add_batch(b2, epoch_id=1).add_batch(b3, epoch_id=2)
    idx = stream.materialize(d, n_buckets=8, salt_every=50, storage="raw")
    # old segment is untouched bytes; new batches landed in seg 1
    assert os.path.getmtime(seg0) == t0
    assert [s["seg"] for s in idx.manifest.segments] == [0, 1]
    assert idx.manifest.segments[1]["batches"] == [1, 2]
    assert idx.manifest.n_docs == 300

    fresh = build_index(
        spark, corpus, str(tmp_path / "fresh"),
        id_col="doc_id", n_buckets=8, salt_every=50, storage="raw",
    )
    assert idx.manifest.n_postings == fresh.manifest.n_postings
    assert abs(idx.manifest.avgdl - fresh.manifest.avgdl) < 1e-9

    # a one-batch refresh into an empty index IS a raw build: the same
    # block rows and termdict
    one = CompressedIndexStream(spark, str(tmp_path / "state_one"))
    one.add_batch(corpus, epoch_id=0)
    one_idx = one.materialize(
        str(tmp_path / "one"), n_buckets=8, salt_every=50, storage="raw"
    )
    assert_same_artifacts(one_idx, fresh)
    one_idx.close()

    queries = synth_queries(spark, 10, seed=21)
    for mode in ("bmw", "distributed"):
        got = _topk_lists(idx, queries, mode)
        want = _topk_lists(fresh, queries, mode)
        assert set(got) == set(want)
        for qid in want:
            assert_rank_identical(got[qid], want[qid], rtol=1e-9)

    # no new batches → refresh is a no-op (both segments untouched)
    seg1 = os.path.join(d, "postings", "seg=1", "_SUCCESS")
    t1 = os.path.getmtime(seg1)
    idx = stream.materialize(d, n_buckets=8, salt_every=50, storage="raw")
    assert os.path.getmtime(seg1) == t1
    assert len(idx.manifest.segments) == 2


def test_delta_termdict_ids_stay_stable(spark, corpus, tmp_path):
    """Old segments reference term_ids on disk — a refresh must never
    renumber an existing term, and new terms extend the id space."""
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    d = str(tmp_path / "idx")
    idx1 = stream.materialize(d, n_buckets=4, storage="raw")
    ids1 = {
        r["term"]: r["term_id"] for r in idx1.termdict.collect()
    }
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    idx2 = stream.materialize(d, n_buckets=4, storage="raw")
    ids2 = {
        r["term"]: r["term_id"] for r in idx2.termdict.collect()
    }
    assert all(ids2[t] == i for t, i in ids1.items())
    new_ids = [i for t, i in ids2.items() if t not in ids1]
    if new_ids:
        assert min(new_ids) >= len(ids1)
    assert len(set(ids2.values())) == len(ids2)
    idx1.close()
    idx2.close()


def test_compact_merges_segments(spark, corpus, tmp_path):
    """compact() folds a multi-segment raw index back to seg=0 with
    identical search results (tokenize never re-runs: it re-encodes
    from the accumulated tf)."""
    from tests.conftest import assert_rank_identical

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    d = str(tmp_path / "idx")
    stream.materialize(d, n_buckets=4, salt_every=50, storage="raw")
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    idx = stream.materialize(d, n_buckets=4, salt_every=50, storage="raw")
    assert len(idx.manifest.segments) == 2
    queries = synth_queries(spark, 8, seed=3)
    want = _topk_lists(idx, queries, "bmw")

    idx2 = stream.compact(d, n_buckets=4, salt_every=50)
    assert [s["seg"] for s in idx2.manifest.segments] == [0]
    assert idx2.manifest.n_docs == 300
    got = _topk_lists(idx2, queries, "bmw")
    assert set(got) == set(want)
    for qid in want:
        assert_rank_identical(got[qid], want[qid], rtol=1e-9)


def test_delta_refuses_foreign_raw_segment(spark, corpus, tmp_path):
    """A raw index whose seg=0 came from build_index (no batch
    provenance) must NOT be silently delta-refreshed: the stream would
    rebuild the termdict from its own tf only, orphaning every
    base-corpus-only term's postings (round-3 ADVICE medium)."""
    idx_dir = str(tmp_path / "foreign_raw")
    base = corpus.filter(F.col("doc_id") < 150)
    build_index(
        spark, base, idx_dir, id_col="doc_id", n_buckets=8,
        salt_every=50, storage="raw",
    )

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=0)
    with pytest.raises(ValueError, match="provenance"):
        stream.materialize(
            idx_dir, n_buckets=8, salt_every=50, storage="raw",
        )
