"""Checkpoint-resume must invalidate on content or config change.

Round-1 defect (VERDICT "what's wrong" #2 / ADVICE high): the resume
fingerprint hashed only doc_id, so rebuilding into an existing
index_dir after the corpus TEXT changed (same ids) — or after a
k1/b/ngram/block_size change — silently skipped every stage and served
the stale index. The fingerprint now covers xxhash64(doc_id, text) AND
a build-config signature.
"""

from __future__ import annotations

import os

import pytest

from neural_cherche_spark.index.build import BM25Config
from neural_cherche_spark.index.builder import build_index
from tests.conftest import STRATEGIES


def _corpus(spark, texts: list[str]):
    rows = [(i, f"https://example.com/{i}", t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def _postings_mtime(d: str) -> float:
    return os.path.getmtime(os.path.join(d, "postings", "_SUCCESS"))


def test_text_change_invalidates_resume(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs1 = _corpus(spark, ["quick brown fox", "lazy dogs sleep", "brown bears"])
    idx1 = build_index(spark, docs1, d, id_col="doc_id", n_buckets=2)
    fp1, t1 = idx1.manifest.input_fingerprint, _postings_mtime(d)

    # same ids, same row count — only the text differs
    docs2 = _corpus(spark, ["quick brown fox", "lazy dogs sleep", "polar bears"])
    idx2 = build_index(spark, docs2, d, id_col="doc_id", n_buckets=2, resume=True)
    assert idx2.manifest.input_fingerprint != fp1
    assert _postings_mtime(d) > t1, "stale postings served after text change"

    # the rebuilt index must reflect the NEW corpus
    q = spark.createDataFrame([(0, "polar")], "query_id long, query string")
    hits = {
        r["doc_id"]
        for r in STRATEGIES["distributed"](idx2, q, k=5).collect()
    }
    assert hits == {2}


def test_cfg_change_invalidates_resume(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = _corpus(spark, ["quick brown fox", "lazy dogs sleep", "brown bears"])
    idx1 = build_index(spark, docs, d, id_col="doc_id", n_buckets=2)
    t1 = _postings_mtime(d)
    idx2 = build_index(
        spark, docs, d, id_col="doc_id", n_buckets=2,
        cfg=BM25Config(k1=0.9), resume=True,
    )
    assert idx2.manifest.input_fingerprint != idx1.manifest.input_fingerprint
    assert _postings_mtime(d) > t1, "stale postings served after k1 change"


def test_unchanged_input_still_resumes(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = _corpus(spark, ["quick brown fox", "lazy dogs sleep", "brown bears"])
    build_index(spark, docs, d, id_col="doc_id", n_buckets=2)
    t1 = _postings_mtime(d)
    build_index(spark, docs, d, id_col="doc_id", n_buckets=2, resume=True)
    assert _postings_mtime(d) == t1, "identical input must skip stages"


def test_out_of_range_ids_fail_loudly(spark, tmp_path):
    rows = [(1 << 41, "https://example.com/x", "some text here")]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    with pytest.raises(ValueError, match="2\\^41"):
        build_index(spark, docs, str(tmp_path / "idx"), id_col="doc_id", n_buckets=2)


@pytest.mark.parametrize("storage", ["weights", "raw"])
def test_empty_corpus_build_fails_before_manifest(spark, tmp_path, storage):
    """A corpus with no indexable document has no avgdl: the build must
    name the empty corpus (not die on a NULL statistic) and commit no
    manifest."""
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="empty corpus"):
        build_index(
            spark, _corpus(spark, []), d, id_col="doc_id", n_buckets=2,
            storage=storage,
        )
    assert not os.path.exists(os.path.join(d, "manifest.json"))


def test_empty_corpus_weights_materialize_fails(spark, tmp_path):
    from neural_cherche_spark.streaming import CompressedIndexStream

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(_corpus(spark, ["", "  "]), epoch_id=0)  # no n-grams
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="empty corpus"):
        stream.materialize(d, n_buckets=2)
    assert not os.path.exists(os.path.join(d, "manifest.json"))


CORPUS_A = ["quick brown fox", "lazy dogs sleep", "brown bears"]
CORPUS_B = ["polar bears swim", "polar night falls", "polar ice melts"]


def _hits(idx, text: str) -> set:
    q = idx.spark.createDataFrame([(0, text)], "query_id long, query string")
    return {r["doc_id"] for r in STRATEGIES["distributed"](idx, q, k=5).collect()}


def _rewrite_fails_then_resumes(spark, monkeypatch, d, success, write_a, write_b):
    """Write corpus A; rewrite the dir from corpus B with the lineage
    stage failing; then resume from A. The failed rewrite must leave no
    manifest — the old one would describe B's tables as A's — and the
    resume must rewrite the index instead of trusting it."""
    from neural_cherche_spark.index import builder

    write_a().close()

    def fail(*args, **kwargs):
        raise RuntimeError("lineage write failed")

    with monkeypatch.context() as m:
        m.setattr(builder, "write_lineage", fail)
        with pytest.raises(RuntimeError, match="lineage write failed"):
            write_b()
    with pytest.raises(FileNotFoundError):
        builder.BM25Index(spark, d)
    t1 = os.path.getmtime(success)
    idx = write_a()
    assert os.path.getmtime(success) > t1
    assert _hits(idx, "brown") == {0, 2}
    assert _hits(idx, "polar") == set()


def test_failed_rebuild_leaves_no_stale_manifest(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "idx")
    _rewrite_fails_then_resumes(
        spark, monkeypatch, d, os.path.join(d, "postings", "_SUCCESS"),
        lambda: build_index(
            spark, _corpus(spark, CORPUS_A), d, id_col="doc_id", n_buckets=2,
            resume=True,
        ),
        lambda: build_index(
            spark, _corpus(spark, CORPUS_B), d, id_col="doc_id", n_buckets=2,
            resume=True,
        ),
    )


def _streams(spark, tmp_path):
    from neural_cherche_spark.streaming import CompressedIndexStream

    out = []
    for name, texts in (("a", CORPUS_A), ("b", CORPUS_B)):
        s = CompressedIndexStream(spark, str(tmp_path / f"state_{name}"))
        s.add_batch(_corpus(spark, texts), epoch_id=0)
        out.append(s)
    return out


def test_failed_weights_materialize_leaves_no_stale_manifest(
    spark, tmp_path, monkeypatch
):
    d = str(tmp_path / "idx")
    a, b = _streams(spark, tmp_path)
    _rewrite_fails_then_resumes(
        spark, monkeypatch, d, os.path.join(d, "postings", "_SUCCESS"),
        lambda: a.materialize(d, n_buckets=2),
        lambda: b.materialize(d, n_buckets=2),
    )


def test_failed_compact_leaves_no_stale_manifest(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "idx")
    a, b = _streams(spark, tmp_path)
    _rewrite_fails_then_resumes(
        spark, monkeypatch, d,
        os.path.join(d, "postings", "seg=0", "_SUCCESS"),
        lambda: a.materialize(d, n_buckets=2, storage="raw"),
        lambda: b.compact(d, n_buckets=2),
    )
