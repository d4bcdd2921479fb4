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
    hits = {r["doc_id"] for r in idx2.search(q, k=5, mode="distributed").collect()}
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
