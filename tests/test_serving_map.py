"""The Spark-free serving open: ``prepare_serving`` reads the termdict
with pyarrow, and the query side derives bucket sets with the numpy
twin of the writer's bucket hash (``codec.salt_bucket``). Both must
agree exactly with what Spark wrote."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import (
    SERVING_FIELDS,
    BM25Index,
    build_index,
)
from neural_cherche_spark.index.codec import salt_bucket
from neural_cherche_spark.streaming import CompressedIndexStream
from neural_cherche_spark.text.ngrams import char_wb_ngrams

N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus(spark):
    rows = synth_webtext(spark, 300, seed=11).select("url", "text").collect()
    rows = sorted(rows, key=lambda r: r["url"])
    return spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(rows)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    """weights and raw builds (salted head terms), and a raw refresh
    whose second batch adds vocabulary (a ``termdict_r1`` revision);
    each maps to (current handle, first snapshot id)."""
    d = tmp_path_factory.mktemp("smap")
    out = {}
    for storage in ("weights", "raw"):
        idx = build_index(
            spark, corpus, str(d / storage), id_col="doc_id",
            n_buckets=N_BUCKETS, salt_every=50, storage=storage,
        )
        out[storage] = (idx, idx.manifest.snapshot_id)
    stream = CompressedIndexStream(spark, str(d / "state"))
    idx_dir = str(d / "refresh")
    stream.add_batch(corpus.filter(F.col("doc_id") < 150), epoch_id=0)
    first = stream.materialize(
        idx_dir, n_buckets=N_BUCKETS, salt_every=50, storage="raw"
    )
    stream.add_batch(corpus.filter(F.col("doc_id") >= 150), epoch_id=1)
    idx = stream.materialize(
        idx_dir, n_buckets=N_BUCKETS, salt_every=50, storage="raw"
    )
    assert idx.manifest.termdict_path != first.manifest.termdict_path
    out["refresh"] = (idx, first.manifest.snapshot_id)
    return out


@pytest.fixture(scope="module")
def qtexts(spark):
    return [r["query"] for r in synth_queries(spark, 10, seed=3).collect()]


def _expected_map(spark, idx) -> dict:
    """The serving map as Spark reads the handle's termdict revision."""
    td = spark.read.parquet(idx.cat.path(idx.manifest.termdict_path))
    return {
        r["term"]: tuple(r[c] for c in SERVING_FIELDS)
        for r in td.select("term", *SERVING_FIELDS).collect()
    }


def test_salt_bucket_matches_spark_expression(spark):
    rng = np.random.default_rng(5)
    n = 7000
    tids = rng.integers(0, 1 << 62, n, dtype=np.int64)
    tids[: n // 2] = rng.integers(0, 1 << 20, n // 2)  # dense-id range
    salts = rng.integers(0, 1024, n, dtype=np.int64)
    edge_t = [0, 0, 1 << 40, 1 << 40, 0, 1 << 40]
    edge_s = [0, 1023, 0, 1023, 1, 1]
    tids = np.concatenate([tids, edge_t])
    salts = np.concatenate([salts, edge_s])
    pdf = pd.DataFrame(
        {"i": np.arange(tids.size), "term_id": tids, "salt": salts.astype(np.int32)}
    )
    mods = (1, 7, 8, 64)
    rows = (
        spark.createDataFrame(pdf, "i long, term_id long, salt int")
        .select(
            "i",
            *[
                F.pmod(F.xxhash64("term_id", "salt"), F.lit(m))
                .cast("int")
                .alias(f"b{m}")
                for m in mods
            ],
        )
        .toPandas()
        .sort_values("i")
    )
    for m in mods:
        got = salt_bucket(tids, salts, m)
        np.testing.assert_array_equal(got, rows[f"b{m}"].to_numpy(), err_msg=str(m))


@pytest.mark.parametrize("storage", ["weights", "raw", "refresh"])
def test_salt_bucket_matches_bucket_dirs(indexes, storage):
    """Every block row sits in the bucket= dir the twin computes."""
    idx, _ = indexes[storage]
    t = ds.dataset(
        idx.cat.path("postings"), format="parquet", partitioning="hive"
    ).to_table(columns=["term_id", "salt", "bucket"])
    salts = t.column("salt").to_numpy()
    assert (salts > 0).any(), "fixture must hold multi-salt terms"
    np.testing.assert_array_equal(
        salt_bucket(t.column("term_id").to_numpy(), salts, N_BUCKETS),
        t.column("bucket").to_numpy(),
    )


@pytest.mark.parametrize("storage", ["weights", "raw", "refresh"])
def test_serving_map_matches_termdict(spark, indexes, storage):
    idx, _ = indexes[storage]
    idx.prepare_serving()
    try:
        assert idx._serving_prepared is None
        assert idx._serving == _expected_map(spark, idx)
    finally:
        idx.close()


@pytest.mark.parametrize("storage", ["weights", "raw", "refresh"])
def test_snapshot_handle_reads_its_termdict(spark, indexes, storage):
    idx, snap = indexes[storage]
    past = BM25Index(spark, idx.cat.index_dir, snapshot=snap)
    past.prepare_serving()
    want = _expected_map(spark, past)
    assert past._serving == want
    if storage == "refresh":
        # the refresh added vocabulary and moved every idf
        now = _expected_map(spark, idx)
        assert set(want) < set(now)
        assert any(now[t][2] != v[2] for t, v in want.items())


@pytest.mark.parametrize("storage", ["weights", "raw", "refresh"])
def test_filtered_prepare_holds_only_query_grams(
    spark, indexes, qtexts, storage
):
    idx, _ = indexes[storage]
    cfg = idx.manifest.cfg
    grams = {
        g
        for q in qtexts
        for g in char_wb_ngrams(q, int(cfg["n_min"]), int(cfg["n_max"]))
    }
    idx.prepare_serving(queries=qtexts)
    try:
        assert idx._serving_prepared == grams
        full = _expected_map(spark, idx)
        assert idx._serving == {t: v for t, v in full.items() if t in grams}
        assert 0 < len(idx._serving) < len(full)
    finally:
        idx.close()


def test_empty_termdict_dir_gives_empty_map(spark, indexes, tmp_path):
    """A termdict dir with no data file reads as an empty map."""
    import json
    import os
    import shutil

    idx, _ = indexes["weights"]
    d = tmp_path / "idx"
    os.makedirs(d / "termdict")
    shutil.copy(idx.cat.manifest_path, d / "manifest.json")
    with open(d / "manifest.json") as f:
        m = json.load(f)
    m["termdict_path"] = "termdict"
    with open(d / "manifest.json", "w") as f:
        json.dump(m, f)
    empty = BM25Index(spark, str(d)).prepare_serving()
    assert empty._serving == {}
