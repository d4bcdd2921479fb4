"""Round-6 optimization parity pins.

Every change this round is a PHYSICAL rewrite with pinned-identical
results; these tests pin the equivalences directly:

* ``term_frequencies`` — in-row sort+run-length counting must produce
  exactly the rows of the former ``explode → groupBy(doc, term)``
  plan (including whitespace/NULL/short-word edge docs).
* the vectorized ``_run_suffix_bounds_signed`` — larger randomized
  sweep against the brute-force spec than test_bmw_bounds carries
  (the rewrite replaced a per-block Python loop).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.index.build import term_frequencies
from neural_cherche_spark.query.bmw import (
    _run_suffix_bounds,
    _run_suffix_bounds_signed,
)
from neural_cherche_spark.text.ngrams import tokenize_terms


def test_term_frequencies_matches_explode_groupby(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "aaaa aaaa aaaa bbb"),
            (3, None),
            (4, ""),
            (5, "ab"),  # shorter than n_min everywhere
            (6, "  padded   whitespace\ttabs\nnewlines  "),
            (7, "Ünïcödé CASEfold MiXeD"),
        ],
        "doc_id long, text string",
    )
    new = term_frequencies(docs, "text", "doc_id")
    old = (
        tokenize_terms(docs, "text", "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    assert new.join(old, ["doc_id", "term", "tf"], "left_anti").count() == 0
    assert old.join(new, ["doc_id", "term", "tf"], "left_anti").count() == 0
    # ngram window bounds respected
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in new.filter("doc_id = 2").collect()
    }
    assert got[(2, "aaa")] == 6 and got[(2, "aaaa")] == 3 and got[(2, "bbb")] == 1


def test_lsh_band_keys_column_matches_tuple_form(spark):
    """The composed (lambda-bound) band-key column must produce the
    exact band keys of the withColumn-chained tuple form — the
    oracle/batch agreement rides on these values."""
    from neural_cherche_spark.streaming import (
        lsh_band_key_exprs,
        lsh_band_keys_column,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven"),
            (2, "one two three four five six seven"),
            (3, "totally different words entirely here now"),
            (4, "tiny"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    bands_col, sh_col, sig_col, words_col = lsh_band_key_exprs(
        "text", 3, 16, 4
    )
    old = (
        docs.withColumn("__wd", words_col)
        .withColumn("__sh", sh_col)
        .withColumn("__sig", sig_col)
        .select("doc_id", bands_col.alias("bk"))
        .collect()
    )
    new = docs.select(
        "doc_id", lsh_band_keys_column("text", 3, 16, 4).alias("bk")
    ).collect()
    assert {r["doc_id"]: r["bk"] for r in old} == {
        r["doc_id"]: r["bk"] for r in new
    }


class _FakeIndex:
    def __init__(self, epsilon=0.0):
        class M:
            cfg = {"epsilon": epsilon}
        self.manifest = M()


def test_drop_nonpositive_queries():
    from neural_cherche_spark.query.bmw import _drop_nonpositive_queries

    rows = [
        {"term_id": 1, "idf": -0.5, "qs": [
            {"query_id": 0, "qtf": 1.0}, {"query_id": 1, "qtf": 2.0}]},
        {"term_id": 2, "idf": 0.0, "qs": [{"query_id": 0, "qtf": 1.0}]},
        {"term_id": 3, "idf": 0.3, "qs": [{"query_id": 1, "qtf": 1.0}]},
    ]
    out = _drop_nonpositive_queries(_FakeIndex(), rows)
    # query 0 matched only idf<=0 terms -> every contribution <= 0 ->
    # final scores <= 0 -> empty after the positive-score filter: gone
    kept = {
        (r["term_id"], q["query_id"]) for r in out for q in r["qs"]
    }
    assert kept == {(1, 1), (3, 1)}
    # query 1 keeps its NEGATIVE term too (it shifts real candidates'
    # scores) — only whole queries are prunable, never single terms
    assert any(r["term_id"] == 1 for r in out)
    # negative epsilon voids the sign certificate: no pruning
    assert _drop_nonpositive_queries(_FakeIndex(epsilon=-1.0), rows) is rows


def test_local_searcher_decoded_cache_parity(spark, tmp_path):
    """The hot-term decoded-array cache (serve.LocalSearcher._decoded +
    bmw._assemble_decoded) must return byte-identical results on the
    1st (raw bytes), 2nd (marks hot), and 3rd+ (pre-decoded) access,
    for weights AND raw storage, and match the Spark serving path."""
    from neural_cherche_spark.data import synth_webtext
    from neural_cherche_spark.index.builder import build_index
    from neural_cherche_spark.serve import LocalSearcher

    docs = synth_webtext(spark, 120, seed=13).select("url", "text")
    texts = [
        r["text"].split()[0] + " " + r["text"].split()[1]
        for r in docs.limit(6).collect()
    ]
    for storage in ("weights", "raw"):
        idx_dir = str(tmp_path / f"idx_{storage}")
        index = build_index(
            spark, docs, idx_dir, id_col=None, n_buckets=4,
            resume=False, storage=storage,
        )
        index.prepare_serving()
        want = {}
        for qt in texts:
            rows = index.search_serving([qt], k=5).collect()
            want[qt] = [
                (r["doc_id"], round(r["score"], 9), r["rank"]) for r in rows
            ]
        srv = LocalSearcher.from_index(index)
        passes = []
        for _ in range(3):
            got = {
                qt: [
                    (x["doc_id"], round(x["score"], 9), x["rank"])
                    for x in srv.search(qt, k=5)
                ]
                for qt in texts
            }
            passes.append(got)
        assert passes[0] == passes[1] == passes[2] == want, storage
        # the third pass actually exercised the decoded path
        assert any(
            "__dd" in e[0].columns for e in srv._cache.values()
        ), storage
        index.close()


def _brute_signed(run_key, ub_pos, neg):
    n = run_key.size
    pb, nb = np.zeros(n + 1), np.zeros(n + 1)
    for i in range(n):
        best: dict[int, float] = {}
        worst: dict[int, float] = {}
        for j in range(i, n):
            best[run_key[j]] = max(best.get(run_key[j], 0.0), ub_pos[j])
            worst[run_key[j]] = min(worst.get(run_key[j], 0.0), neg[j])
        pb[i] = sum(best.values())
        nb[i] = sum(worst.values())
    return pb, nb


@pytest.mark.parametrize("seed", range(8))
def test_signed_suffix_bounds_vectorized_sweep(seed):
    rng = np.random.RandomState(100 + seed)
    n = rng.randint(1, 220)
    run_key = rng.randint(0, max(1, n // 6), size=n).astype(np.int64)
    ub_pos = np.maximum(rng.randn(n), 0.0)
    neg = np.minimum(rng.randn(n), 0.0)
    order = np.argsort(-ub_pos, kind="mergesort")
    rk, u, v = run_key[order], ub_pos[order], neg[order]
    gp, gn = _run_suffix_bounds_signed(rk, u, v)
    wp, wn = _brute_signed(rk, u, v)
    np.testing.assert_allclose(gp, wp, rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(gn, wn, rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(
        gp, _run_suffix_bounds(rk, u), rtol=1e-12, atol=1e-9
    )
