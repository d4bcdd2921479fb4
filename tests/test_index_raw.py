"""Raw-storage index (per-posting tf+dl, query-time weights): every
query strategy must be rank-identical to the exact double-precision
DataFrame path — and score-identical to ~f64 rounding, since raw mode
never stores f32 weights."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index import bm25_weights
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.query import retrieve_exact
from tests.conftest import STRATEGIES, assert_rank_identical


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 400, seed=5).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def raw_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "raw")
    return build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50,
        storage="raw",
    )


@pytest.fixture(scope="module")
def queries(spark):
    return synth_queries(spark, 12, seed=9)


@pytest.fixture(scope="module")
def exact_topk(spark, corpus, queries):
    w = bm25_weights(corpus, id_col="doc_id")
    rows = retrieve_exact(w, queries, k=10).collect()
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def _collect_topk(df):
    out: dict[int, list] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("strategy", ["distributed", "bmw", "auto"])
def test_raw_search_matches_exact_f64(raw_index, queries, exact_topk, strategy):
    got = _collect_topk(STRATEGIES[strategy](raw_index, queries, k=10))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        # both sides are f64 end-to-end; only agg-order ulps remain
        assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)


def test_raw_layout_is_segmented_and_salted(raw_index):
    p = raw_index.postings
    assert "seg" in p.columns and "n_salts" in p.columns
    assert p.select("seg").distinct().count() == 1
    assert p.filter(F.col("salt") > 0).count() > 0, "head terms unsalted"
    assert raw_index.storage == "raw"
    assert raw_index.manifest.segments == [
        {"seg": 0, "n_postings": raw_index.manifest.n_postings}
    ]


@pytest.mark.parametrize("strategy", ["distributed", "bmw", "auto"])
def test_raw_small_batch_stays_exact(
    raw_index, queries, exact_topk, strategy
):
    """Exact on a 3-query batch, fewer queries than shuffle
    partitions."""
    small = queries.filter(F.col("query_id") < 3)
    got = _collect_topk(STRATEGIES[strategy](raw_index, small, k=10))
    want = {q: v for q, v in exact_topk.items() if q < 3}
    assert set(got) == set(want)
    for qid in want:
        assert_rank_identical(got[qid], want[qid], rtol=1e-9)


def test_raw_serving_path_matches_exact(spark, raw_index, queries, exact_topk):
    """The driver-side serving path over a raw index computes the same
    query-time weights (s_t carried in the serving map)."""
    qtexts = [
        r["query"]
        for r in sorted(queries.collect(), key=lambda r: r["query_id"])
    ]
    raw_index.prepare_serving()
    got = _collect_topk(raw_index.search(qtexts, k=10))
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)
    raw_index._serving = None


def test_raw_auto_mixed_routing_matches_exact(raw_index, queries, exact_topk):
    """search_auto with a threshold that splits the batch into heavy AND
    selective sides must stay exact on a raw index: the side() carve-out
    has to carry idf/term_norm through to the raw query-time weights
    (round-3 ADVICE high: KeyError('idf') when both sides fired)."""
    from neural_cherche_spark.query.bmw import search_auto, serving_match_rows

    rows = serving_match_rows(raw_index, queries)
    vol: dict[int, int] = {}
    for r in rows:
        for q in r["qs"]:
            qid = int(q["query_id"])
            vol[qid] = vol.get(qid, 0) + int(r["df"])
    vols = sorted(vol.values())
    thr = vols[len(vols) // 2]  # median ⇒ both sides non-empty
    heavy = {q for q, v in vol.items() if v > thr}
    assert heavy and len(heavy) < len(vol), "fixture must mix-route"

    got = _collect_topk(
        search_auto(raw_index, queries, k=10, heavy_postings_threshold=thr)
    )
    assert set(got) == set(exact_topk)
    for qid in exact_topk:
        assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)


def test_prepare_serving_vocab_filtered(raw_index, queries, exact_topk):
    """VERDICT r4 #6: query-vocabulary-filtered prepare. The serving
    map is bounded by the WORKLOAD's gram set (driver memory stays
    capped when the termdict outgrows it at 10^7+ terms), results are
    identical to the full prepare, and a query gram outside the
    prepared workload raises instead of silently dropping a term whose
    vocabulary membership was never checked."""
    from neural_cherche_spark.text.ngrams import char_wb_ngrams

    qtexts = [
        r["query"]
        for r in sorted(queries.collect(), key=lambda r: r["query_id"])
    ]
    cfg = raw_index.manifest.cfg
    grams = {
        g
        for q in qtexts
        for g in char_wb_ngrams(q, int(cfg["n_min"]), int(cfg["n_max"]))
    }
    full_vocab = raw_index.termdict.count()
    raw_index.prepare_serving(queries=qtexts)
    try:
        # capped memory: ≤ the workload's grams, not the corpus vocab
        assert len(raw_index._serving) <= len(grams) < full_vocab
        got = _collect_topk(raw_index.search(qtexts, k=10))
        assert set(got) == set(exact_topk)
        for qid in exact_topk:
            assert_rank_identical(got[qid], exact_topk[qid], rtol=1e-9)
        with pytest.raises(ValueError, match="not in the"):
            raw_index.search(["zzzql zzzqm"], k=5)
    finally:
        raw_index._serving = None
        raw_index._serving_prepared = None


@pytest.mark.parametrize(
    "kw", [{"k1": -0.1}, {"b": -0.01}, {"b": 1.5}, {"k1": float("nan")}]
)
def test_bm25_config_rejects_out_of_domain(kw):
    """Block bounds and the idf-sign whole-query prune assume w1 - ε ≥ 0,
    which needs k1 ≥ 0 and 0 ≤ b ≤ 1."""
    from neural_cherche_spark.index import BM25Config

    with pytest.raises(ValueError, match="BM25Config"):
        BM25Config(**kw)
    BM25Config(k1=0.0, b=0.0)
    BM25Config(b=1.0)


def test_raw_negative_epsilon_matches_reference(spark, tmp_path):
    """ε < 0 makes some w1 negative: the raw block bounds (low end
    floored at ε, not 0) must stay sound, so the block-max path and
    the Spark-free searcher both return the reference top-k."""
    from neural_cherche_spark.index import BM25Config
    from neural_cherche_spark.local import ReferenceBM25
    from neural_cherche_spark.query.bmw import search_bmw
    from neural_cherche_spark.serve import LocalSearcher

    docs = synth_webtext(spark, 200, seed=11).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["text"]) for i, r in enumerate(rows)]
    qdf = synth_queries(spark, 20, seed=3)
    qtexts = [r["query"] for r in qdf.orderBy("query_id").collect()]
    oracle = ReferenceBM25(epsilon=-0.5)
    oracle.add([i for i, _ in pdocs], [t for _, t in pdocs])
    expected = [
        [(d["key"], d["similarity"]) for d in row]
        for row in oracle(qtexts, k=10)
    ]
    idx = build_index(
        spark, spark.createDataFrame(pdocs, "doc_id long, text string"),
        str(tmp_path / "raw"), id_col="doc_id", n_buckets=8,
        salt_every=50, storage="raw", cfg=BM25Config(epsilon=-0.5),
    )
    got_bmw = _collect_topk(search_bmw(idx, qdf, k=10))
    local = LocalSearcher.from_index(idx).search(qtexts, k=10)
    # rtol 1e-3: the reference is float32 (see test_exact_pipeline)
    for qid, want in enumerate(expected):
        assert_rank_identical(got_bmw.get(qid, []), want, rtol=1e-3)
        got_local = [(d["doc_id"], d["score"]) for d in local[qid]]
        assert_rank_identical(got_local, want, rtol=1e-3)


def test_rebuild_into_weights_dir_with_raw_storage(
    spark, corpus, queries, raw_index, tmp_path
):
    """A raw build into a directory that holds a weights index replaces
    the weights postings layout (postings/bucket=*) instead of writing
    postings/seg=0 beside it: the rebuilt index answers exactly as a
    fresh raw build of the same corpus."""
    d = str(tmp_path / "switch")
    kw = dict(id_col="doc_id", n_buckets=8, salt_every=50)
    build_index(spark, corpus, d, **kw).close()
    idx = build_index(spark, corpus, d, storage="raw", resume=False, **kw)
    assert sorted(os.listdir(os.path.join(d, "postings"))) == ["seg=0"]
    got = idx.search(queries, k=10).collect()
    want = raw_index.search(queries, k=10).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert [tuple(r) for r in sorted(got, key=key)] == [
        tuple(r) for r in sorted(want, key=key)
    ]
    idx.close()
