"""LocalSearcher (serve.py): the Spark-free serving tier must return
EXACTLY what the cluster serving path returns — same docs, same
scores, same tie-breaks — because it feeds the same scorer the same
columns from a pyarrow read of the same artifact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import build_index
from neural_cherche_spark.serve import LocalSearcher


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, 400, seed=7).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("srv") / "bm25")
    # tiny salt_every so head grams are salted: the local scorer sees
    # multi-run terms, as the cluster path does
    return build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50
    )


@pytest.fixture(scope="module")
def qtexts(spark):
    return [r["query"] for r in synth_queries(spark, 10, seed=3).collect()]


def test_local_matches_search_list(index, qtexts):
    index.prepare_serving()
    srv = LocalSearcher.from_index(index)
    k = 10
    spark_rows = index.search(qtexts, k=k).collect()
    expected: dict[int, list] = {}
    for r in sorted(spark_rows, key=lambda r: (r["query_id"], r["rank"])):
        expected.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), r["score"], int(r["rank"]))
        )
    local = srv.search(qtexts, k=k)
    for qid, res in enumerate(local):
        got = [(d["doc_id"], d["score"], d["rank"]) for d in res]
        exp = expected.get(qid, [])
        assert [g[0] for g in got] == [e[0] for e in exp], f"q{qid} docs"
        assert [g[2] for g in got] == [e[2] for e in exp], f"q{qid} ranks"
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-12), f"q{qid} scores"


def test_single_string_query(index, qtexts):
    srv = LocalSearcher.from_index(index)
    res = srv.search(qtexts[0], k=5)
    assert isinstance(res, list)
    assert all(isinstance(d, dict) for d in res)
    assert [d["rank"] for d in res] == list(range(1, len(res) + 1))


def test_unknown_vocab_query_empty(index):
    srv = LocalSearcher.from_index(index)
    assert srv.search("zzzzqqqq", k=5) == []


def test_raw_storage_parity(spark, corpus, qtexts, tmp_path_factory):
    """Raw-storage bm25: query-time weights computed in-process must
    match the cluster serving path exactly."""
    d = str(tmp_path_factory.mktemp("srvraw") / "raw")
    idx = build_index(
        spark, corpus, d, id_col="doc_id", n_buckets=8, salt_every=50,
        storage="raw",
    )
    idx.prepare_serving()
    srv = LocalSearcher.from_index(idx)
    k = 10
    expected: dict[int, list] = {}
    for r in sorted(
        idx.search(qtexts, k=k).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    ):
        expected.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), r["score"])
        )
    local = srv.search(qtexts, k=k)
    for qid, res in enumerate(local):
        got = [(d["doc_id"], d["score"]) for d in res]
        exp = expected.get(qid, [])
        assert [g[0] for g in got] == [e[0] for e in exp], f"q{qid}"
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


DELETED = [i for i in range(400) if i % 5 == 2]


@pytest.fixture(scope="module")
def tomb_index(spark, corpus, tmp_path_factory):
    """Raw refresh with pending tombstones."""
    from neural_cherche_spark.streaming import CompressedIndexStream

    d = tmp_path_factory.mktemp("srvtomb")
    stream = CompressedIndexStream(spark, str(d / "state"))
    idx_dir = str(d / "idx")
    stream.add_batch(corpus, epoch_id=0)
    stream.materialize(idx_dir, n_buckets=8, salt_every=50, storage="raw")
    stream.delete_batch(DELETED, epoch_id=1)
    idx = stream.materialize(
        idx_dir, n_buckets=8, salt_every=50, storage="raw"
    )
    assert idx.manifest.tombstones_path != ""
    return idx


def test_tombstoned_raw_parity(tomb_index, qtexts):
    """Deletes: the in-process tombmask read must hide deleted docs
    exactly as the cluster path does."""
    idx = tomb_index
    idx.prepare_serving()
    srv = LocalSearcher.from_index(idx)
    k = 10
    expected: dict[int, list] = {}
    for r in sorted(
        idx.search(qtexts, k=k).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    ):
        expected.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), r["score"])
        )
    local = srv.search(qtexts, k=k)
    dset = set(DELETED)
    for qid, res in enumerate(local):
        got = [(d["doc_id"], d["score"]) for d in res]
        assert not any(g[0] in dset for g in got)
        exp = expected.get(qid, [])
        assert [g[0] for g in got] == [e[0] for e in exp], f"q{qid}"
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_repeated_requests_score_bit_identically(tomb_index, qtexts):
    """One searcher answering the same batch again — first from its
    scans, then from its block cache, then from decoded cache entries —
    returns bit-identical scores every time."""
    tomb_index.prepare_serving()
    srv = LocalSearcher.from_index(tomb_index)
    passes = [
        [[(d["doc_id"], d["score"].hex()) for d in res] for res in srv.search(qtexts, k=10)]
        for _ in range(5)
    ]
    assert any(passes[0])
    assert all(p == passes[0] for p in passes[1:])


def test_no_spark_jobs_during_search(index, qtexts, spark):
    """The whole point: after construction, a search must run ZERO
    Spark jobs (tracked via the status API's job counter)."""
    index.prepare_serving()
    srv = LocalSearcher.from_index(index)
    srv.search(qtexts[0], k=5)  # warm any lazy pyarrow state
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    for q in qtexts:
        srv.search(q, k=5)
    jobs_after = set(spark.sparkContext.statusTracker().getJobIdsForGroup())
    assert jobs_after == jobs_before


def test_open_runs_no_spark_jobs(spark, index, tomb_index, qtexts):
    """Opening the serving tier is Spark-free too: a fresh handle, the
    full and the vocabulary-filtered prepare, and the searcher open
    submit zero Spark jobs (weights index and tombstoned raw refresh)."""
    from neural_cherche_spark.index.builder import BM25Index

    sc = spark.sparkContext
    group = "ncs-test-serving-open"
    sc.setJobGroup(group, "serving open must not run Spark jobs")
    try:
        for built in (index, tomb_index):
            idx = BM25Index(spark, built.cat.index_dir)
            idx.prepare_serving()
            assert idx._serving
            idx.prepare_serving(queries=qtexts)
            assert idx._serving_prepared
            fresh = BM25Index(spark, built.cat.index_dir)
            srv = LocalSearcher.from_index(fresh, queries=qtexts)
            srv.search(qtexts, k=5)
            LocalSearcher.from_index(BM25Index(spark, built.cat.index_dir))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        spark.range(3).count()  # the group does see this thread's jobs
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_hot_term_cache(index, qtexts):
    srv = LocalSearcher.from_index(index)
    first = srv.search(qtexts[0], k=5)
    misses_after_first = srv.cache_misses
    assert misses_after_first >= 1
    again = srv.search(qtexts[0], k=5)
    assert srv.cache_misses == misses_after_first  # fully cached
    assert again == first
    # a different query with disjoint grams scans again
    srv.search(qtexts[1], k=5)
    assert srv.cache_misses >= misses_after_first

    # a cached term's decoded postings (the ``dec_at`` + ``dec_*``
    # arrays of its cache entry) attach on its FOURTH access: the scan
    # that caches it is the first, and the third cache hit decodes;
    # answers never change along the way
    srv = LocalSearcher.from_index(index)
    assert srv.search(qtexts[0], k=5) == first
    terms = list(srv._cache)
    assert terms
    for access in (2, 3, 4):
        decoded = ["dec_at" in srv._cache[t][0] for t in terms]
        assert not any(decoded), access
        assert srv.search(qtexts[0], k=5) == first
    assert all("dec_at" in srv._cache[t][0] for t in terms)
    assert srv.cache_misses == 1


def test_cache_disabled_and_eviction(index, qtexts):
    srv0 = LocalSearcher.from_index(index)
    srv0._cache_cap = 0
    srv0.search(qtexts[0], k=5)
    srv0.search(qtexts[0], k=5)
    assert srv0.cache_misses == 2  # no retention
    assert srv0._cache_bytes == 0

    srv1 = LocalSearcher.from_index(index)
    srv1._cache_cap = 1  # everything evicts immediately after insert
    r1 = srv1.search(qtexts[0], k=5)
    r2 = srv1.search(qtexts[0], k=5)
    assert srv1.cache_misses == 2
    assert r1 == r2


def test_search_builds_no_pandas_frames(monkeypatch, index, tomb_index, qtexts):
    """The serving path has one data representation — numpy arrays: no
    cold (scan) or warm (cached, then pre-decoded) search constructs a
    pandas object (a DataFrame or a Series) or calls ``pd.concat``, for
    weights or raw (here tombstoned) storage. The queries reach the
    kernel's signed-bound path: their head grams have idf < 0."""
    import pandas as pd

    from neural_cherche_spark.query import bmw

    calls = {"DataFrame": 0, "Series": 0, "concat": 0, "signed": 0}
    init = {c: c.__init__ for c in (pd.DataFrame, pd.Series)}
    concat, signed = pd.concat, bmw._run_suffix_bounds_signed

    def counting(cls):
        def counting_init(self, *a, **kw):
            calls[cls.__name__] += 1
            init[cls](self, *a, **kw)

        return counting_init

    def counting_concat(*a, **kw):
        calls["concat"] += 1
        return concat(*a, **kw)

    def counting_signed(*a, **kw):
        calls["signed"] += 1
        return signed(*a, **kw)

    for idx in (index, tomb_index):
        srv = LocalSearcher.from_index(idx)
        for cls in init:
            monkeypatch.setattr(cls, "__init__", counting(cls))
        monkeypatch.setattr(pd, "concat", counting_concat)
        monkeypatch.setattr(bmw, "_run_suffix_bounds_signed", counting_signed)
        got = [srv.search(qtexts, k=5) for _ in range(5)]
        monkeypatch.undo()
        assert calls["signed"] > 0
        calls["signed"] = 0
        assert calls == {"DataFrame": 0, "Series": 0, "concat": 0, "signed": 0}
        for g in got[1:]:
            # cached passes may sum a doc's terms in another block order
            assert [[(x["doc_id"], x["rank"]) for x in q] for q in g] == [
                [(x["doc_id"], x["rank"]) for x in q] for q in got[0]
            ]
            assert [x["score"] for q in g for x in q] == pytest.approx(
                [x["score"] for q in got[0] for x in q], rel=1e-12
            )
        assert srv.cache_misses == 1
        assert all("dec_at" in e[0] for e in srv._cache.values())
