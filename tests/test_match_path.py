"""One driver-side match path for every search.

``BM25Index.search`` takes a ``(query_id, query)`` DataFrame or a list
of strings; both are matched on the driver by
``query.bmw.serving_match_rows``. These tests pin that the DataFrame
form returns the match rows the Catalyst tokenize ⋈ termdict join
gives (``query_term_counts`` — the tokenizer that indexed the
documents), keeps the caller's ids, and plans with one Spark job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_queries, synth_webtext
from neural_cherche_spark.index.builder import (
    SERVING_FIELDS,
    BM25Index,
    build_index,
)
from neural_cherche_spark.query.bmw import (
    _drop_nonpositive_queries,
    serving_match_rows,
)
from neural_cherche_spark.query.exact import query_term_counts
from tests.conftest import STRATEGIES


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("match")
    docs = synth_webtext(spark, 150, seed=11).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    return {
        "weights": build_index(
            spark, docs, str(d / "weights"), id_col="doc_id", n_buckets=4,
            salt_every=40,
        ),
        "tfidf_raw": build_index(
            spark, docs, str(d / "tfidf_raw"), id_col="doc_id", n_buckets=4,
            salt_every=40, storage="raw", weighting="tfidf",
        ),
    }


@pytest.fixture(scope="module")
def qtexts(spark):
    rows = synth_queries(spark, 4, seed=3).collect()
    return [r["query"] for r in sorted(rows, key=lambda r: r["query_id"])]


@pytest.fixture(scope="module")
def qdf(spark, qtexts):
    """Non-contiguous ids, two rows sharing id 42, a null text, and a
    no-break space (not a word break for the Catalyst tokenizer)."""
    return spark.createDataFrame(
        [
            (7, qtexts[0]),
            (42, qtexts[1]),
            (42, qtexts[2]),
            (1000, None),
            (3, qtexts[3].replace(" ", "\xa0", 1)),
        ],
        "query_id long, query string",
    )


def _canon(rows: list) -> dict:
    return {
        r["term_id"]: (
            tuple(r[f] for f in SERVING_FIELDS),
            sorted((q["query_id"], float(q["qtf"])) for q in r["qs"]),
        )
        for r in rows
    }


def _catalyst_match_rows(idx, qdf) -> dict:
    """The match rows of the Catalyst path: per-(query_id, term) counts
    ⋈ the termdict, grouped per term, whole-query prune applied."""
    cfg = idx.manifest.cfg
    qt = query_term_counts(qdf, n_min=int(cfg["n_min"]), n_max=int(cfg["n_max"]))
    per_term: dict[int, dict] = {}
    for r in idx.termdict.join(qt, "term").collect():
        e = per_term.setdefault(
            r["term_id"], {**{f: r[f] for f in SERVING_FIELDS}, "qs": []}
        )
        e["qs"].append({"query_id": r["query_id"], "qtf": float(r["qtf"])})
    return _canon(_drop_nonpositive_queries(idx, list(per_term.values())))


def _results(df, ids=None) -> set:
    return {
        (ids[r["query_id"]] if ids else r["query_id"], r["doc_id"], r["rank"],
         round(r["score"], 9))
        for r in df.collect()
    }


@pytest.mark.parametrize("prepared", [False, True], ids=["unprepared", "prepared"])
def test_dataframe_match_equals_catalyst_match(spark, indexes, qdf, qtexts, prepared):
    idx = BM25Index(spark, indexes["weights"].cat.index_dir)
    if prepared:
        idx.prepare_serving()
    want = _catalyst_match_rows(idx, qdf)
    got = _canon(serving_match_rows(idx, qdf))
    assert got == want
    qids = {q for _, qs in want.values() for q, _ in qs}
    assert {7, 42} <= qids and 1000 not in qids
    # rows sharing an id sum their qtf: the same as one row holding
    # both texts (words never span the joining space)
    res = _results(idx.search(qdf, k=10))
    assert res and not any(q == 1000 for q, *_ in res)
    nbsp = qtexts[3].replace(" ", "\xa0", 1)
    as_list = idx.search([qtexts[0], qtexts[1] + " " + qtexts[2], nbsp], k=10)
    assert res == _results(as_list, ids={0: 7, 1: 42, 2: 3})
    assert idx._serving is None or prepared  # an unprepared map is not kept


@pytest.mark.parametrize("kind", ["weights", "tfidf_raw"])
def test_search_plan_runs_one_job(spark, indexes, qdf, kind):
    """Planning ``search(DataFrame)`` on a fresh handle submits exactly
    one Spark job: the collect of the caller's frame."""
    idx = BM25Index(spark, indexes[kind].cat.index_dir)
    sc = spark.sparkContext
    group = f"ncs-test-search-plan-{kind}"
    sc.setJobGroup(group, "search plan build")
    try:
        res = idx.search(qdf, k=5)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1, jobs
    assert res.collect()


@pytest.mark.parametrize("name", ["search", *sorted(STRATEGIES)])
def test_negative_query_id_rejected(spark, indexes, qtexts, name):
    """``query_id = -1`` keys the bulk groups, so caller ids must be
    non-negative; a bad id raises before the postings scan plans."""
    idx = indexes["weights"]
    bad = spark.createDataFrame(
        [(0, qtexts[0]), (-1, qtexts[1])], "query_id long, query string"
    )
    with pytest.raises(ValueError, match="query_id"):
        if name == "search":
            idx.search(bad, k=5)
        else:
            STRATEGIES[name](idx, bad, k=5)


def test_filtered_prepare_narrows_dataframe_search(spark, indexes, qtexts):
    """A filtered ``prepare_serving(queries=...)`` serves every later
    search on the handle, the DataFrame form included: a gram outside
    the prepared workload raises instead of being looked up, and
    ``close()`` restores the per-batch termdict read."""
    idx = BM25Index(spark, indexes["weights"].cat.index_dir)
    prepared_df = spark.createDataFrame(
        [(5, qtexts[0])], "query_id long, query string"
    )
    outside_df = spark.createDataFrame(
        [(5, qtexts[0]), (6, "zzzql zzzqm")], "query_id long, query string"
    )
    want = _results(idx.search(outside_df, k=5))
    idx.prepare_serving(queries=[qtexts[0]])
    try:
        assert _results(idx.search(prepared_df, k=5)) == {
            r for r in want if r[0] == 5
        }
        with pytest.raises(ValueError, match="not in the"):
            idx.search(outside_df, k=5)
    finally:
        idx.close()
    assert _results(idx.search(outside_df, k=5)) == want
