"""Id assignment: term ids are the rank in Spark's term order (the
driver assigns them from one Arrow collect of the term table), a
refresh extends the id space in the same order past the base's largest
id (so a refresh after deletes reuses none), url-assigned doc ids
stay dense whatever the range split, and a warm build stays within its
Spark job budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.data import synth_webtext
from neural_cherche_spark.index.builder import _unpin, _zip_with_index, build_index
from neural_cherche_spark.serve import LocalSearcher
from neural_cherche_spark.streaming import CompressedIndexStream

# grams of every UTF-8 width: Latin-1 (é, ß), CJK, fullwidth/halfwidth
# forms (U+FF00 block, above the UTF-16 surrogates) and emoji inside
# words (outside the BMP, so UTF-16 code-unit order would put them
# BEFORE U+FF00)
TEXTS = [
    "café naïve résumé déjà vu",
    "straße groß fuß weiß",
    "東京都 北京市 東京タワー",
    "pizza🍕 party🎉 night 🍕🍕🍕",
    "ＡＢＣ ｶﾀｶﾅ ｼﾞｬﾝﾌﾟ",
    "plain ascii words only",
    "mixed café 東京 yum🍕 ｶﾀｶﾅ straße",
    "zebra émigré 北京 🎉ok ＡＢＣ",
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, TEXTS[i]) for i in ids], "doc_id long, text string"
    )


def _ids(idx) -> dict:
    return {r["term"]: r["term_id"] for r in idx.termdict.collect()}


def _spark_order(spark, terms) -> list[str]:
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    return [r["term"] for r in df.orderBy("term").collect()]


def test_build_term_ids_are_spark_term_order(spark, tmp_path):
    idx = build_index(
        spark, _docs(spark, range(len(TEXTS))), str(tmp_path / "b"),
        id_col="doc_id", n_buckets=4,
    )
    ids = _ids(idx)
    assert sorted(ids.values()) == list(range(idx.manifest.n_terms))
    want = [r["term"] for r in idx.termdict.orderBy("term").collect()]
    assert sorted(ids, key=ids.get) == want
    # the corpus exercises the orders that differ: supplementary-plane
    # grams sort after U+FF00 grams in UTF-8 byte (= code point) order
    chars = {ord(c) for t in ids for c in t}
    assert max(chars) > 0xFFFF and any(0xE000 <= c <= 0xFFFF for c in chars)
    assert want == sorted(want)
    idx.close()


def test_refresh_term_ids_extend_in_term_order(spark, tmp_path):
    """New terms get the base's id span + their rank in Spark term
    order, on an exact and on a frozen-stats refresh; old ids never
    move. (No deletes here, so the span equals base.n_terms.)"""
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    d = str(tmp_path / "idx")
    stream.add_batch(_docs(spark, [0, 5]), epoch_id=0)
    prev = stream.materialize(d, n_buckets=4, storage="raw")
    for epoch, (batch, frozen) in enumerate(
        [([1, 2, 3], False), ([4, 6, 7], True)], start=1
    ):
        old = _ids(prev)
        n_base = prev.manifest.n_terms
        stream.add_batch(_docs(spark, batch), epoch_id=epoch)
        idx = stream.materialize(
            d, n_buckets=4, storage="raw", freeze_stats=frozen
        )
        ids = _ids(idx)
        assert {t: ids[t] for t in old} == old
        fresh = _spark_order(spark, [t for t in ids if t not in old])
        assert fresh, "each batch brings new grams"
        assert [ids[t] for t in fresh] == list(
            range(n_base, n_base + len(fresh))
        )
        assert idx.manifest.n_terms == n_base + len(fresh)
        prev.close()
        prev = idx
    prev.close()


# a stream whose second refresh deletes doc 1 — the only doc holding
# its grams — so the exact refresh drops terms and the termdict's row
# count falls below its id span; the third refresh then adds new terms
STREAM = [
    {0: "apple banana cherry", 1: "kiwi lychee mango",
     2: "apple cherry grape", 3: "banana grape melon"},
    {4: "zucchini yam xigua", 5: "apple zebra yak"},
    {6: "papaya quince", 7: "quince raspberry apple"},
]
FRUIT = ["quince", "raspberry", "papaya", "zucchini", "zebra", "yak",
         "xigua", "yam", "apple", "grape"]


def _fruit(spark, docs: dict):
    return spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )


def test_refresh_after_deletes_never_reuses_term_ids(spark, tmp_path):
    """New terms are numbered past the base termdict's largest id, not
    from its row count: after add → add + delete → add (three exact raw
    refreshes) every term id is unique, and every query answers as a
    fresh raw build over the live docs does."""
    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    d = str(tmp_path / "idx")
    kw = dict(n_buckets=4, storage="raw")
    stream.add_batch(_fruit(spark, STREAM[0]), epoch_id=0)
    stream.materialize(d, **kw).close()
    stream.add_batch(_fruit(spark, STREAM[1]), epoch_id=1)
    stream.delete_batch([1], epoch_id=0)
    mid = stream.materialize(d, **kw)
    ids = [r["term_id"] for r in mid.termdict.collect()]
    assert mid.manifest.n_terms == len(ids) < max(ids) + 1, "terms dropped"
    mid.close()
    stream.add_batch(_fruit(spark, STREAM[2]), epoch_id=2)
    idx = stream.materialize(d, **kw)
    ids = [r["term_id"] for r in idx.termdict.collect()]
    assert len(set(ids)) == len(ids) == idx.manifest.n_terms

    live = {k: v for b in STREAM for k, v in b.items() if k != 1}
    fresh = build_index(
        spark, _fruit(spark, live), str(tmp_path / "fresh"),
        id_col="doc_id", **kw,
    )

    def spark_topk(index):
        out = [[] for _ in FRUIT]
        rows = index.search(FRUIT, k=5).collect()
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((r["doc_id"], r["score"]))
        return out

    def local_topk(index):
        srv = LocalSearcher.from_index(index)
        return [[(x["doc_id"], x["score"]) for x in q] for q in srv.search(FRUIT, k=5)]

    for topk in (spark_topk, local_topk):
        got, want = topk(idx), topk(fresh)
        assert [[doc for doc, _ in q] for q in got] == [
            [doc for doc, _ in q] for q in want
        ], topk.__name__
        for g, w in zip(got, want):
            assert [s for _, s in g] == pytest.approx([s for _, s in w], rel=1e-9)
    idx.close()
    fresh.close()


def test_zip_with_index_dense_with_empty_range_partitions(spark):
    """Fewer distinct keys than shuffle partitions: the range split
    leaves partitions empty, and ids must still be 0..n-1 in key order."""
    keys = ["kiwi", "apple", "fig", "date", "banana"]
    df = spark.createDataFrame(
        [(k, len(k)) for k in keys], "k string, v long"
    )
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    counter: dict = {}
    try:
        rows = _zip_with_index(df, "k", "id", counter=counter).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        _unpin(counter.get("keys"))
    assert counter["n"] == len(keys)
    assert sorted((r["k"], r["id"]) for r in rows) == [
        (k, i) for i, k in enumerate(sorted(keys))
    ]


def test_warm_build_job_budget(spark, tmp_path):
    """A warm build_index submits at most 20 Spark jobs (all of them:
    the concurrent fingerprint and docmap writes run outside any job
    group)."""
    docs = synth_webtext(spark, 120, seed=7).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    build_index(spark, docs, str(tmp_path / "warm"), id_col="doc_id", n_buckets=4)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    idx = build_index(
        spark, docs, str(tmp_path / "measured"), id_col="doc_id", n_buckets=4
    )
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert 0 < len(jobs) <= 20, sorted(jobs)
    idx.close()
