"""tfidf + raw storage block-max path (round-5, VERDICT r4 next-steps
#2): blocks carry per-posting tf and the FLOOR-QUANTIZED encode-time
docnorm ρq in the dls stream (codec.DNORM_SCALE); per-segment γ drift
factors in the manifest keep the normalized bounds sound across
refreshes, so ``search_bmw`` prunes on tfidf raw indexes instead of
silently routing to the bulk path.

Two layers:
 * no-Spark property/prune tests calling ``_bmw_group_fn`` directly on
   the frames applyInPandas would hand it — including a decode counter
   asserting blocks are actually SKIPPED on a skewed group;
 * Spark tests pinning the γ bookkeeping across delta / frozen
   refreshes and the bulk-path fallback for pre-quantization layouts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.index.codec import (
    DNORM_SCALE,
    encode_partition_bulk_raw,
)
from neural_cherche_spark.query.bmw import (
    _bmw_group_fn,
    _tfidf_raw_gammas,
    search_bmw,
)

K = 5
# k1/b/eps/avgdl are unused by the tfidf scorer branch
TFIDF_RAW_CFG = (1.5, 0.75, 0.0, 10.0, "tfidf")
# one segment with no norm drift: γ = (1, 1)
GAMMAS = {0: (1.0, 1.0)}


def _tfidf_block_frame(term_id, s_t, qtf, docs_t, tfs_t, rq_t, block_size=8):
    """One term's raw blocks as search_bmw hands them to the scorer:
    the stored block columns plus the query side (qtf, s_t)."""
    n = docs_t.size
    enc = encode_partition_bulk_raw(
        np.full(n, term_id, dtype=np.int64),
        np.zeros(n, dtype=np.int64),
        docs_t,
        tfs_t,
        rq_t,  # the dl slot carries ρq for tfidf
        np.ones(n, dtype=np.int64),
        block_size=block_size,
    )
    return pd.DataFrame(
        {
            "term_id": enc["term_id"],
            "salt": enc["salt"],
            "n": enc["n"],
            "qtf": qtf,
            "s_t": s_t,
            "max_tf": enc["max_tf"],
            "min_tf": enc["min_tf"],
            "min_dl": enc["min_dl"],
            "max_dl": enc["max_dl"],
            "seg": 0,
            "first_doc": enc["first_doc"],
            "last_doc": enc["last_doc"],
            "docs": enc["docs"],
            "tfs": enc["tfs"],
            "dls": enc["dls"],
        }
    )


def _finalize(parts, dnorm, k=K):
    """Emulate search_bmw's post-stage: sum partials per doc, divide by
    the TRUE docnorm, rank score desc / doc_id asc, cut to k."""
    got = pd.concat(parts, ignore_index=True)
    got = got.groupby("doc_id", as_index=False)["score"].sum()
    got["score"] = got["score"] / dnorm[got["doc_id"].to_numpy()]
    got = got[got["score"] > 0]
    got = got.sort_values(["score", "doc_id"], ascending=[False, True])
    return [(int(r.doc_id), float(r.score)) for r in got.head(k).itertuples()]


def _brute_topk(truth, k=K):
    order = np.lexsort((np.arange(truth.size), -truth))
    out = []
    for d in order:
        if truth[d] <= 0 or len(out) >= k:
            break
        out.append((int(d), float(truth[d])))
    return out


@pytest.mark.parametrize("seed", range(8))
def test_tfidf_group_fn_matches_brute_force(seed):
    """Randomized posting sets: the tfidf branch's candidate-superset
    emission + exact-norm division must reproduce brute-force cosine
    top-k exactly (tf and s_t integers, norms dyadic ⇒ f64-exact)."""
    rng = np.random.default_rng(seed)
    n_docs = 600
    # dyadic norms in [1, 8): exact in f64 AND on the ρq grid, so the
    # quantization bounds are exact and any unsound γ/ρ logic is a
    # hard mismatch, not a tolerance blur
    dnorm = (rng.integers(64, 512, size=n_docs) / 64.0).astype(np.float64)
    rq = np.floor(dnorm * DNORM_SCALE).astype(np.int64)
    # accumulate UNNORMALIZED integer sums and divide once — the
    # engine's op order (grouped partial sums, one docnorm division),
    # so the comparison is f64 equality, not tolerance
    unnorm = np.zeros(n_docs, dtype=np.float64)
    frames = []
    for t in range(int(rng.integers(2, 6))):
        s_t = float(rng.integers(1, 5))
        qtf = float(rng.integers(1, 4))
        df = int(rng.integers(1, n_docs + 1))
        docs_t = np.sort(rng.choice(n_docs, size=df, replace=False))
        tfs_t = rng.integers(1, 6, size=df).astype(np.int64)
        unnorm[docs_t] += qtf * s_t * tfs_t
        frames.append(
            _tfidf_block_frame(t, s_t, qtf, docs_t, tfs_t, rq[docs_t])
        )
    truth = unnorm / dnorm
    pdf = pd.concat(frames, ignore_index=True)
    pdf["query_id"] = 7
    out = _bmw_group_fn(K, TFIDF_RAW_CFG, gammas=GAMMAS)(pdf)
    assert _finalize([out], dnorm) == _brute_topk(truth), f"seed={seed}"


def test_tfidf_group_fn_skips_blocks_on_skew():
    """The VERDICT r4 'done =' gate: on a skewed group (rare
    high-impact term + long low-impact tail) the tfidf block-max
    branch must terminate early — decode counter strictly below a
    quarter of the blocks — while staying exact."""
    rng = np.random.default_rng(42)
    n_docs = 20_000
    dnorm = (rng.integers(64, 256, size=n_docs) / 64.0).astype(np.float64)
    rq = np.floor(dnorm * DNORM_SCALE).astype(np.int64)
    unnorm = np.zeros(n_docs, dtype=np.float64)
    frames = []
    # term 0: rare, high tf·idf (the query's discriminative term)
    docs_t = np.sort(rng.choice(n_docs, size=64, replace=False))
    tfs_t = rng.integers(40, 60, size=64).astype(np.int64)
    unnorm[docs_t] += 2.0 * 4.0 * tfs_t
    frames.append(_tfidf_block_frame(0, 4.0, 2.0, docs_t, tfs_t, rq[docs_t]))
    # term 1: huge df, tf=1, low idf (a long prunable tail)
    docs_t = np.sort(rng.choice(n_docs, size=16_000, replace=False))
    tfs_t = np.ones(16_000, dtype=np.int64)
    unnorm[docs_t] += 1.0 * 1.0 * tfs_t
    frames.append(_tfidf_block_frame(1, 1.0, 1.0, docs_t, tfs_t, rq[docs_t]))
    truth = unnorm / dnorm
    pdf = pd.concat(frames, ignore_index=True)
    pdf["query_id"] = 1
    n_blocks = len(pdf)
    stats: dict = {}
    out = _bmw_group_fn(K, TFIDF_RAW_CFG, _stats=stats, gammas=GAMMAS)(pdf)
    assert _finalize([out], dnorm) == _brute_topk(truth)
    assert stats["decoded"] < 0.25 * n_blocks, (stats, n_blocks)


# ---------------------------------------------------------------------------
# Spark: γ bookkeeping + fallback routing
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def corpus(spark):
    from neural_cherche_spark.data import synth_webtext

    docs = synth_webtext(spark, 160, seed=11).select("url", "text")
    rows = sorted(docs.collect(), key=lambda r: r["url"])
    pdocs = [(i, r["url"], r["text"]) for i, r in enumerate(rows)]
    return spark.createDataFrame(pdocs, "doc_id long, url string, text string")


def _stream_two_batches(spark, corpus, tmp_path, **kw):
    from neural_cherche_spark.streaming import CompressedIndexStream

    stream = CompressedIndexStream(spark, str(tmp_path / "state"))
    stream.add_batch(corpus.filter(F.col("doc_id") < 80), epoch_id=0)
    stream.materialize(
        str(tmp_path / "idx"), n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf",
    )
    stream.add_batch(corpus.filter(F.col("doc_id") >= 80), epoch_id=1)
    idx = stream.materialize(
        str(tmp_path / "idx"), n_buckets=8, salt_every=50,
        storage="raw", weighting="tfidf", **kw,
    )
    return stream, idx


def test_gamma_bookkeeping_delta(spark, corpus, tmp_path):
    """Fresh seg=1 gets γ = [1, 1]; seg=0's factors compound the
    measured global dnorm drift of the refresh and must bracket 1 only
    if norms actually moved both ways — the invariant is lo ≤ hi with
    lo ≤ 1 + ulp slack when any norm shrank, and COVERAGE of every
    committed segment (the block-max router's gate)."""
    _, idx = _stream_two_batches(spark, corpus, tmp_path)
    g = idx.manifest.dnorm_gammas
    assert set(g) == {"0", "1"}
    assert g["1"] == [1.0, 1.0]
    lo, hi = g["0"]
    assert 0.0 < lo <= hi
    # growing corpus under smoothed idf: norms move — factors are not
    # the degenerate [1, 1] unless the drift really was zero
    cov = _tfidf_raw_gammas(idx)
    assert cov is not None and set(cov) == {0, 1}


def test_gamma_bookkeeping_frozen(spark, corpus, tmp_path):
    """freeze_stats keeps old docs' norms verbatim ⇒ the drift step is
    exactly 1 and seg=0's factors stay [1, 1]."""
    _, idx = _stream_two_batches(
        spark, corpus, tmp_path, freeze_stats=True
    )
    g = idx.manifest.dnorm_gammas
    assert g["0"] == [1.0, 1.0]
    assert g["1"] == [1.0, 1.0]


def test_missing_gamma_routes_to_bulk(spark, corpus, tmp_path):
    """A segment without a γ entry (pre-quantization layout: its dls
    stream holds dl, not ρq) must disable the block-max path for the
    whole index — and the search must still be rank-identical via the
    bulk fallback."""
    from neural_cherche_spark.data import synth_queries

    stream, idx = _stream_two_batches(spark, corpus, tmp_path)
    assert _tfidf_raw_gammas(idx) is not None
    baseline = search_bmw(idx, synth_queries(spark, 5, seed=3), k=10)
    base_rows = sorted(
        (r["query_id"], r["rank"], r["doc_id"]) for r in baseline.collect()
    )
    # strip seg 1's entry → router must refuse block-max
    del idx.manifest.dnorm_gammas["1"]
    assert _tfidf_raw_gammas(idx) is None
    fallback = search_bmw(idx, synth_queries(spark, 5, seed=3), k=10)
    fb_rows = sorted(
        (r["query_id"], r["rank"], r["doc_id"]) for r in fallback.collect()
    )
    assert fb_rows == base_rows
