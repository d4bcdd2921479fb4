"""Property test: the block-max group scorer (with sign-split pruning,
candidate range-skip, and salted (term, salt) runs) must reproduce
brute-force top-k exactly on randomized posting sets, one group per
query.

No Spark — `_bmw_group_fn` is called directly on the pandas frames
applyInPandas would hand it. Weights are dyadic rationals (k/64) and
qtf small ints, so every score is exact in float32 AND float64 and the
comparison is equality, not tolerance: any unsound pruning bound shows
up as a hard mismatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from neural_cherche_spark.index.codec import (
    doc_salt,
    encode_partition_bulk,
)
from neural_cherche_spark.query.bmw import _bmw_group_fn

K = 5


def _build_group(rng, n_docs, n_terms):
    """Synthesize one query's salted posting blocks + the brute-force
    per-doc scores. Per-term sign mimics idf (whole run shares it)
    but a few terms get mixed-sign blocks to stress the bounds."""
    all_docs = np.arange(n_docs, dtype=np.int64)
    truth = np.zeros(n_docs, dtype=np.float64)
    frames = []
    for t in range(n_terms):
        s_t = int(rng.choice([1, 2, 4]))
        qtf = float(rng.integers(1, 4))
        df = int(rng.integers(1, n_docs + 1))
        docs_t = np.sort(rng.choice(all_docs, size=df, replace=False))
        sign = rng.choice([-1.0, 1.0])
        w = sign * rng.integers(1, 64, size=df) / 64.0
        if rng.random() < 0.3:  # mixed-sign run (stress, not realism)
            flip = rng.random(df) < 0.2
            w[flip] = -w[flip]
        truth[docs_t] += qtf * w
        salts = doc_salt(docs_t, s_t)
        for j in range(s_t):
            m = salts == j
            if not m.any():
                continue
            enc = encode_partition_bulk(
                np.full(int(m.sum()), t, dtype=np.int64),
                np.full(int(m.sum()), j, dtype=np.int64),
                docs_t[m],
                w[m].astype(np.float32),
                block_size=8,
            )
            frames.append(
                pd.DataFrame(
                    {
                        "term_id": enc["term_id"],
                        "salt": enc["salt"],
                        "n": enc["n"],
                        "qtf": qtf,
                        "max_w": enc["max_w"],
                        "min_w": enc["min_w"],
                        "first_doc": enc["first_doc"],
                        "last_doc": enc["last_doc"],
                        "docs": enc["docs"],
                        "ws": enc["ws"],
                    }
                )
            )
    return pd.concat(frames, ignore_index=True), truth


def _brute_topk(truth, k=K):
    docs = np.flatnonzero(truth > 0)
    order = np.lexsort((docs, -truth[docs]))[:k]
    return [(int(docs[i]), float(truth[docs[i]])) for i in order]


@pytest.mark.parametrize("seed", range(12))
def test_bmw_group_matches_bruteforce(seed):
    rng = np.random.default_rng(seed)
    pdf, truth = _build_group(
        rng, n_docs=int(rng.integers(40, 300)), n_terms=int(rng.integers(1, 9))
    )
    pdf["query_id"] = 7
    got = _bmw_group_fn(K)(pdf)
    got = got.sort_values(["score", "doc_id"], ascending=[False, True])
    got_topk = [
        (int(r.doc_id), float(r.score)) for r in got.head(K).itertuples()
    ]
    assert got_topk == _brute_topk(truth), f"seed={seed}"


def test_adaptive_chunks_prune_skewed_groups():
    """Microbench-style: on a skewed group (few dominant blocks, long
    prunable tail) the adaptive chunk schedule must terminate after a
    small fraction of blocks, and stay exact (VERDICT r2 #8)."""
    rng = np.random.default_rng(99)
    n_docs = 20_000
    all_docs = np.arange(n_docs, dtype=np.int64)
    truth = np.zeros(n_docs, dtype=np.float64)
    frames = []
    # term 0: rare, high-weight (the query's discriminative term)
    docs_t = np.sort(rng.choice(all_docs, size=64, replace=False))
    w = rng.integers(48, 64, size=64) / 64.0
    truth[docs_t] += 3.0 * w
    enc = encode_partition_bulk(
        np.zeros(64, dtype=np.int64), np.zeros(64, dtype=np.int64),
        docs_t, w.astype(np.float32), block_size=8,
    )
    frames.append(pd.DataFrame({
        "term_id": enc["term_id"], "salt": enc["salt"], "n": enc["n"],
        "qtf": 3.0,
        "max_w": enc["max_w"], "min_w": enc["min_w"],
        "first_doc": enc["first_doc"], "last_doc": enc["last_doc"],
        "docs": enc["docs"], "ws": enc["ws"],
    }))
    # term 1: huge, tiny positive weights (a long prunable tail)
    docs_t = np.sort(rng.choice(all_docs, size=16_000, replace=False))
    w = rng.integers(1, 3, size=16_000) / 64.0
    truth[docs_t] += 1.0 * w
    enc = encode_partition_bulk(
        np.full(16_000, 1, dtype=np.int64), np.zeros(16_000, dtype=np.int64),
        docs_t, w.astype(np.float32), block_size=8,
    )
    frames.append(pd.DataFrame({
        "term_id": enc["term_id"], "salt": enc["salt"], "n": enc["n"],
        "qtf": 1.0,
        "max_w": enc["max_w"], "min_w": enc["min_w"],
        "first_doc": enc["first_doc"], "last_doc": enc["last_doc"],
        "docs": enc["docs"], "ws": enc["ws"],
    }))
    pdf = pd.concat(frames, ignore_index=True)
    pdf["query_id"] = 1
    n_blocks = len(pdf)

    stats: dict = {}
    got = _bmw_group_fn(K, _stats=stats)(pdf)
    got = got.sort_values(["score", "doc_id"], ascending=[False, True])
    got_topk = [
        (int(r.doc_id), round(float(r.score), 9)) for r in got.head(K).itertuples()
    ]
    want = [(d, round(s, 9)) for d, s in _brute_topk(truth)]
    assert got_topk == want
    # the tail term alone is ~2000 blocks; the schedule must stop early
    assert stats["decoded"] < 0.25 * n_blocks, (stats, n_blocks)


def test_block_payload_mixes_decoded_and_encoded_blocks():
    """Blocks arriving pre-decoded (``dec_at`` + flat ``dec_*`` arrays,
    the serving cache's form) and still-encoded blocks, in any mix and
    order, give exactly the codec's arrays in the requested order."""
    from neural_cherche_spark.index.codec import (
        decode_blocks_batched,
        decode_blocks_raw_batched,
        encode_partition_bulk_raw,
    )
    from neural_cherche_spark.query.bmw import _block_payload

    rng = np.random.default_rng(5)
    n = 300
    docs = np.sort(rng.choice(5000, size=n, replace=False)).astype(np.int64)
    tf = rng.integers(1, 30, n).astype(np.int64)
    dl = rng.integers(1, 900, n).astype(np.int64)
    enc = encode_partition_bulk_raw(
        np.zeros(n, np.int64), np.zeros(n, np.int64), docs, tf, dl,
        np.ones(n, np.int64), block_size=16,
    )
    ws = rng.random(n).astype(np.float32)
    ns = np.asarray(enc["n"], dtype=np.int64)
    starts = np.cumsum(ns) - ns
    wbins = [ws[s : s + c].tobytes() for s, c in zip(starts, ns)]
    cols = {
        "n": ns,
        "docs": np.array(enc["docs"], dtype=object),
        "tfs": np.array(enc["tfs"], dtype=object),
        "dls": np.array(enc["dls"], dtype=object),
        "ws": np.array(wbins, dtype=object),
    }
    # decoded copies of every other block, stored in reverse block order
    hot = np.arange(ns.size)[::-2]
    at = np.full(ns.size, -1, dtype=np.int64)
    at[hot] = np.cumsum(ns[hot]) - ns[hot]
    flat_d, flat_tf, flat_dl = decode_blocks_raw_batched(
        cols["docs"][hot], cols["tfs"][hot], cols["dls"][hot], ns[hot]
    )
    _, flat_w = decode_blocks_batched(cols["docs"][hot], cols["ws"][hot], ns[hot])
    cols.update(
        dec_at=at, dec_docs=flat_d, dec_tfs=flat_tf, dec_dls=flat_dl,
        dec_ws=flat_w,
    )
    for idx in (rng.permutation(ns.size), hot, hot[::-1], np.array([0, 1])):
        want_raw = decode_blocks_raw_batched(
            cols["docs"][idx], cols["tfs"][idx], cols["dls"][idx], ns[idx]
        )
        want_w = decode_blocks_batched(cols["docs"][idx], cols["ws"][idx], ns[idx])
        for got, want in (
            (_block_payload(cols, idx, True), want_raw),
            (_block_payload(cols, idx, False), want_w),
        ):
            for g, w in zip(got, want):
                assert g.dtype == w.dtype
                np.testing.assert_array_equal(g, w)


def test_score_blocks_is_independent_of_block_order():
    """A query's blocks reach the kernel in scan order, cache order or
    shuffle order. Every block here has the same upper bound, so only
    the kernel's own block order decides in which order a doc's terms
    are summed — and the query weight is not dyadic and the stored
    weights span four decades, so their f64 sum depends on that order. Any permutation must give
    bit-identical (doc_ids, scores)."""
    from neural_cherche_spark.query.bmw import _score_blocks

    rng = np.random.default_rng(17)
    n_docs, n_terms, bs = 64, 6, 16
    docs = np.arange(n_docs, dtype=np.int64)
    parts = []
    for t in range(n_terms):
        w = (10.0 ** rng.uniform(-2, 2, n_docs)).astype(np.float32)
        w[::bs] = 500.0  # one shared block maximum: equal bounds
        enc = encode_partition_bulk(
            np.full(n_docs, t, dtype=np.int64), np.zeros(n_docs, dtype=np.int64),
            docs, w, block_size=bs,
        )
        enc["qtf"] = np.full(len(enc["n"]), 1.3)
        parts.append(enc)
    names = ("term_id", "salt", "n", "qtf", "max_w", "min_w",
             "first_doc", "last_doc", "docs", "ws")
    cols = {c: np.concatenate([np.asarray(p[c]) for p in parts]) for c in names}
    want_d, want_s = _score_blocks(cols, k=n_docs)
    assert want_d.size == n_docs
    for _ in range(5):
        p = rng.permutation(cols["n"].size)
        got_d, got_s = _score_blocks({c: a[p] for c, a in cols.items()}, k=n_docs)
        assert np.array_equal(got_d, want_d)
        assert np.array_equal(got_s.view(np.int64), want_s.view(np.int64))
