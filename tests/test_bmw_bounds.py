"""Unit tests for the block-max pruning bound and salt plumbing.

The round-1 bound summed ub over ALL remaining blocks; the correct
unseen-doc bound is Σ over distinct remaining (term,salt) runs of the
max remaining block ub (a doc occurs at most once per run). Brute
force here is the spec; the vectorized `_run_suffix_bounds` must match
it exactly, and must never exceed the loose sum (tightness). The
one-argsort numpy kernel must also be bit-identical to the earlier
lexsort + ``np.add.at`` + pandas ``groupby().cummin()`` formulas, kept
below as test-local references.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from neural_cherche_spark.index.codec import doc_salt
from neural_cherche_spark.query.bmw import (
    _run_suffix_bounds,
    _run_suffix_bounds_signed,
)


def _brute(run_key: np.ndarray, ub: np.ndarray) -> np.ndarray:
    n = run_key.size
    out = np.zeros(n + 1)
    for i in range(n):
        best: dict[int, float] = {}
        for j in range(i, n):
            best[run_key[j]] = max(best.get(run_key[j], 0.0), ub[j])
        out[i] = sum(best.values())
    return out


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_suffix_bounds_match_bruteforce(seed):
    rng = np.random.RandomState(seed)
    n = rng.randint(1, 60)
    run_key = rng.randint(0, 8, size=n).astype(np.int64)
    ub = rng.rand(n)
    # processing order is descending ub (as in _bmw_group_fn)
    order = np.argsort(-ub, kind="mergesort")
    rk, u = run_key[order], ub[order]
    got = _run_suffix_bounds(rk, u)
    want = _brute(rk, u)
    np.testing.assert_allclose(got, want, rtol=1e-12)
    # tight: never exceeds the loose all-blocks sum; equal only when
    # every remaining block is its run's max
    loose = np.concatenate([np.cumsum(u[::-1])[::-1], [0.0]])
    assert (got <= loose + 1e-12).all()


def test_suffix_bounds_tighter_when_runs_have_many_blocks():
    # one run, 10 blocks: unseen-doc bound is the single max, not the sum
    ub = np.linspace(1.0, 0.1, 10)
    rk = np.zeros(10, dtype=np.int64)
    got = _run_suffix_bounds(rk, ub)
    assert got[0] == pytest.approx(1.0)
    assert got[5] == pytest.approx(ub[5])


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


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_signed_suffix_bounds_match_bruteforce(seed):
    rng = np.random.RandomState(seed)
    n = rng.randint(1, 50)
    run_key = rng.randint(0, 6, size=n).astype(np.int64)
    raw = rng.randn(n)  # mixed-sign block bounds
    ub_pos = np.maximum(raw, 0.0)
    neg = np.minimum(rng.randn(n), 0.0)
    order = np.argsort(-ub_pos, kind="mergesort")
    rk, u, v = run_key[order], ub_pos[order], neg[order]
    gp, gn = _run_suffix_bounds_signed(rk, u, v)
    wp, wn = _brute_signed(rk, u, v)
    np.testing.assert_allclose(gp, wp, rtol=1e-12, atol=1e-9)
    np.testing.assert_allclose(gn, wn, rtol=1e-12, atol=1e-9)
    # signed pos bound must agree with the vectorized all-positive one
    np.testing.assert_allclose(
        gp, _run_suffix_bounds(rk, u), rtol=1e-12, atol=1e-9
    )


def _ref_suffix_bounds(run_key, ub):
    """The earlier positive-side formula: lexsort + two np.add.at."""
    n = run_key.size
    bound = np.zeros(n + 1, dtype=np.float64)
    if n == 0:
        return bound
    by_run = np.lexsort((np.arange(n), run_key))
    prev = np.full(n, -1, dtype=np.int64)
    same = run_key[by_run][1:] == run_key[by_run][:-1]
    prev[by_run[1:][same]] = by_run[:-1][same]
    diff = np.zeros(n + 1, dtype=np.float64)
    np.add.at(diff, prev + 1, ub)
    np.add.at(diff, np.arange(1, n + 1), -ub)
    np.cumsum(diff[:-1], out=bound[:-1])
    return bound


def _ref_suffix_bounds_signed(run_key, ub_pos, neg):
    """The earlier signed formula: two more lexsorts and a pandas
    groupwise reversed cummin."""
    n = run_key.size
    pos_bound = _ref_suffix_bounds(run_key, ub_pos)
    neg_bound = np.zeros(n + 1, dtype=np.float64)
    if n == 0:
        return pos_bound, neg_bound
    idx = np.arange(n)
    by_desc = np.lexsort((-idx, run_key))
    sufmin = np.empty(n, dtype=np.float64)
    sufmin[by_desc] = (
        pd.Series(neg[by_desc])
        .groupby(pd.Series(run_key[by_desc]), sort=False)
        .cummin()
        .to_numpy()
    )
    by_asc = np.lexsort((idx, run_key))
    nxt = np.full(n, -1, dtype=np.int64)
    same = run_key[by_asc][1:] == run_key[by_asc][:-1]
    nxt[by_asc[:-1][same]] = by_asc[1:][same]
    m_here = np.minimum(sufmin, 0.0)
    m_next = np.where(
        nxt >= 0, np.minimum(sufmin[np.maximum(nxt, 0)], 0.0), 0.0
    )
    neg_bound[:-1] = np.cumsum((m_here - m_next)[::-1])[::-1]
    return pos_bound, neg_bound


def _sweep_case(rng, case: int):
    """One random block order: n from 0 to ~5000; runs all in one, all
    distinct, or mixed; neg tied (rounded), all zero, or continuous."""
    n = int(rng.integers(1, 5000)) if case % 10 == 0 else int(rng.integers(1, 300))
    if case % 97 == 0:
        n = 0
    shape = case % 4
    if shape == 0:
        run_key = np.zeros(n, dtype=np.int64)
    elif shape == 1:
        run_key = rng.permutation(n).astype(np.int64)
    else:
        n_runs = max(1, n // int(rng.integers(1, 40)))
        run_key = (rng.integers(0, n_runs, size=n) << 20) | rng.integers(0, 4, size=n)
    ub_pos = np.maximum(rng.standard_normal(n), 0.0)
    kind = case % 3
    if kind == 0:
        neg = np.minimum(np.round(rng.standard_normal(n), 1), 0.0)
    elif kind == 1 and case % 2:
        neg = np.zeros(n)
    else:
        neg = np.minimum(rng.standard_normal(n), 0.0)
    # processing order: descending ub, ties in arrival order
    order = np.argsort(-ub_pos, kind="stable")
    return run_key[order], ub_pos[order], neg[order]


def test_suffix_bounds_bit_identical_to_reference_formulas():
    rng = np.random.default_rng(2025)
    for case in range(600):
        rk, u, v = _sweep_case(rng, case)
        gp, gn = _run_suffix_bounds_signed(rk, u, v)
        wp, wn = _ref_suffix_bounds_signed(rk, u, v)
        assert np.array_equal(gp, wp) and np.array_equal(gn, wn), case
        assert np.array_equal(_run_suffix_bounds(rk, u), _ref_suffix_bounds(rk, u))
    # the empty block order, signed
    e = np.empty(0, dtype=np.int64)
    gp, gn = _run_suffix_bounds_signed(e, np.empty(0), np.empty(0))
    assert gp.tolist() == gn.tolist() == [0.0]


def test_suffix_bounds_empty():
    got = _run_suffix_bounds(np.empty(0, dtype=np.int64), np.empty(0))
    assert got.shape == (1,) and got[0] == 0.0


def test_doc_salt_partitions_completely():
    d = np.arange(10_000, dtype=np.int64)
    for s in (1, 2, 8, 64):
        g = doc_salt(d, s)
        assert g.min() >= 0 and g.max() < s
        # near-uniform on dense ids
        counts = np.bincount(g, minlength=s)
        assert counts.min() > 0.5 * counts.mean()
    # power-of-two consistency: residue mod s is derivable from the
    # residue mod S for s | S — the property the subgroup split relies on
    S, s = 64, 8
    np.testing.assert_array_equal(doc_salt(d, S) % s, doc_salt(d, s))
