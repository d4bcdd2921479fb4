"""Exact BM25 top-k without block-max pruning, and the answer check.

The oracle scores every live document for a query term by term in
float64, with the engine's from-scratch semantics (global avgdl and
N over live docs, idf from collection term frequency, per-term L2
norm; ``neural_cherche_spark.index.build.bm25_weights``). It keeps
postings only for the grams of the queries given up front, so one
tokenization pass over the corpus serves every later check, including
checks after deletions (``live`` masks).
"""

from __future__ import annotations

import collections

import numpy as np

from neural_cherche_spark.index.build import BM25Config
from neural_cherche_spark.text.ngrams import char_wb_ngrams

# Tie rule of tests/conftest.py (assert_rank_identical): scores within
# RTOL are one tie block. ATOL absorbs the float32 rounding of stored
# weights, which matters when positive and negative idf terms cancel.
RTOL = 2e-6
ATOL = 2e-6


class Oracle:
    def __init__(self, texts: list[str], queries, cfg: BM25Config = BM25Config()):
        self.cfg = cfg
        grams = {
            g for q in queries for g in char_wb_ngrams(q, cfg.n_min, cfg.n_max)
        }
        self.dl = np.zeros(len(texts), dtype=np.float64)
        ids: dict[str, list[int]] = collections.defaultdict(list)
        tfs: dict[str, list[int]] = collections.defaultdict(list)
        for d, text in enumerate(texts):
            doc_grams = char_wb_ngrams(text, cfg.n_min, cfg.n_max)
            self.dl[d] = len(doc_grams)
            for g, tf in collections.Counter(
                g for g in doc_grams if g in grams
            ).items():
                ids[g].append(d)
                tfs[g].append(tf)
        self.postings = {
            g: (np.asarray(ids[g], dtype=np.int64), np.asarray(tfs[g], dtype=np.float64))
            for g in ids
        }

    def scores(self, query: str, live: np.ndarray | None = None) -> np.ndarray:
        """Exact score of every doc id (deleted docs score 0)."""
        cfg = self.cfg
        live = np.ones(self.dl.size, dtype=bool) if live is None else live
        counted = live & (self.dl > 0)
        n_docs = int(counted.sum())
        avgdl = float(self.dl[counted].mean()) if n_docs else 0.0
        out = np.zeros(self.dl.size, dtype=np.float64)
        qtf = collections.Counter(char_wb_ngrams(query, cfg.n_min, cfg.n_max))
        for g, q in qtf.items():
            if g not in self.postings:
                continue
            ids, tf = self.postings[g]
            keep = live[ids]
            ids, tf = ids[keep], tf[keep]
            if ids.size == 0:
                continue
            tf_total = tf.sum()
            w1 = tf * (cfg.k1 + 1.0) / (
                tf + cfg.k1 * (1.0 - cfg.b + cfg.b * self.dl[ids] / avgdl)
            ) + cfg.epsilon
            idf = np.log((n_docs - tf_total + 0.5) / (tf_total + 0.5) + 1.0)
            w2 = w1 * idf
            norm = np.sqrt(np.sum(w2 * w2))
            if norm > 0:
                out[ids] += q * w2 / norm
        return out


def check_topk(got: list[tuple[int, float]], scores: np.ndarray, k: int) -> str | None:
    """``None`` when ``got`` (doc id, score pairs, best first) is a
    correct top-``k`` for exact ``scores``, else the reason it is not.

    Correct means: the length is what the positive-score filter allows;
    no doc repeats; the score at each rank equals the exact rank-th best
    score; and each returned doc really has that score. Docs tied within
    the tolerance are interchangeable, also where ``k`` cuts a tie block.
    """
    n_strict = int(np.sum(scores > ATOL))
    n_loose = int(np.sum(scores > -ATOL))
    if not min(k, n_strict) <= len(got) <= min(k, n_loose):
        return f"{len(got)} results, expected {min(k, n_strict)}"
    ids = [d for d, _ in got]
    if len(set(ids)) != len(ids):
        return f"repeated doc in {ids}"
    best = np.sort(scores)[::-1]
    for rank, (d, s) in enumerate(got):
        e = best[rank]
        tol = RTOL * abs(e) + ATOL
        if abs(s - e) > tol:
            return f"rank {rank + 1}: score {s!r}, expected {e!r}"
        if not 0 <= d < scores.size or abs(scores[d] - s) > tol:
            return f"rank {rank + 1}: doc {d} scored {s!r}, exact score differs"
    return None
