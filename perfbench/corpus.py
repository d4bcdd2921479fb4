"""Seeded inputs: a synth_webtext-style corpus and query streams.

The corpus follows ``neural_cherche_spark.data.synth.synth_webtext``'s
distribution (30-200 words per doc; word index ``floor(u**3 * 20000)``,
indexes below the head-word count map to the head words, the rest to
``term<i>``), generated with numpy instead of a Spark job so that set-up
stays short. The same seed always gives the same texts and queries.
"""

from __future__ import annotations

import collections

import numpy as np

from neural_cherche_spark.data.synth import _HEAD_WORDS

VOCAB_SIZE = 20_000
ZIPF_ALPHA = 3.0


def synth_texts(n_docs: int, seed: int) -> list[str]:
    """``n_docs`` web-text-like documents; doc ``i`` is ``texts[i]``."""
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(30, 201, size=n_docs)
    vi = np.floor(rng.random(int(n_words.sum())) ** ZIPF_ALPHA * VOCAB_SIZE)
    vocab = np.array(
        list(_HEAD_WORDS)
        + [f"term{i}" for i in range(len(_HEAD_WORDS), VOCAB_SIZE)]
    )
    words = vocab[vi.astype(np.int64)]
    ends = np.cumsum(n_words)
    return [" ".join(words[e - n : e]) for n, e in zip(n_words, ends)]


class QueryMaker:
    """3-word queries drawn from a corpus's own vocabulary: one head
    word (among the 50 most frequent) and two tail words (seen at most
    three times), in random order. Every query shares the head grams
    (``ter``, ``erm``, ``term``), as real webtext queries share
    stopword grams."""

    def __init__(self, texts: list[str], seed: int, stream: int) -> None:
        counts = collections.Counter(w for t in texts for w in t.split())
        ranked = [w for w, _ in counts.most_common()]
        self.head = ranked[:50]
        self.tail = sorted(w for w, c in counts.items() if c <= 3)
        self.rng = np.random.default_rng([seed, stream])

    def distinct(self, n: int, exclude: set[str] = frozenset()) -> list[str]:
        """``n`` distinct query texts, none of them in ``exclude``."""
        seen = set(exclude)
        out: list[str] = []
        while len(out) < n:
            words = [
                self.head[self.rng.integers(len(self.head))],
                self.tail[self.rng.integers(len(self.tail))],
                self.tail[self.rng.integers(len(self.tail))],
            ]
            q = " ".join(self.rng.permutation(words))
            if q not in seen:
                seen.add(q)
                out.append(q)
        return out


def zipf_stream(pool: list[str], n: int, seed: int, s: float = 1.2) -> list[str]:
    """``n`` requests drawn from ``pool`` with P(rank r) ∝ r^-s."""
    p = 1.0 / np.arange(1, len(pool) + 1) ** s
    rng = np.random.default_rng([seed, 99])
    return [pool[i] for i in rng.choice(len(pool), size=n, p=p / p.sum())]


def repeat_share(requests: list[str], start: int = 0) -> float:
    """Share of ``requests[start:]`` whose text occurred earlier in the
    stream."""
    seen = set(requests[:start])
    repeats = 0
    for q in requests[start:]:
        repeats += q in seen
        seen.add(q)
    return repeats / (len(requests) - start) if len(requests) > start else 0.0
