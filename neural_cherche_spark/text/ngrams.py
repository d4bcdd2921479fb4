"""Tokenization: lowercase + in-word character n-grams.

Reference semantics (neural_cherche retrieve/bm25.py:131-137 — lenlp
``CountVectorizer(normalize=True, ngram_range=(3,5), analyzer="char_wb")``,
empirically pinned in SURVEY.md §2.2 P3 against the doctest goldens at
retrieve/bm25.py:71-77):

* lowercase the text,
* split into words on whitespace — Java regex ``\\s``, i.e.
  ``[ \\t\\n\\x0B\\f\\r]``, not Unicode whitespace (no-break space,
  U+3000, … stay inside words),
* for each word ``w`` and each ``n`` in ``[n_min, n_max]`` emit every
  contiguous substring of length ``n`` (words shorter than ``n``
  contribute nothing for that ``n``; no space padding — unlike
  sklearn's ``char_wb``).

Two implementations, producing identical terms:

1. :func:`ngram_terms_column` — a pure Catalyst expression (JVM-side,
   whole-stage codegen, zero Python in the hot path). Indexes documents.
2. :func:`char_wb_ngrams` — plain Python: tokenizes queries on the
   driver (``query.bmw.serving_match_rows``) and feeds the in-memory
   reference oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java's regex \s — what the Catalyst split('\\s+') breaks words on
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def char_wb_ngrams(text: str, n_min: int = 3, n_max: int = 5) -> list[str]:
    """Pure-Python twin of :func:`ngram_terms_column` (query matching,
    oracle, unit tests)."""
    terms: list[str] = []
    for word in _JAVA_WS.split(text.lower()):
        lw = len(word)
        for n in range(n_min, n_max + 1):
            if lw >= n:
                terms.extend(word[i : i + n] for i in range(lw - n + 1))
    return terms


def ngram_sql(text_col_sql: str, n_min: int = 3, n_max: int = 5) -> str:
    """SQL expression producing ``array<string>`` of char_wb n-grams.

    Pure Catalyst — runs inside whole-stage codegen, no Python.
    """
    return f"""
    flatten(transform(
      filter(split(lower({text_col_sql}), '\\\\s+'), w -> length(w) >= {n_min}),
      w -> flatten(transform(
         sequence({n_min}, {n_max}),
         n -> CASE WHEN length(w) >= n
              THEN transform(sequence(1, length(w) - n + 1), i -> substring(w, i, n))
              ELSE array() END))))
    """


def ngram_terms_column(text_col: str, n_min: int = 3, n_max: int = 5) -> Column:
    """Catalyst Column of char_wb n-gram terms for ``text_col``."""
    return F.expr(ngram_sql(text_col, n_min, n_max))


def term_tf_pairs_column(
    text_col: str, n_min: int = 3, n_max: int = 5
) -> Column:
    """Catalyst Column of ``array<struct<term:string, tf:bigint>>`` —
    per-ROW term counts via sort + run-length over the n-gram array.

    Counting inside the row (pure Catalyst, whole-stage codegen) emits
    one element per DISTINCT term instead of one per occurrence, so a
    downstream ``explode`` produces ~n_postings rows where
    ``explode → groupBy(doc, term)`` produced ~token-count rows plus a
    (doc, term) hash aggregation + exchange. Measured on the 100k-doc
    bench corpus: tf stage 19–26 s → 9.4–10 s (noop-isolated), with
    row-identical output (anti-join parity both ways on sf0.01).

    ANSI-safe: every ``element_at`` index is guarded (empty arrays
    short-circuit through CASE; ``i = size(..) OR`` short-circuits
    before the out-of-bounds ``i + 1`` access). The sorted array and
    the run-end positions are bound as lambda variables via
    ``transform`` over a singleton array (a Catalyst "let")."""
    s = f"sort_array({ngram_sql(text_col, n_min, n_max)})"
    # bind __s and __e via transform-over-singleton (no subquery needed)
    expr = (
        f"element_at(transform(array({s}), __s -> "
        "element_at(transform(array("
        "  CASE WHEN __s IS NULL OR size(__s) = 0 THEN array() ELSE "
        "  filter(sequence(1, size(__s)), "
        "  i -> i = size(__s) OR element_at(__s, i) != element_at(__s, i + 1)) END"
        "), __e -> "
        "CASE WHEN size(__e) = 0 THEN "
        "cast(array() as array<struct<term:string, tf:bigint>>) "
        "ELSE transform(sequence(1, size(__e)), j -> struct("
        "element_at(__s, element_at(__e, j)) AS term, "
        "cast(element_at(__e, j) - IF(j = 1, 0, element_at(__e, j - 1)) "
        "AS bigint) AS tf)) END"
        "), 1)"
        "), 1)"
    )
    return F.expr(expr)


def word_tokens_column(text_col: str) -> Column:
    """Lowercased whitespace word tokens (for word-level ops:
    shingles, quality metrics, fingerprints)."""
    return F.expr(f"filter(split(lower({text_col}), '\\\\s+'), w -> w != '')")


def tokenize_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_min: int = 3,
    n_max: int = 5,
) -> DataFrame:
    """``(id_col, term)`` long-format: one row per term *occurrence*.

    The explode happens JVM-side; downstream ``groupBy(id, term)``
    gets map-side partial aggregation from Catalyst for free.
    """
    return df.select(
        F.col(id_col),
        F.explode(ngram_terms_column(text_col, n_min, n_max)).alias("term"),
    )
