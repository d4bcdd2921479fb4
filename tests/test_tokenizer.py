"""Tokenizer parity: Python twin vs Catalyst expression.

The tokenizer is the byte-identical hinge of the whole engine
(SURVEY §7.2): documents are tokenized by the Catalyst expression,
queries by the Python twin, so the two must agree exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_cherche_spark.text.ngrams import (
    char_wb_ngrams,
    ngram_terms_column,
    word_tokens_column,
)

CASES = [
    "Food",
    "Sports",
    "Cinema",
    "Cinema food sports",
    "cinema",
    "",
    "ab",            # shorter than n_min -> no grams
    "abc",           # exactly n_min
    "  leading  and   trailing  spaces  ",
    "Tabs\tand\nnewlines mixed",
    "punct-uation! and, symbols?",
    "ALLCAPS MiXeD case",
    "café naïve über",   # accents kept as-is (lowercase only)
    "x" * 40,
    "a bb ccc dddd eeeee ffffff",
    # words split on Java's \s only: Unicode whitespace outside
    # [ \t\n\x0b\f\r] stays inside the word
    "foo\xa0barbaz",     # no-break space
    "foo\u2003bar baz",  # em space
    "foo\u3000barbaz",   # ideographic space
    "foo\x1cbar",        # file separator
    "foo\x85bar",        # next line
    "foo\x0bbar",        # vertical tab: whitespace in both
    # lowercasing agrees on special casings
    "ΣΑΣ σας",
    "İstanbul",
    "ǅemal",
    "ﬃx straße",
]


def test_python_tokenizer_goldens():
    # empirically pinned against retrieve/bm25.py:71-77 goldens
    assert char_wb_ngrams("Food") == ["foo", "ood", "food"]
    assert len(char_wb_ngrams("Sports")) == 9
    assert len(char_wb_ngrams("Cinema")) == 9
    assert char_wb_ngrams("ab") == []
    assert sorted(char_wb_ngrams("Cinema food sports")) == sorted(
        char_wb_ngrams("Cinema") + char_wb_ngrams("food") + char_wb_ngrams("sports")
    )


@pytest.mark.parametrize("nrange", [(3, 5), (2, 4), (3, 3)])
def test_sql_expr_matches_python(spark, nrange):
    n_min, n_max = nrange
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "id int, text string"
    )
    got = {
        r["id"]: list(r["terms"])
        for r in df.select(
            "id", ngram_terms_column("text", n_min, n_max).alias("terms")
        ).collect()
    }
    for i, t in enumerate(CASES):
        assert got[i] == char_wb_ngrams(t, n_min, n_max), f"case {i!r}: {t!r}"


def test_word_tokens(spark):
    df = spark.createDataFrame([(0, "  The  quick\tBrown fox ")], "id int, text string")
    [r] = df.select(word_tokens_column("text").alias("w")).collect()
    assert list(r["w"]) == ["the", "quick", "brown", "fox"]
