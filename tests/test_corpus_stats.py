"""Corpus-quality operators: n-gram repetition metrics, bigram-LM
cross entropy, TF-IDF ranking — hand-computed expectations on tiny
corpora.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.corpus_stats import (
    bigram_cross_entropy,
    corpus_tokens,
    repetition_stats,
    text_grams,
    tfidf_top_terms,
    word_ngram_counts,
)
from ccgp_data_wrangling_spark.operators.dedup import word_shingles


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngram_counts_bigrams(spark):
    df = _docs(spark, [(1, "a b a b c")])
    got = {
        (r.doc_id, r.gram): r.cnt
        for r in word_ngram_counts(df, 2).collect()
    }
    assert got == {(1, "a b"): 2, (1, "b a"): 1, (1, "b c"): 1}


def test_repetition_stats_spam_flagged(spark):
    # "x y" repeated 5 times: top bigram "x y" count 5, len 3;
    # n_chars = 19; top_frac = 15/19 > 0.2 → dropped
    spam = "x y x y x y x y x y"
    # all-distinct bigrams, long enough that no single bigram covers
    # 20% of the characters
    clean = " ".join(f"word{i}" for i in range(12))
    df = _docs(spark, [(1, spam), (2, clean)])
    out = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    assert out[1].top_gram == "x y"
    assert out[1].top_cnt == 5
    assert abs(out[1].top_frac - round(15 / 19, 4)) < 1e-9
    assert not out[1].keep
    assert out[2].top_cnt == 1
    assert out[2].keep


def test_repetition_stats_tie_breaks_smallest_gram(spark):
    # "b c" and "a b" both occur once... craft counts: "a b a b c d c d"
    # → "a b":2, "c d":2 tie on count → smallest gram "a b" wins
    df = _docs(spark, [(1, "a b a b c d c d")])
    row = repetition_stats(df, n=2).collect()[0]
    assert row.top_gram == "a b"


def test_bigram_cross_entropy_uniform_corpus(spark):
    # corpus = one doc "a b a b": bigrams ab(2), ba(1); ctx a:2 b:1;
    # V=2, k=0.5 → p(ab)=(2+.5)/(2+1)=5/6, p(ba)=(1+.5)/(1+1)=3/4
    df = _docs(spark, [(1, "a b a b")])
    row = bigram_cross_entropy(df).collect()[0]
    lp_ab = round(math.log2((2 + 0.5) / (2 + 0.5 * 2)), 6)
    lp_ba = round(math.log2((1 + 0.5) / (1 + 0.5 * 2)), 6)
    expected = round(-(2 * lp_ab + 1 * lp_ba) / 3, 4)
    assert row.n_bigrams == 3
    assert abs(row.bits_per_token - expected) < 1e-9


def test_bigram_cross_entropy_outlier_scores_higher(spark):
    # doc 3 uses bigrams seen nowhere else → higher bits/token than
    # docs drawn from the repeated majority pattern
    rows = [(i, "spark reads parquet fast") for i in range(1, 6)]
    rows.append((6, "zebra quantum volcano whisper"))
    df = _docs(spark, rows)
    out = {r.doc_id: r.bits_per_token for r in bigram_cross_entropy(df).collect()}
    assert out[6] > out[1]


def test_tfidf_top_terms_rare_term_wins(spark):
    # equal tf inside doc 1: the corpus-rare term out-scores the
    # everywhere-term on idf alone
    df = _docs(
        spark,
        [
            (1, "common rare"),
            (2, "common common common"),
            (3, "common filler words"),
        ],
    )
    out = {r.doc_id: r.top_terms for r in tfidf_top_terms(df, top_k=1).collect()}
    assert out[1] == "1:rare"
    assert out[2] == "1:common"


def test_whitespace_variants_tokenize_identically(spark):
    # Tabs, newlines, repeated spaces, and leading/trailing whitespace
    # must produce the same n-grams as the single-spaced form — the
    # shared corpus_tokens tokenizer guarantees every curation stage
    # (and the DuckDB oracles' REGEXP_SPLIT_TO_ARRAY(TRIM(..), '\s+'))
    # sees the same token stream.
    messy = "  a\tb\na  b\t\tc "
    clean = "a b a b c"
    df = _docs(spark, [(1, messy), (2, clean)])
    got = {
        (r.doc_id, r.gram): r.cnt
        for r in word_ngram_counts(df, 2).collect()
    }
    for doc in (1, 2):
        assert got[(doc, "a b")] == 2
        assert got[(doc, "b a")] == 1
        assert got[(doc, "b c")] == 1

    # repetition_stats keeps the messy doc in its join (the single-space
    # split used to yield zero bigrams and silently drop it)
    rep = {r.doc_id for r in repetition_stats(df, n=2).collect()}
    assert rep == {1, 2}


def _fold_grams(text_col: str, n: int, partial: bool):
    """Reference gram builder: the ``zip_with`` fold over n shifted
    slices of the corpus tokens that ``text_grams`` replaced.
    ``concat_ws`` skips the nulls zip_with pads short slices with, so
    with ``partial`` a text shorter than n tokens yields one partial
    gram."""
    tokens = corpus_tokens(text_col)
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(1 if partial else 0))
    out = F.slice(tokens, 1, m)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(tokens, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


_GRAM_NS = (1, 2, 3, 5, 8)
# Java's \s (and so corpus_tokens) is [ \t\n\x0B\f\r] and Spark's trim
# strips only ' '; the other characters here are whitespace to Python
# but ordinary token characters to both builders.
_GRAM_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.text(
        alphabet=st.sampled_from(
            list(" \t\n\x0b\x0c\r") + ["\xa0", "\x1c", "\x85", "\u2003", "\u3000"]
            + list("abc")
        ),
        max_size=40,
    ),
)


@given(st.lists(_GRAM_TEXT, min_size=1, max_size=12))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_text_grams_matches_zip_with_fold(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    cols = [
        c
        for n in _GRAM_NS
        for partial in (False, True)
        for c in (
            text_grams("text", n, partial=partial).alias(f"new_{n}_{partial}"),
            _fold_grams("text", n, partial).alias(f"old_{n}_{partial}"),
        )
    ]
    for row in df.select(*cols).collect():
        for n in _GRAM_NS:
            for partial in (False, True):
                assert row[f"new_{n}_{partial}"] == row[f"old_{n}_{partial}"], (n, partial)


def test_text_grams_edge_tokens(spark):
    # trim strips only ' ', so a tab/newline at an edge is an empty token
    df = spark.createDataFrame([("\ta  b\n",)], "text string")
    row = df.select(
        corpus_tokens("text").alias("t"),
        text_grams("text", 1).alias("g1"),
        text_grams("text", 2).alias("g2"),
        text_grams("text", 5).alias("g5"),
        text_grams("text", 5, partial=True).alias("p5"),
    ).first()
    assert row.t == row.g1 == ["", "a", "b", ""]
    assert row.g2 == [" a", "a b", "b "]
    assert row.g5 == []
    assert row.p5 == [" a b "]


@pytest.mark.parametrize("n", [0, -1])
def test_gram_width_below_one_raises(spark, n):
    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="n-gram width"):
        text_grams("text", n)
    with pytest.raises(ValueError, match="n-gram width"):
        word_ngram_counts(df, n)
    with pytest.raises(ValueError, match="n-gram width"):
        word_shingles(F.col("text"), n)
