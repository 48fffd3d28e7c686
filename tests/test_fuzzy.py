"""Tests for the bit-parallel fuzzy argmax join (operators/fuzzy.py)."""

from __future__ import annotations

import random

import pandas as pd

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators import fuzzy
from ccgp_data_wrangling_spark.operators.fuzzy import _trie_levels, fuzzy_argmax_join


def _brute(spark, left, right):
    """All-pairs Spark SQL reference: exact ratio, best first, ties to
    the smallest right value, null ratios and null right values last."""
    cross = left.crossJoin(right)
    tot = F.length("l") + F.length("r")
    ratio = F.when(tot == 0, F.lit(100.0)).otherwise(
        F.round(100.0 * (tot - F.levenshtein("l", "r")) / tot, 3)
    )
    scored = cross.select("l", "r", ratio.alias("ratio"))
    w = W.partitionBy("l").orderBy(F.desc_nulls_last("ratio"), F.asc_nulls_last("r"))
    return {
        (row.l): (row.r, row.ratio)
        for row in scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }


def _frames(spark, lvals, rvals):
    left = spark.createDataFrame([(v,) for v in lvals], "l string")
    right = spark.createDataFrame([(v,) for v in rvals], "r string")
    return left, right


def _got(left, right):
    out = fuzzy_argmax_join(left, right, "l", "r").collect()
    got = {row.l: (row.r, row.ratio) for row in out}
    assert len(got) == len(out)  # one row per distinct left value
    return got


# ASCII, 2-, 3- and 4-byte UTF-8 code points
_chars = st.sampled_from("abcxyz_-0 éß€漢𝄞😀")
_short = st.text(_chars, max_size=12)
# past one 64-bit word: the Python-int path
_long = st.text(_chars, min_size=65, max_size=300)
_value = st.one_of(_short, _short, _short, _long, st.none())


@given(
    lvals=st.lists(_value, min_size=1, max_size=20),
    rvals=st.lists(_value, min_size=1, max_size=20),
    dup=st.integers(0, 3),
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_matches_brute_force(spark, lvals, rvals, dup):
    """Exact against all pairs on empty, non-ASCII, long, null and
    duplicated values; every right side keeps one non-null value."""
    lvals = lvals + lvals[:dup]
    rvals = rvals + rvals[:dup] + ["abc"]
    left, right = _frames(spark, lvals, rvals)
    assert _got(left, right) == _brute(spark, left, right)


# right sides that share prefixes: one prefix, then 0-3 more characters
# (so values are prefixes of other values), with duplicates, '', nulls
# and values past one 64-bit word
_prefix = st.sampled_from(["", "ab", "Customer#000", "é漢" * 40])
_suffix = st.text(st.sampled_from("abc0é😀"), max_size=3)


@given(
    prefix=_prefix,
    suffixes=st.lists(_suffix, min_size=1, max_size=25),
    extra=st.lists(st.one_of(st.none(), st.just(""), _long), max_size=3),
    lvals=st.lists(st.one_of(_short, _suffix), min_size=1, max_size=8),
    dup=st.integers(0, 3),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
# a prefix chain: every level of the trie one node wide, with 70 right
# values ending at 70 depths
@example(
    prefix="ab",
    suffixes=["c" * k for k in range(70)],
    extra=[None],
    lvals=["ccc", "", "é"],
    dup=1,
)
def test_matches_brute_force_shared_prefixes(spark, prefix, suffixes, extra, lvals, dup):
    """Exact against all pairs when the right values share prefixes:
    the case where the kernel steps one trie node for many values."""
    rvals = [prefix + s for s in suffixes] + extra
    rvals = rvals + rvals[:dup]
    lvals = lvals + [prefix + s for s in lvals] + [None]
    left, right = _frames(spark, lvals, rvals)
    assert _got(left, right) == _brute(spark, left, right)


@given(st.lists(st.one_of(_short, st.builds(str.__add__, _prefix, _suffix))))
@settings(max_examples=200, deadline=None)
def test_trie_has_one_node_per_distinct_prefix(values):
    """Walking parents and codes spells every distinct non-empty prefix
    exactly once, and each value ends at the node that spells it."""
    order = sorted(set(values))
    alphabet, levels, emit = _trie_levels(order)
    assert sorted(emit.tolist()) == list(range(len(order)))
    emitted = [order[i] for i in emit]
    char = {i: c for c, i in alphabet.items()}
    spelled, nodes = [], [""]
    for depth, (parent, code, end_node) in enumerate(levels, 1):
        nodes = [nodes[p] + char[int(c)] for p, c in zip(parent, code)]
        spelled += nodes
        assert [nodes[e] for e in end_node] == [v for v in emitted if len(v) == depth]
    assert sorted(spelled) == sorted({v[:d] for v in order for d in range(1, len(v) + 1)})


def test_blocks_stay_within_block_pairs(monkeypatch):
    """A prefix chain has one-node trie levels but as many right values
    as depths: the patterns per block follow the larger of the two, so
    the distance matrix stays within ``_BLOCK_PAIRS`` words."""
    monkeypatch.setattr(fuzzy, "_BLOCK_PAIRS", 256)
    sizes, step = [], fuzzy._myers_block

    def spy(patterns, alphabet, levels, lens, dtype):
        sizes.append(len(patterns) * len(lens))
        return step(patterns, alphabet, levels, lens, dtype)

    monkeypatch.setattr(fuzzy, "_myers_block", spy)
    op = fuzzy._best_pairs_kernel({"c" * k for k in range(1, 41)}, "l", "r")
    lvals = ["c" * k + "x" for k in range(30)]
    out = pd.concat(op(iter([pd.DataFrame({"l": lvals})])))
    assert len(sizes) > 1 and max(sizes) <= 256
    # c^k + x is one substitution from c^(k+1) and one insertion from c^k
    for l, r, lev in out.itertuples(index=False):
        assert lev == 1 and len(r) in (len(l) - 1, len(l)), (l, r, lev)


def _corpus(seed, lo, hi, edits=1, gap=0, planted=16):
    """Random names of `lo`..`hi` characters; the right side adds
    near-duplicates of the first `planted` left values, `edits`
    trailing characters replaced and `gap` characters appended."""
    rng = random.Random(seed)
    alphabet = "abcxyz_-019"

    def name(n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    lvals = [name(rng.randint(lo, hi)) for _ in range(40)]
    rvals = list({name(rng.randint(lo, hi)) for _ in range(25)})
    rvals += [v[:-edits] + "Q" * edits + "x" * gap for v in lvals[:planted]]
    return lvals, rvals


@pytest.mark.parametrize("edits", [1, 4, 20])
def test_matches_brute_force_any_band(spark, edits):
    """Exact however far the planted best matches are: 1 edit away,
    4, or 20 (as far as any random candidate)."""
    left, right = _frames(spark, *_corpus(11, 3, 14, edits))
    assert _got(left, right) == _brute(spark, left, right)


@pytest.mark.parametrize("edits,gap", [(1, 1), (4, 2), (4, 30), (20, 0)])
def test_blocked_matches_brute_force(spark, edits, gap):
    """Exact when the best match differs in length: planted matches
    `gap` characters longer, from equal length to 30 longer."""
    left, right = _frames(spark, *_corpus(23, 3, 18, edits, gap))
    assert _got(left, right) == _brute(spark, left, right)


def test_auto_selects_blocking_on_variable_corpora(spark):
    """Exact on a corpus of widely varying lengths (3 to 20 characters)
    with no planted matches."""
    left, right = _frames(spark, *_corpus(7, 3, 20, planted=0))
    assert _got(left, right) == _brute(spark, left, right)


def test_planted_ratio_ties(spark):
    """Exact ties go to the smallest right value, and so do ratios that
    differ exactly but tie after the 3-decimal rounding: here 69.10828
    and 69.10755 both read 69.108, so the lower exact ratio wins on
    its smaller right value."""
    near_hi = "a" * 80 + "z" * 57
    near_lo = "a" * 125 + "b" * 135
    lvals = ["ab", "a" * 177]
    rvals = ["ad", "ac", near_hi, near_lo]
    left, right = _frames(spark, lvals, rvals)
    got = _got(left, right)
    assert got == _brute(spark, left, right)
    assert got["ab"] == ("ac", 75.0)
    assert got["a" * 177] == (near_lo, 69.108)


def test_null_right_never_wins(spark):
    left, right = _frames(spark, ["", None], ["abd", None, "abc"])
    got = _got(left, right)
    assert got == _brute(spark, left, right)
    assert got[""] == ("abc", 0.0)
    # a null left value matches nothing: the smallest right, null ratio
    assert got[None] == ("abc", None)


def test_duplicate_left_values_collapse(spark):
    left, right = _frames(spark, ["aa", "aa", "bb"], ["ab", "bb"])
    assert {k: v[0] for k, v in _got(left, right).items()} == {"aa": "ab", "bb": "bb"}


def test_empty_right_raises(spark):
    left, right = _frames(spark, ["x"], [None])
    with pytest.raises(ValueError, match="empty"):
        fuzzy_argmax_join(left, right, "l", "r")


def test_x12_plan_has_no_pair_join_and_builds_in_one_job(spark):
    """x12's build runs exactly one Spark job, the right-side collect,
    once its two tables' schemas are known (the first read of a
    pyarrow-written table in a process infers it). Its plan has no
    all-pairs join; the pairs live inside the kernel."""
    from ccgp_data_wrangling_spark.catalog import load_table
    from ccgp_data_wrangling_spark.queries.relational import x12_fuzzy_best_match
    from tests.conftest import SF_CORRECT, jobs_in_group

    sc = spark.sparkContext
    for t in ("supplier", "customer"):
        load_table(spark, SF_CORRECT, t)
    df, jobs = jobs_in_group(
        sc, "test-fuzzy-x12-build", lambda: x12_fuzzy_best_match(spark, SF_CORRECT)
    )
    assert jobs == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
