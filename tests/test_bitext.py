"""Bitext margin-mining tests (operators/bitext.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.bitext import margin_mine


def _unit(vec):
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec]


def _mk_sides(spark):
    """3 source vectors; target = translations of 0 and 1 (slightly
    perturbed), plus a hub vector moderately close to everything."""
    import random

    rng = random.Random(7)
    base = [
        _unit([rng.gauss(0, 1) for _ in range(16)]) for _ in range(3)
    ]
    a = spark.createDataFrame(
        [(i, base[i]) for i in range(3)], "id long, vec array<double>"
    )
    t0 = _unit([x + 0.02 for x in base[0]])
    t1 = _unit([x + 0.02 for x in base[1]])
    hub = _unit([sum(col) for col in zip(*base)])  # centroid-ish
    b = spark.createDataFrame(
        [(100, t0), (101, t1), (102, hub)], "id long, vec array<double>"
    )
    return a, b


def test_planted_translations_mined(spark):
    a, b = _mk_sides(spark)
    out = {
        (r["a_id"], r["b_id"])
        for r in margin_mine(a, b, "id", "vec", k=2, tau=1.4).collect()
    }
    # sources 0/1 pair with their planted translations; the hub (102)
    # pairs mutually with source 2 but its margin (≈1.35, high
    # neighborhood mean) falls below the 1.4 threshold
    assert out == {(0, 100), (1, 101)}


def test_candidate_restriction(spark):
    """With candidates excluding the planted pair, it cannot be mined."""
    a, b = _mk_sides(spark)
    cands = spark.createDataFrame(
        [(0, 101), (0, 102), (1, 100), (1, 102), (2, 100), (2, 101)],
        "a_id long, b_id long",
    )
    out = {
        (r["a_id"], r["b_id"])
        for r in margin_mine(
            a, b, "id", "vec", k=2, tau=0.0, candidates=cands
        ).collect()
    }
    assert (0, 100) not in out and (1, 101) not in out


def test_layout_independent(spark):
    a, b = _mk_sides(spark)
    r1 = sorted(
        map(tuple, margin_mine(a.repartition(1), b, "id", "vec", k=2, tau=1.0).collect())
    )
    r7 = sorted(
        map(tuple, margin_mine(a.repartition(7), b.repartition(5), "id", "vec", k=2, tau=1.0).collect())
    )
    assert r1 == r7


def test_degenerate_vectors_never_fail_or_pair(spark):
    """An all-zero vector (null cosine) and a pair whose neighbourhood
    means cancel (zero margin denominator) used to fail the job under
    ANSI mode; now they yield no pair and leave the others alone."""
    a, b = _mk_sides(spark)
    zero = [0.0] * 16
    a = a.unionByName(spark.createDataFrame([(3, zero)], a.schema))
    b = b.unionByName(spark.createDataFrame([(103, zero)], b.schema))
    out = {
        (r["a_id"], r["b_id"])
        for r in margin_mine(a, b, "id", "vec", k=2, tau=1.4).collect()
    }
    assert out == {(0, 100), (1, 101)}

    ortho_a = spark.createDataFrame([(1, [1.0, 0.0])], "id long, vec array<double>")
    ortho_b = spark.createDataFrame([(10, [0.0, 1.0])], "id long, vec array<double>")
    assert margin_mine(ortho_a, ortho_b, "id", "vec", tau=0.0).collect() == []
