"""Harrell-Davis percentiles of the benchmark's latency samples.

    python3 -m pytest perfbench/unittests -q
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from quantile import beta_cdf, harrell_davis  # noqa: E402


def test_beta_cdf_matches_closed_forms():
    # I_x(2, 3) = 1 - (1-x)^4 - 4x(1-x)^3; I_x(a, 1) = x^a; I_x(1, b) = 1 - (1-x)^b
    for x in (0.05, 0.3, 0.5, 0.9):
        assert beta_cdf(x, 2, 3) == pytest.approx(1 - (1 - x) ** 4 - 4 * x * (1 - x) ** 3)
        assert beta_cdf(x, 6.3, 1) == pytest.approx(x ** 6.3)
        assert beta_cdf(x, 1, 0.7) == pytest.approx(1 - (1 - x) ** 0.7)
    assert beta_cdf(0.5, 3.5, 3.5) == pytest.approx(0.5)
    assert beta_cdf(0.0, 2, 2) == 0.0 and beta_cdf(1.0, 2, 2) == 1.0


def test_weights_sum_to_one_and_median_is_symmetric():
    xs = [4.0, 1.0, 3.0, 2.0, 5.0, 9.0]
    assert harrell_davis([7.0] * 6, 0.9) == pytest.approx(7.0)
    assert harrell_davis([1.0, 2.0, 3.0], 0.5) == pytest.approx(2.0)
    # mirrored samples give mirrored quantiles
    assert harrell_davis(xs, 0.9) == pytest.approx(-harrell_davis([-x for x in xs], 0.1))


def test_two_samples():
    # n = 2: the median is the mean; p90 leans to the larger value
    assert harrell_davis([5.0, 1.0], 0.5) == pytest.approx(3.0)
    w = beta_cdf(0.5, 0.9 * 3, 0.1 * 3)  # weight of the smaller value
    assert harrell_davis([1.0, 5.0], 0.9) == pytest.approx(w * 1.0 + (1 - w) * 5.0)
    assert 4.0 < harrell_davis([1.0, 5.0], 0.9) < 5.0
    assert not math.isnan(harrell_davis([1.0, 5.0], 0.9))
