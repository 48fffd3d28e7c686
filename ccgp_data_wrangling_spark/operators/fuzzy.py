"""Fuzzy argmax join — per left value, the right value with the highest
Levenshtein ratio, exact, from one bit-parallel Arrow kernel.

The reference's conflict resolution (update_reads.py:166-181) and any
X12-class "best fuzzy match" pick, per left row, the right row
maximizing ``ratio = 100·(|a|+|b|-lev)/(|a|+|b|)``.

The right side is dimension-sized: collected once, deduplicated on the
driver and shipped inside the kernel's closure as an alphabet-index
matrix plus a length vector. The left side streams through ONE
``mapInPandas`` kernel, which runs Myers' bit-vector edit distance
(J. ACM 1999, in Hyyrö's formulation) from each distinct left value
(the pattern) to every right value at once: one word of vertical
deltas per pair and one vectorized step per right-side character. The
distance is exact, so there is no band, blocking or fallback pass to
prove safe. Patterns past 64 code points run the same recurrence on
``object`` arrays of Python ints.

The kernel emits only the pairs within one rounding step (0.001) of
the pattern's best exact ratio: every pair that may tie the best after
the 3-decimal rounding. The final pick is the oracle's own Spark
expressions: ``_score`` rounds, ``_argmax`` keeps the highest ratio,
ties going to the smallest right value.

Nulls: null right values are dropped. A null left value yields one row
with the smallest right value and a null ratio, as the all-pairs form
ordered ``ratio DESC NULLS LAST, right`` gives.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["fuzzy_argmax_join"]

#: pairs per vectorized step: (patterns in a block) × (right values)
_BLOCK_PAIRS = 1 << 15
#: ratios are rounded to 3 decimals; a pair whose exact ratio is this
#: close to the best may tie it after rounding, so the kernel keeps it
_TIE_SLACK = 1e-3 + 1e-9
_M1, _M2, _M4, _H01 = map(
    np.uint64,
    (0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F, 0x0101010101010101),
)


def _score(left_col: str, right_col: str, lev):
    tot = F.length(left_col) + F.length(right_col)
    return F.when(tot == 0, F.lit(100.0)).otherwise(
        F.round(100.0 * (tot - lev) / tot, 3)
    )


def _argmax(scored: DataFrame, left_col: str, right_col: str) -> DataFrame:
    # min_by over struct(-ratio, right): lexicographic struct ordering
    # gives max ratio then min right value, aggregated map-side
    return scored.groupBy(left_col).agg(
        F.min_by(
            F.struct(right_col, "ratio"),
            F.struct((-F.col("ratio")).alias("o1"), F.col(right_col).alias("o2")),
        ).alias("__best"),
    )


def _myers_block(
    patterns: list[str],
    alphabet: dict[str, int],
    codes: np.ndarray,
    lens: np.ndarray,
    active: np.ndarray,
    dtype,
) -> np.ndarray:
    """Levenshtein distance of every pattern to every right value:
    a ``(len(patterns), n_right)`` int array.

    ``codes[j, i]`` is the alphabet index of right value i's j-th
    character; right values are sorted longest first, so at step j
    only the first ``active[j]`` of them still have characters.
    ``dtype`` is ``np.uint64`` when every pattern fits in one word,
    else ``object`` (Python ints)."""
    b, n_right = len(patterns), codes.shape[1]
    m = [len(p) for p in patterns]
    peq = [[0] * len(alphabet) for _ in patterns]
    for r, p in enumerate(patterns):
        for i, ch in enumerate(p):
            a = alphabet.get(ch)
            if a is not None:
                peq[r][a] |= 1 << i
    peq = np.array(peq, dtype=dtype).reshape(b, len(alphabet))
    full = np.array([(1 << k) - 1 for k in m], dtype=dtype)[:, None]
    pv = np.repeat(full, n_right, 1)
    mv = np.zeros((b, n_right), dtype=dtype)
    for j, k in enumerate(active):
        eq = np.take(peq, codes[j, :k], axis=1, mode="clip")
        p, n = pv[:, :k], mv[:, :k]
        xv = eq | n
        xh = eq & p
        xh += p
        xh ^= p
        xh |= eq
        ph = xh | p
        np.invert(ph, out=ph)
        ph |= n
        mh = p & xh
        ph <<= 1
        ph |= 1
        mh <<= 1
        np.bitwise_or(xv, ph, out=p)
        np.invert(p, out=p)
        p |= mh
        np.bitwise_and(ph, xv, out=n)
    # D[m][n] = D[0][n] + the last column's vertical deltas: +1 per
    # pv bit, -1 per mv bit, within the pattern's m bits
    pv &= full
    mv &= full
    return lens + _popcount(pv) - _popcount(mv)


def _popcount(words: np.ndarray) -> np.ndarray:
    if words.dtype == object:
        return np.frompyfunc(int.bit_count, 1, 1)(words).astype(np.int64)
    # SWAR bit count of each uint64 word
    x = words - ((words >> 1) & _M1)
    x = (x & _M2) + ((x >> 2) & _M2)
    x = (x + (x >> 4)) & _M4
    return ((x * _H01) >> 56).astype(np.int64)


def _best_pairs_kernel(rvals: set[str], left_col: str, right_col: str):
    """The ``mapInPandas`` function: (left) batches in, the
    (left, right, lev) pairs that may win each left value's argmax out."""
    order = sorted(rvals, key=lambda s: (-len(s), s))
    right = np.array(order, dtype=object)
    lens = np.array([len(s) for s in order], dtype=np.int64)
    alphabet = {ch: i for i, ch in enumerate(sorted({c for s in order for c in s}))}
    width = int(lens[0])
    codes = np.zeros((width, len(order)), dtype=np.min_scalar_type(len(alphabet)))
    for i, s in enumerate(order):
        codes[: len(s), i] = [alphabet[c] for c in s]
    active = (lens[None, :] > np.arange(width)[:, None]).sum(axis=1)
    smallest = min(order)
    block = max(1, _BLOCK_PAIRS // len(order))

    def pairs(patterns: list[str], dtype) -> pd.DataFrame:
        lev = _myers_block(patterns, alphabet, codes, lens, active, dtype)
        tot = np.array([len(p) for p in patterns], dtype=np.int64)[:, None] + lens
        with np.errstate(invalid="ignore", divide="ignore"):
            ratio = np.where(tot == 0, 100.0, 100.0 * (tot - lev) / tot)
        r, c = np.nonzero(ratio >= ratio.max(axis=1, keepdims=True) - _TIE_SLACK)
        return pd.DataFrame(
            {
                left_col: np.array(patterns, dtype=object)[r],
                right_col: right[c],
                "__lev": lev[r, c],
            }
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = pdf[left_col].drop_duplicates()
            if vals.isna().any():
                yield pd.DataFrame(
                    {left_col: [None], right_col: [smallest], "__lev": [None]}
                )
            vals = vals.dropna().tolist()
            for dtype, group in (
                (np.uint64, [v for v in vals if len(v) <= 64]),
                (object, [v for v in vals if len(v) > 64]),
            ):
                for s in range(0, len(group), block):
                    yield pairs(group[s : s + block], dtype)

    return op


def fuzzy_argmax_join(
    left: DataFrame, right: DataFrame, left_col: str, right_col: str
) -> DataFrame:
    """For each distinct ``left_col`` value, the ``right_col`` value
    with the highest Levenshtein ratio (ties → lexicographically
    smallest right value). Output: (left_col, right_col, ratio).

    ``right`` must be dimension-sized: its distinct non-null values
    are collected to the driver (the build's one Spark job) and ride
    to the executors inside the kernel. Exact for every input; see the
    module docstring."""
    rvals = {r[0] for r in right.select(right_col).collect()} - {None}
    if not rvals:
        raise ValueError("right side is empty")
    cand = left.select(left_col).mapInPandas(
        _best_pairs_kernel(rvals, left_col, right_col),
        schema=f"`{left_col}` string, `{right_col}` string, __lev int",
    )
    scored = cand.select(
        left_col, right_col, _score(left_col, right_col, F.col("__lev")).alias("ratio")
    )
    return _argmax(scored, left_col, right_col).select(
        left_col,
        F.col("__best").getField(right_col).alias(right_col),
        F.col("__best").getField("ratio").alias("ratio"),
    )
