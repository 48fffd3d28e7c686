"""Fuzzy argmax join — per left value, the right value with the highest
Levenshtein ratio, exact, from one bit-parallel Arrow kernel.

The reference's conflict resolution (update_reads.py:166-181) and any
X12-class "best fuzzy match" pick, per left row, the right row
maximizing ``ratio = 100·(|a|+|b|-lev)/(|a|+|b|)``.

The right side is dimension-sized: collected once, deduplicated on
the driver and shipped inside the kernel's closure as the levels of
its prefix trie (``_trie_levels``): per depth, each node's parent and
character, and the values that end there. The left side streams
through ONE ``mapInPandas`` kernel, which runs Myers' bit-vector edit
distance (J. ACM 1999, in Hyyrö's formulation) from each distinct left
value (the pattern) to every right value at once: one word of vertical
deltas per (trie node, pattern) and one vectorized step per trie
level. A prefix that many right values share
is stepped once, so the work follows the trie's node count, not the
right side's character count: 6,683 nodes against 108,000 characters
for 6,000 ``Customer#000…`` names (on names that share no prefix the
two counts are close). A value's distance is read at the node where it
ends. The distance is exact, so there is no band, blocking or
fallback pass to prove safe. Patterns past 64 code points run the same
recurrence on ``object`` arrays of Python ints.

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

#: words per array in a block: (patterns in a block) × (widest trie
#: level or right values, whichever is more)
_BLOCK_PAIRS = 1 << 15
#: ratios are rounded to 3 decimals; a pair whose exact ratio is this
#: close to the best may tie it after rounding, so the kernel keeps it
_TIE_SLACK = 1e-3 + 1e-9
_M1, _M2, _M4, _H01 = map(
    np.uint64,
    (0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F, 0x0101010101010101),
)


def _score(left_col: str, right_col: str, lev: str) -> str:
    # SQL text, not Column calls: one parse instead of a py4j call per
    # operator. 100.0D: a DOUBLE literal (plain 100.0 is a DECIMAL)
    tot = f"(length(`{left_col}`) + length(`{right_col}`))"
    return (
        f"CASE WHEN {tot} = 0 THEN 100.0D "
        f"ELSE round(100.0D * ({tot} - {lev}) / {tot}, 3) END"
    )


def _argmax(scored: DataFrame, left_col: str, right_col: str) -> DataFrame:
    # min_by over struct(-ratio, right): lexicographic struct ordering
    # gives max ratio then min right value, aggregated map-side
    best = (
        f"min_by(named_struct('{right_col}', `{right_col}`, 'ratio', ratio), "
        f"named_struct('o1', -ratio, 'o2', `{right_col}`))"
    )
    return scored.groupBy(left_col).agg(F.expr(best).alias("__best"))


def _trie_levels(order: list[str]) -> tuple[dict[str, int], list[tuple], np.ndarray]:
    """The prefix trie of ``order`` (sorted, distinct strings), one
    level per depth d = 1..max length.

    Level d is ``(parent, code, end_node)``: one node per distinct
    prefix of length d; node k's parent is row ``parent[k]`` of level
    d-1 (of the one-row root for d = 1) and ``code[k]`` is the alphabet
    index of its last character. ``end_node`` lists the nodes whose
    prefix is a value of ``order``, in the order of ``emit``: the
    indices into ``order`` of the values in the order the kernel emits
    their distances (``''`` first, then by length).

    Nodes are numbered in sorted order: node k of level d is the k-th
    distinct prefix of length d."""
    lens = np.array([len(s) for s in order], dtype=np.int64)
    width = int(lens.max(initial=0))
    if width == 0:
        return {}, [], np.arange(len(order))
    # code points, one zero-padded row per value
    cp = np.array(order, dtype=f"<U{width}").view(np.uint32).reshape(-1, width)
    inside = np.arange(width) < lens[:, None]
    chars, idx = np.unique(cp[inside], return_inverse=True)
    codes = np.zeros(cp.shape, dtype=np.min_scalar_type(len(chars)))
    codes[inside] = idx
    # sorted, so value i shares its first d characters with an earlier
    # value iff it shares them with value i-1: its prefix of length d
    # is a new node exactly when its common prefix with value i-1 is
    # shorter than d
    lcp = np.zeros(len(order), dtype=np.int64)
    if len(order) > 1:
        diff = cp[1:] != cp[:-1]
        first = np.where(diff.any(axis=1), diff.argmax(axis=1), width)
        lcp[1:] = np.minimum(first, np.minimum(lens[1:], lens[:-1]))
    levels, emit = [], [np.flatnonzero(lens == 0)]
    node = np.zeros(len(order), dtype=np.int64)  # each value's node at d-1
    for d in range(1, width + 1):
        new = (lens >= d) & (lcp < d)
        rep = np.flatnonzero(new)  # the first value through each node
        parent = node[rep]
        node = np.cumsum(new) - 1
        ends = np.flatnonzero(lens == d)
        levels.append((parent, codes[rep, d - 1], node[ends]))
        emit.append(ends)
    return {chr(c): i for i, c in enumerate(chars)}, levels, np.concatenate(emit)


def _myers_block(
    patterns: list[str],
    alphabet: dict[str, int],
    levels: list[tuple],
    lens: np.ndarray,
    dtype,
) -> np.ndarray:
    """Levenshtein distance of every right value to every pattern: a
    ``(len(lens), len(patterns))`` int array. The right values are
    ``_trie_levels``' values in its ``emit`` order; ``lens`` holds
    their lengths, which that order sorts ascending.

    One Myers/Hyyrö step per trie node, starting from its parent's
    ``(pv, mv)`` words: a prefix shared by many right values is stepped
    once. The state is node-major, ``(nodes, patterns)``, so fetching
    the parents' state is a row take. ``dtype`` is ``np.uint64`` when
    every pattern fits in one word, else ``object`` (Python ints)."""
    b = len(patterns)
    m = [len(p) for p in patterns]
    peq = [[0] * b for _ in range(len(alphabet))]
    for r, p in enumerate(patterns):
        for i, ch in enumerate(p):
            a = alphabet.get(ch)
            if a is not None:
                peq[a][r] |= 1 << i
    peq = np.array(peq, dtype=dtype).reshape(len(alphabet), b)
    full = np.array([(1 << k) - 1 for k in m], dtype=dtype)
    # every step writes into these: per-level temporaries would be
    # allocated and faulted in afresh at every level
    widest = max((len(code) for _, code, _ in levels), default=1)
    pv, mv, pv2, mv2 = np.empty((4, widest, b), dtype=dtype)
    scratch = np.empty((5, widest, b), dtype=dtype)
    # root state, D[i][0] = i: all +1 vertical deltas. It is also the
    # end state of the empty right value, emitted first
    pv[0], mv[0] = full, 0
    end_pv = np.repeat(pv[:1], len(lens), 0)
    end_mv = np.zeros_like(end_pv)
    for d, (parent, code, end_node) in enumerate(levels, 1):
        k = len(code)
        # every index is in range; mode="clip" skips the copy through a
        # buffer that the default mode="raise" makes of each take
        p = np.take(pv, parent, axis=0, out=pv2[:k], mode="clip")
        n = np.take(mv, parent, axis=0, out=mv2[:k], mode="clip")
        pv, mv, pv2, mv2 = pv2, mv2, pv, mv
        eq, xv, xh, ph, mh = scratch[:, :k]
        np.take(peq, code, axis=0, out=eq, mode="clip")
        np.bitwise_or(eq, n, out=xv)
        np.bitwise_and(eq, p, out=xh)
        xh += p
        xh ^= p
        xh |= eq
        np.bitwise_or(xh, p, out=ph)
        np.invert(ph, out=ph)
        ph |= n
        np.bitwise_and(p, xh, out=mh)
        ph <<= 1
        ph |= 1
        mh <<= 1
        np.bitwise_or(xv, ph, out=p)
        np.invert(p, out=p)
        p |= mh
        np.bitwise_and(ph, xv, out=n)
        lo, hi = np.searchsorted(lens, (d, d + 1))
        end_pv[lo:hi] = p[end_node]
        end_mv[lo:hi] = n[end_node]
    # D[m][n] = D[0][n] + the last column's vertical deltas: +1 per pv
    # bit, -1 per mv bit, within the pattern's m bits
    end_pv &= full
    end_mv &= full
    lev = _popcount(end_pv)
    lev -= _popcount(end_mv)
    lev += lens[:, None]
    return lev


def _popcount(words: np.ndarray) -> np.ndarray:
    """Set bits of each word; overwrites ``words``."""
    if words.dtype == object:
        return np.frompyfunc(int.bit_count, 1, 1)(words).astype(np.int64)
    # SWAR bit count of each uint64 word, in place
    x, t = words, words >> 1
    t &= _M1
    x -= t
    np.right_shift(x, 2, out=t)
    t &= _M2
    x &= _M2
    x += t
    np.right_shift(x, 4, out=t)
    x += t
    x &= _M4
    x *= _H01
    x >>= 56
    return x.astype(np.int64)


def _best_pairs_kernel(rvals: set[str], left_col: str, right_col: str):
    """The ``mapInPandas`` function: (left) batches in, the
    (left, right, lev) pairs that may win each left value's argmax out."""
    order = sorted(rvals)
    alphabet, levels, emit = _trie_levels(order)
    right = np.array(order, dtype=object)[emit]
    lens = np.array([len(s) for s in right], dtype=np.int64)
    widest = max((len(level[1]) for level in levels), default=1)
    smallest = order[0]
    # the state buffers hold widest × block words, the distances and
    # ratios len(right) × block
    block = max(1, _BLOCK_PAIRS // max(widest, len(right)))

    def pairs(patterns: list[str], dtype) -> tuple[np.ndarray, ...]:
        lev = _myers_block(patterns, alphabet, levels, lens, dtype)
        tot = lens[:, None] + np.array([len(p) for p in patterns], dtype=np.int64)
        # 1 - ratio/100; the pair of two empty strings has lev 0: ratio 100
        loss = lev / np.maximum(tot, 1)
        c, r = np.nonzero(loss <= loss.min(axis=0) + _TIE_SLACK / 100)
        return np.array(patterns, dtype=object)[r], right[c], lev[c, r]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = pdf[left_col].drop_duplicates()
            if vals.isna().any():
                yield pd.DataFrame(
                    {left_col: [None], right_col: [smallest], "__lev": [None]}
                )
            vals = vals.dropna().tolist()
            found = [
                pairs(group[s : s + block], dtype)
                for dtype, group in (
                    (np.uint64, [v for v in vals if len(v) <= 64]),
                    (object, [v for v in vals if len(v) > 64]),
                )
                for s in range(0, len(group), block)
            ]
            if found:
                cols = (np.concatenate(col) for col in zip(*found))
                yield pd.DataFrame(dict(zip((left_col, right_col, "__lev"), cols)))

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
    ratio = _score(left_col, right_col, "__lev")
    scored = cand.selectExpr(f"`{left_col}`", f"`{right_col}`", f"{ratio} AS ratio")
    return _argmax(scored, left_col, right_col).selectExpr(
        f"`{left_col}`",
        f"__best.`{right_col}` AS `{right_col}`",
        "__best.ratio AS ratio",
    )
