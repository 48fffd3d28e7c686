"""Linkage join tests (J1/J2) on FIXTURES.md-shaped data, covering the
variant cascade, comma multi-ids, the .gz-after-tier rule, mid-name
matches, conflict resolution, and the sequenced gate.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.linkage import (
    _SEP_CLASS,
    link_reads_to_samples,
    linkage_pairs,
    resolve_conflicts,
)

TS = datetime(2024, 1, 5, 12, 0, 0)
TS2 = datetime(2024, 2, 5, 12, 0, 0)


def candidate_spans(file_col: Column, max_span: int = 6) -> Column:
    """All separator-bounded spans of ``file_col`` ≤ max_span tokens,
    each followed by a separator in the original string; separators
    inside a span are preserved. Returns array<string> (distinct).
    Reference for the span set that ``linkage_pairs`` builds with
    explode + substring.

    Example: ``"AB_C-1.fq.gz"`` → spans over tokens [AB, C, 1, fq]
    include ``AB``, ``AB_C``, ``AB_C-1``, ``C``, ``C-1``, ``1``, ...

    Implementation: one O(n) fold computes each token's 1-based start
    offset in the original string; every span is then a single
    ``substring`` (separators are preserved for free). The token and
    offset arrays are bound through a one-element transform lambda so
    they are evaluated ONCE per row — HOF lambdas are interpreted, and
    inlining the split/fold into each of the O(n·max_span) span
    expressions (what projection collapse otherwise does) multiplies
    the per-row cost by the span count.
    """
    tokens = F.split(file_col, _SEP_CLASS)
    n = F.size(tokens)
    # starts[k] = 1-based position of token k-1 (0-based k-1)
    starts = F.aggregate(
        F.slice(tokens, 1, F.greatest(n - 1, F.lit(0))),
        F.array(F.lit(1)),
        lambda acc, t: F.concat(
            acc, F.array(F.element_at(acc, -1) + F.length(t) + 1)
        ),
    )

    def spans_of(p: Column) -> Column:
        toks = p["toks"]
        st = p["st"]
        m = F.size(toks)
        return F.flatten(
            F.transform(
                F.sequence(F.lit(0), m - 2),
                lambda i: F.transform(
                    F.sequence(i, F.least(i + max_span - 1, m - 2)),
                    lambda j: F.substring(
                        file_col,
                        F.element_at(st, i + 1),
                        F.element_at(st, j + 1)
                        + F.length(F.element_at(toks, j + 1))
                        - F.element_at(st, i + 1),
                    ),
                ),
            )
        )

    prep = F.array(F.struct(tokens.alias("toks"), starts.alias("st")))
    spans = F.flatten(F.transform(prep, spans_of))
    return F.when(n >= 2, F.array_distinct(spans)).otherwise(
        F.array().cast("array<string>")
    )


def _samples(spark, rows):
    return spark.createDataFrame(
        rows, "sample_name string, minicore_seq_id string, minicore_sequenced string"
    )


def _reads(spark, names):
    return spark.createDataFrame(
        [(n, 100, TS if i % 2 == 0 else TS2) for i, n in enumerate(names)],
        "file_name string, filesize long, mdate timestamp",
    )


def test_candidate_spans_basic(spark):
    df = spark.createDataFrame([("AB_C-1.fq.gz",), ("nosep",)], "f string")
    got = df.select(candidate_spans(F.col("f")).alias("s")).collect()
    spans = set(got[0][0])
    # tokens: AB C 1 fq gz → spans end before a separator; gz excluded
    assert {"AB", "AB_C", "AB_C-1", "AB_C-1.fq", "C", "C-1", "C-1.fq", "1", "1.fq", "fq"} == spans
    assert got[1][0] == []


def test_exact_tier_match(spark):
    s = _samples(spark, [("S1", "CC131", "YES")])
    r = _reads(
        spark,
        ["CC131_L001_R1_001.fastq.gz", "CC131_L001_R2_001.fastq.gz", "OTHER_R1.fastq.gz"],
    )
    out = link_reads_to_samples(s, r).collect()
    assert len(out) == 1
    assert out[0]["files_found"] == [
        "CC131_L001_R1_001.fastq.gz",
        "CC131_L001_R2_001.fastq.gz",
    ]
    assert out[0]["filesize_sum"] == 200
    assert out[0]["received"] == TS


def test_underscore_to_dash_variant(spark):
    # id AB_1 has no exact match; AB-1 (tier 1) does
    s = _samples(spark, [("S1", "AB_1", "YES")])
    r = _reads(spark, ["AB-1_L001_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert len(pairs) == 1
    assert pairs[0]["tier"] == 1


def test_stripped_variant(spark):
    # id AB_1 matches only with all separators stripped (AB1, tier 2)
    s = _samples(spark, [("S1", "AB_1", "YES")])
    r = _reads(spark, ["AB1_L001_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert len(pairs) == 1
    assert pairs[0]["tier"] == 2


def test_dash_to_underscore_variant(spark):
    s = _samples(spark, [("S1", "AB-1", "YES")])
    r = _reads(spark, ["AB_1_L001_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert len(pairs) == 1
    assert pairs[0]["tier"] == 1


def test_tier_precedence_exact_wins(spark):
    # both exact and dash-variant files exist → only exact-tier files kept
    s = _samples(spark, [("S1", "AB_1", "YES")])
    r = _reads(spark, ["AB_1_R1.fastq.gz", "AB-1_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert [p["file_name"] for p in pairs] == ["AB_1_R1.fastq.gz"]
    assert pairs[0]["tier"] == 0


def test_comma_multi_id_first_match_wins(spark):
    # first id matches nothing; second id matches
    s = _samples(spark, [("S1", "ZZZ9,CC131", "YES")])
    r = _reads(spark, ["CC131_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert len(pairs) == 1
    assert pairs[0]["id_idx"] == 1


def test_gz_filter_after_tier(spark):
    # exact tier matches only a non-gz file; cascade must NOT fall
    # through to the dash variant (which has a .gz file)
    s = _samples(spark, [("S1", "AB_1", "YES")])
    r = _reads(spark, ["AB_1_R1.fastq", "AB-1_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert pairs == []


def test_mid_name_match(spark):
    # id occurs mid-filename (prefix-only candidate generation would miss)
    s = _samples(spark, [("S1", "S42", "YES")])
    r = _reads(spark, ["PROJ_S42_L001_R1.fastq.gz"])
    pairs = linkage_pairs(s, r).collect()
    assert len(pairs) == 1


def test_sequenced_gate(spark):
    s = _samples(spark, [("S1", "CC131", "NO"), ("S2", "CC131", None)])
    r = _reads(spark, ["CC131_R1.fastq.gz"])
    assert linkage_pairs(s, r).collect() == []


def test_conflict_resolution(spark):
    # file name contains both ids; closer sample name wins the file
    s = _samples(
        spark, [("CC131_XA", "CC131", "YES"), ("CC131_XA_extra_long", "CC131_XA", "YES")]
    )
    r = _reads(spark, ["CC131_XA_R1.fastq.gz"])
    pairs = linkage_pairs(s, r)
    assert pairs.count() == 2  # both match pre-conflict
    won = resolve_conflicts(pairs).collect()
    assert len(won) == 1
    # levenshtein ratio: "CC131_XA" vs file is closer than the long name
    assert won[0]["sample_name"] == "CC131_XA"


def test_no_nan_ids(spark):
    s = _samples(spark, [("S1", "nan", "YES"), ("S2", None, "YES")])
    r = _reads(spark, ["nan_R1.fastq.gz"])
    assert linkage_pairs(s, r).collect() == []
