"""The benchmark's workloads: which registered queries run, at what scale.

Each workload is a list of query names from the package registry; the
engine sees only those names and the generated tables. ``scale``
multiplies the sf0.01 row counts of :mod:`datagen` (10 is the sf0.1
layout). A run measures a fixed number of warm passes after the first
pass, so every run does the same work whatever the host's speed;
``settle_passes`` untimed passes between them let the JIT catch up
first.
``small_checks`` names the queries whose DuckDB oracle is too slow at
``scale``; their outputs are checked on sf0.01 tables of the same seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    scale: float
    warm_passes: int
    small_checks: tuple[str, ...] = ()
    settle_passes: int = 0


# run once after get_spark, in no workload: a small HTML extract in a
# mapInPandas stage, so the Python worker processes start in set-up
# rather than inside the first timed query that needs them
WARMUP_QUERY = "html_text_extract"

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ccgp_pipelines",
            "the paper's ingest pipelines at sf0.1: the SRA sheet, a streaming MERGE "
            "drain and a docx corpus extract in Python workers; eager writes in build",
            (
                "sra_sheet_e2e",
                "t3_stream_merge_availablenow",
                "docx_text_extract",
            ),
            10,
            2,
            # the first warm pass is still 10-15 % slower than the next
            settle_passes=1,
        ),
        Workload(
            "dedup_kernels",
            "near-duplicate operators at sf0.04: a fuzzy cross join shuffled at build "
            "time (localCheckpoint), and span dedup persisting into its CacheScope",
            ("x12_fuzzy_best_match", "span_dedup_crossdoc"),
            4,
            2,
            # its DuckDB oracle, a fuzzy cross join, grows with the square of
            # the scale (9 s at sf0.05)
            ("x12_fuzzy_best_match",),
        ),
    )
}
