"""Incremental / streaming layer (SURVEY.md §2.10, T1-T4)."""

from ccgp_data_wrangling_spark.streaming.incremental import (
    LedgerIngest,
    fold_stream,
)

__all__ = ["LedgerIngest", "fold_stream"]
