"""One Arrow pass from blob rows to extracted rows.

Every binary-payload source (DOCX … WARC, tar shards, GIF frames,
audio landmarks) has the same shape: select ``(id, payload)``, run one
``mapInPandas`` stage, and explode each blob into zero or more rows
keyed by its id. :func:`explode_blobs` is that shape; each source only
supplies ``rows_of``, the per-blob extractor.

``pre`` fuses an upstream batch transformer (e.g. a fixture payload
synthesizer) into the same Arrow stage, so blobs never cross the
JVM<->Python boundary between synthesis and extraction. The fused
path is opaque to Spark's column pruning: every column of ``df``
ships into the Python worker, so hand in a frame narrowed to what
``pre`` consumes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

Batches = Iterator[pd.DataFrame]


def text_rows(texts: Iterable[str]) -> Iterator[tuple[int, str, int]]:
    """``(ordinal, text, n_chars)`` per text: the tail of every
    paragraph/page row."""
    return ((k, t, len(t)) for k, t in enumerate(texts))


def blob_batches(
    batches: Batches,
    rows_of: Callable[[bytes], Iterable[tuple]],
    columns: list[str],
    *,
    id_col: str,
    payload_col: str,
) -> Batches:
    """Batch-iterator core of :func:`explode_blobs`: one output frame
    per input batch, ``(id, *row)`` for every row ``rows_of`` yields.
    An extractor failure names the blob it failed on."""
    for pdf in batches:
        rows: list[tuple] = []
        for rid, blob in zip(pdf[id_col], pdf[payload_col]):
            try:
                rows.extend((rid, *row) for row in rows_of(bytes(blob)))
            except Exception as exc:
                raise ValueError(f"{id_col}={rid}: {exc}") from exc
        yield pd.DataFrame(rows, columns=columns)


def map_batches(
    df: DataFrame,
    op: Callable[[Batches], Batches],
    schema: str,
    cols: tuple[str, ...],
    pre: Any = None,
) -> DataFrame:
    """Run ``op`` as one ``mapInPandas`` stage over ``df`` narrowed to
    ``cols`` or, with ``pre``, over all of ``df`` with ``pre`` fused
    in front of ``op``."""
    if pre is not None:
        return df.mapInPandas(lambda it: op(pre(it)), schema=schema)
    return df.select(*cols).mapInPandas(op, schema=schema)


def explode_blobs(
    df: DataFrame,
    rows_of: Callable[[bytes], Iterable[tuple]],
    schema: str,
    *,
    id_col: str,
    payload_col: str,
    pre: Any = None,
) -> DataFrame:
    """Explode each ``(id_col, payload_col)`` blob of ``df`` into the
    rows ``rows_of(blob)`` yields, each prefixed by the blob's id, in
    one Arrow pass. ``schema`` is the output DDL: the id column first,
    then the columns of each ``rows_of`` tuple in order. A blob whose
    extractor raises fails the task with a ``ValueError`` naming its
    id."""
    columns = StructType.fromDDL(schema).names

    def op(batches: Batches) -> Batches:
        return blob_batches(
            batches, rows_of, columns, id_col=id_col, payload_col=payload_col
        )

    return map_batches(df, op, schema, (id_col, payload_col), pre)
