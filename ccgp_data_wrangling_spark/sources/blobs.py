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

The fixture writers of the zip-based formats (DOCX, PPTX, ODT, ODS,
ODP, EPUB, XLSX) share :func:`zip_member`/:func:`zip_package`, a
template zip writer: each member's headers are struct-packed once
with a fixed 1980-01-01 stamp, so a member that is the same in every
package (a content-types or manifest part) is built once per process,
only the per-document parts are deflated per call, and a package's
bytes depend on its members alone, never on the clock. The readers
keep stdlib ``zipfile``.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterable, Iterator
from typing import Any, NamedTuple

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


# APPNOTE 4.3.7 / 4.3.12 / 4.3.16: the local header, the central
# directory record up to its local-header offset, the end record
_LOCAL = struct.Struct("<4s5H3L2H")
_CENTRAL = struct.Struct("<4s6H3L5HL")
_END = struct.Struct("<4s4H2LH")
_DOS_1980_01_01 = (0 << 9) | (1 << 5) | 1


class ZipMember(NamedTuple):
    """One packaged member: ``local`` is its local header, name and
    data; ``central`` its central-directory record without the
    offset, which :func:`zip_package` appends with the name."""

    local: bytes
    central: bytes
    name: bytes


def zip_member(name: str, data: str | bytes, *, deflate: bool = True) -> ZipMember:
    """A zip member from UTF-8 text or bytes, deflated (method 8) or
    stored (method 0), stamped 1980-01-01 00:00. No ZIP64: a member
    or package of 4 GiB or more fails in ``struct.pack``."""
    raw = data.encode() if isinstance(data, str) else data
    body = zlib.compress(raw, wbits=-15) if deflate else raw
    bname = name.encode("ascii")
    version = 20 if deflate else 10
    fields = (
        0, 8 if deflate else 0, 0, _DOS_1980_01_01,
        zlib.crc32(raw), len(body), len(raw), len(bname), 0,
    )
    return ZipMember(
        _LOCAL.pack(b"PK\x03\x04", version, *fields) + bname + body,
        _CENTRAL.pack(b"PK\x01\x02", version, version, *fields, 0, 0, 0, 0),
        bname,
    )


def zip_package(members: Iterable[ZipMember]) -> bytes:
    """The zip archive of ``members``, in the given order."""
    parts: list[bytes] = []
    central: list[bytes] = []
    offset = 0
    for m in members:
        parts.append(m.local)
        central.append(m.central + offset.to_bytes(4, "little") + m.name)
        offset += len(m.local)
    directory = b"".join(central)
    n = len(central)
    parts.append(directory)
    parts.append(_END.pack(b"PK\x05\x06", 0, 0, n, n, len(directory), offset, 0))
    return b"".join(parts)
