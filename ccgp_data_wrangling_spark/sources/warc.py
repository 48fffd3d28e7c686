"""WARC (Web ARChive, ISO 28500) ingest — the container every
web-scale training corpus starts from (Common Crawl ships WARC), with
nothing beyond stdlib ``gzip``.

Format facts this parser implements:

* a ``.warc.gz`` file is a sequence of INDEPENDENT gzip members, one
  per record, concatenated — which is exactly what makes the format
  splittable at scale (members can be decompressed from any member
  boundary). Python's ``gzip.decompress`` inflates all members of a
  byte range in one call.
* a record is ``WARC/1.0\\r\\n`` + header lines (``Name: value``) +
  ``\\r\\n`` + ``Content-Length`` payload bytes + ``\\r\\n\\r\\n``.
* ``response`` records carry an HTTP response (status line + headers
  + body) as their payload; the usable text is the body.

Scale shape: WARC files land as binary blobs (``spark.read.format
("binaryFile")`` or an object-listing table of byte ranges); record
extraction runs inside ``mapInPandas`` — one Arrow batch of archives
in, one batch of records out, no driver materialization. The HTML →
text step here is the deterministic tag-strip every curation pipeline
starts with (a real extractor like trafilatura slots into the same
kernel).
"""

from __future__ import annotations

import gzip
import re
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs

__all__ = [
    "parse_warc",
    "warc_records",
    "build_warc",
    "html_to_text",
    "WARC_RECORD_SCHEMA",
]

_CRLF = b"\r\n"


def parse_warc(payload: bytes) -> list[dict[str, Any]]:
    """Parse a (possibly gzipped, possibly multi-member) WARC byte
    blob into records: ``{warc_type, target_uri, warc_date,
    http_status, content_type, body}``. Non-HTTP payloads keep their
    raw bytes in ``body`` and have ``http_status`` None."""
    if payload[:2] == b"\x1f\x8b":
        payload = gzip.decompress(payload)  # all members
    out: list[dict[str, Any]] = []
    pos = 0
    while pos < len(payload):
        # skip inter-record blank lines
        while payload[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= len(payload):
            break
        if not payload.startswith(b"WARC/", pos):
            raise ValueError(f"expected WARC version line at byte {pos}")
        hdr_end = payload.index(_CRLF + _CRLF, pos)
        hdr_lines = payload[pos:hdr_end].split(_CRLF)
        headers: dict[str, str] = {}
        for line in hdr_lines[1:]:
            k, _, v = line.decode("utf-8", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        body_start = hdr_end + 4
        raw = payload[body_start : body_start + length]
        if len(raw) != length:
            raise ValueError("truncated WARC record payload")
        pos = body_start + length

        rec: dict[str, Any] = {
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "http_status": None,
            "content_type": headers.get("content-type"),
            "body": raw,
        }
        if raw.startswith(b"HTTP/"):
            he = raw.find(_CRLF + _CRLF)
            he = he if he >= 0 else len(raw)
            status_line = raw[: raw.find(_CRLF)].decode("utf-8", "replace")
            parts = status_line.split(" ", 2)
            # real crawls contain malformed status lines; one bad record
            # must not fail the whole archive's task
            try:
                rec["http_status"] = int(parts[1]) if len(parts) > 1 else None
            except ValueError:
                rec["http_status"] = None
            for line in raw[:he].split(_CRLF)[1:]:
                k, _, v = line.decode("utf-8", "replace").partition(":")
                if k.strip().lower() == "content-type":
                    rec["content_type"] = v.strip()
            rec["body"] = raw[he + 4 :]
        out.append(rec)
    return out


_TAG = re.compile(r"<[^>]*>")


def html_to_text(body: bytes) -> str:
    """Deterministic first-pass HTML → text: strip tags, collapse
    whitespace. (A production extractor slots into the same kernel.)"""
    txt = _TAG.sub(" ", body.decode("utf-8", "replace"))
    return " ".join(txt.split())


WARC_RECORD_SCHEMA = (
    "archive_id long, warc_type string, target_uri string, "
    "warc_date string, http_status int, content_type string, "
    "text string, n_body_bytes long"
)


def warc_records(
    df: DataFrame,
    *,
    id_col: str = "archive_id",
    payload_col: str = "payload",
    response_only: bool = True,
    pre: Any = None,
) -> DataFrame:
    """Explode WARC archive blobs into one row per record, with the
    HTTP body run through :func:`html_to_text`. One
    :func:`explode_blobs` pass; archives stream batch-by-batch, never
    to the driver."""

    def rows_of(blob: bytes) -> Iterator[tuple]:
        for rec in parse_warc(blob):
            if response_only and rec["warc_type"] != "response":
                continue
            yield (
                rec["warc_type"],
                rec["target_uri"],
                rec["warc_date"],
                rec["http_status"],
                rec["content_type"],
                html_to_text(rec["body"]),
                len(rec["body"]),
            )

    return explode_blobs(
        df,
        rows_of,
        WARC_RECORD_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def build_warc(
    records: list[dict[str, Any]], *, gzip_members: bool = True
) -> bytes:
    """Fixture writer: serialize records (dicts with ``warc_type``,
    ``target_uri``, ``warc_date``, and either raw ``payload`` bytes or
    an HTTP ``body`` + ``http_status``) as a conformant WARC, one gzip
    member per record when ``gzip_members`` (the Common Crawl layout).
    """
    out = bytearray()
    for rec in records:
        if "payload" in rec:
            payload = rec["payload"]
        else:
            body = rec["body"]
            status = rec.get("http_status", 200)
            payload = (
                f"HTTP/1.1 {status} OK\r\n"
                f"Content-Type: {rec.get('content_type', 'text/html')}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        hdr = (
            "WARC/1.0\r\n"
            f"WARC-Type: {rec['warc_type']}\r\n"
            f"WARC-Target-URI: {rec.get('target_uri', '')}\r\n"
            f"WARC-Date: {rec.get('warc_date', '2024-01-01T00:00:00Z')}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        member = hdr + payload + _CRLF + _CRLF
        out += gzip.compress(member, mtime=0) if gzip_members else member
    return bytes(out)
