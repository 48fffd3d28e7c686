"""DOCX (OOXML WordprocessingML) text extraction — the document
container next to :mod:`sources/pdf` in the corpus-ingest family.

A .docx file is a plain zip (ECMA-376 Part 2, OPC) whose main part
``word/document.xml`` carries the text as ``w:p`` paragraphs of
``w:r`` runs; everything here is stdlib (``zipfile`` +
``xml.etree``), the same machinery :mod:`sources/xlsx` uses for the
spreadsheet half of OOXML. Extraction follows §17.3 of the spec:

* a paragraph's text is its runs' ``w:t`` contents concatenated, with
  the in-run ``w:tab`` / ``w:br`` / ``w:cr`` elements rendered as TAB
  and newline (the characters a text pipeline needs);
* only elements INSIDE runs count — a ``w:tab`` under ``w:pPr/w:tabs``
  is a tab-stop definition, not a character, and tracked-deletion
  text lives in ``w:delText``, which is skipped by construction;
* table-cell paragraphs surface in document order (``w:tbl/w:tr/w:tc``
  nests plain ``w:p`` elements).

Scope (documented, not gated): only the main document part is read —
headers, footers, footnotes and comments are separate OPC parts a
later round can union in.

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; this extends the engine's multimodal corpus
surface the way sources/pdf.py does for PDF.
"""

from __future__ import annotations

import io
import zipfile
from typing import Any
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, text_rows

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

DOCX_PARA_SCHEMA = "doc_id long, para int, text string, n_chars int"


def extract_docx_paragraphs(payload: bytes) -> list[str]:
    """One string per ``w:p`` in document order (§17.3.1.22),
    including paragraphs nested in table cells. Runs concatenate
    their ``w:t`` text; ``w:tab`` → TAB, ``w:br``/``w:cr`` → newline
    — all matched only INSIDE ``w:r`` so tab-stop definitions and
    non-text markup never leak into the output."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not a DOCX package: {exc}") from exc
    with zf:
        if "word/document.xml" not in zf.namelist():
            raise ValueError(
                "not a DOCX package (missing word/document.xml)"
            )
        root = ET.fromstring(zf.read("word/document.xml"))
    body = root.find(f"{{{_W_NS}}}body")
    if body is None:
        raise ValueError("DOCX document.xml has no w:body")
    out: list[str] = []
    for p in body.iter(f"{{{_W_NS}}}p"):
        parts: list[str] = []
        for r in p.iter(f"{{{_W_NS}}}r"):
            for el in r.iter():
                tag = el.tag.rsplit("}", 1)[-1]
                if tag == "t":
                    parts.append(el.text or "")
                elif tag == "tab":
                    parts.append("\t")
                elif tag in ("br", "cr"):
                    parts.append("\n")
        out.append("".join(parts))
    return out


def docx_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode DOCX blobs into one row per paragraph with extracted
    text — one :func:`explode_blobs` pass."""
    return explode_blobs(
        df,
        lambda b: text_rows(extract_docx_paragraphs(b)),
        DOCX_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _run_xml(token: Any) -> str:
    """One ``w:r`` for a fixture token: a string becomes a text run
    (``xml:space='preserve'`` so leading/trailing spaces survive);
    ``("tab",)`` / ``("br",)`` become the in-run character elements."""
    if isinstance(token, str):
        return (
            '<w:r><w:t xml:space="preserve">'
            + _xml_escape(token)
            + "</w:t></w:r>"
        )
    if token == ("tab",):
        return "<w:r><w:tab/></w:r>"
    if token == ("br",):
        return "<w:r><w:br/></w:r>"
    raise ValueError(f"unknown DOCX run token {token!r}")


def build_docx(paragraphs: list[Any]) -> bytes:
    """Fixture writer: a minimal conformant .docx (OPC zip with
    content types, package rels and ``word/document.xml``). Each
    entry is a paragraph: a string (single run), a list of run
    tokens (strings and ``("tab",)`` / ``("br",)``), or
    ``{"cells": [...]}`` — a one-row table whose cells each hold one
    paragraph (exercising the nested ``w:tbl/w:tr/w:tc/w:p`` path)."""
    body_parts: list[str] = []
    for entry in paragraphs:
        if isinstance(entry, dict):
            cells = "".join(
                "<w:tc><w:p>"
                + "".join(
                    _run_xml(t)
                    for t in (c if isinstance(c, list) else [c])
                )
                + "</w:p></w:tc>"
                for c in entry["cells"]
            )
            body_parts.append(f"<w:tbl><w:tr>{cells}</w:tr></w:tbl>")
            continue
        tokens = entry if isinstance(entry, list) else [entry]
        # a tab-STOP definition in pPr shares the w:tab tag with the
        # tab character; emit one so the extractor's run-scoped match
        # is actually load-bearing
        body_parts.append(
            "<w:p><w:pPr><w:tabs>"
            '<w:tab w:val="left" w:pos="720"/>'
            "</w:tabs></w:pPr>"
            + "".join(_run_xml(t) for t in tokens)
            + "</w:p>"
        )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(body_parts)
        + "<w:sectPr/></w:body></w:document>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.wordprocessingml.document.'
        'main+xml"/></Types>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="word/document.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("word/document.xml", document)
    return buf.getvalue()
