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
* only children of runs count — a ``w:tab`` under ``w:pPr/w:tabs``
  is a tab-stop definition, not a character, and tracked-deletion
  text lives in ``w:delText``, which is skipped by construction;
* table-cell paragraphs surface in document order (``w:tbl/w:tr/w:tc``
  nests plain ``w:p`` elements), and so do text-box paragraphs
  (``w:r/w:pict/v:textbox/w:txbxContent/w:p``), each after its host
  paragraph and not inside its text: a run belongs to its nearest
  enclosing ``w:p``. The document is walked once, matching
  precomputed qualified tags.

The fixture writer :func:`build_docx` packages through
``sources/blobs.zip_package``: the content-types and package-rels
members are built once per process, only ``word/document.xml`` is
deflated per document, and the bytes carry no clock.

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

from ccgp_data_wrangling_spark.sources.blobs import (
    explode_blobs,
    text_rows,
    zip_member,
    zip_package,
)

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_P, _PPR, _R, _RPR, _T, _TAB = (
    f"{{{_W_NS}}}{t}" for t in ("p", "pPr", "r", "rPr", "t", "tab")
)
_BREAKS = frozenset((f"{{{_W_NS}}}br", f"{{{_W_NS}}}cr"))

DOCX_PARA_SCHEMA = "doc_id long, para int, text string, n_chars int"


def extract_docx_paragraphs(payload: bytes) -> list[str]:
    """One string per ``w:p`` in document order (§17.3.1.22),
    including paragraphs nested in table cells and text boxes. A
    paragraph's text is the runs whose nearest enclosing ``w:p`` it
    is: their ``w:t`` text, ``w:tab`` → TAB, ``w:br``/``w:cr`` →
    newline, matched only as children of a ``w:r`` so tab-stop
    definitions and non-text markup never leak into the output."""
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            xml = zf.read("word/document.xml")
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not a DOCX package: {exc}") from exc
    except KeyError:
        raise ValueError(
            "not a DOCX package (missing word/document.xml)"
        ) from None
    body = ET.fromstring(xml).find(f"{{{_W_NS}}}body")
    if body is None:
        raise ValueError("DOCX document.xml has no w:body")
    out: list[str] = []
    _collect(body, [], out)
    return out


def _collect(el: ET.Element, parts: list[str], out: list[str]) -> None:
    """Append ``el``'s run characters to ``parts`` (its paragraph's)
    and, in document order, one entry to ``out`` per ``w:p`` below
    it: a paragraph's slot is taken before its nested paragraphs'."""
    for child in el:
        tag = child.tag
        if tag == _R:
            for c in child:
                ctag = c.tag
                if ctag == _T:
                    parts.append(c.text or "")
                elif ctag == _TAB:
                    parts.append("\t")
                elif ctag in _BREAKS:
                    parts.append("\n")
                elif ctag != _RPR and len(c):
                    _collect(c, parts, out)
        elif tag == _P:
            own: list[str] = []
            slot = len(out)
            out.append("")
            _collect(child, own, out)
            out[slot] = "".join(own)
        elif tag != _PPR and len(child):
            _collect(child, parts, out)


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


# the two parts every fixture package shares, built once per process
_DOCX_PACKAGE_PARTS = (
    zip_member(
        "[Content_Types].xml",
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.wordprocessingml.document.'
        'main+xml"/></Types>',
    ),
    zip_member(
        "_rels/.rels",
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="word/document.xml"/></Relationships>',
    ),
)


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
    return zip_package(
        (*_DOCX_PACKAGE_PARTS, zip_member("word/document.xml", document))
    )
