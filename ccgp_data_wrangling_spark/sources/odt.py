"""ODT (OpenDocument Text, OASIS ODF 1.2) text extraction — the
third document container in the corpus-ingest family after
:mod:`sources/pdf` and :mod:`sources/docx`.

An .odt file is a zip (ODF 1.2 Part 3) whose ``content.xml`` carries
the text under ``office:body/office:text``; everything here is stdlib
(``zipfile`` + ``xml.etree``). Extraction follows ODF 1.2 Part 1:

* paragraphs are ``text:p`` and headings ``text:h`` (§5.1.3/§5.1.2),
  surfaced in document order, including paragraphs nested in table
  cells (``table:table/table:table-row/table:table-cell``);
* unlike WordprocessingML, ODF paragraph content is MIXED: character
  data sits directly in the paragraph and inside ``text:span``
  elements, so extraction walks text AND tails recursively;
* whitespace elements (§6.1) render to the characters a text pipeline
  needs: ``text:tab`` → TAB, ``text:line-break`` → newline, and
  ``text:s`` → ``text:c`` spaces (default 1);
* footnote/endnote bodies (``text:note``) are skipped — their
  paragraphs belong to the note, not the body flow — but the tail
  text after the note anchor stays.

Scope (documented, not gated): only ``content.xml`` is read — styles,
headers/footers (``styles.xml``) and metadata are separate parts.

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; this extends the engine's multimodal corpus
surface the way sources/docx.py does for OOXML.
"""

from __future__ import annotations

import functools
import io
import zipfile
from typing import Any
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import (
    ZipMember,
    explode_blobs,
    text_rows,
    zip_member,
    zip_package,
)

_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_TABLE_NS = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"

ODT_PARA_SCHEMA = "doc_id long, para int, text string, n_chars int"


def _para_text(p: ET.Element) -> str:
    """Flatten one ``text:p``/``text:h``: mixed character data plus
    the §6.1 whitespace elements, recursing through ``text:span`` and
    skipping ``text:note`` bodies (their tail text stays)."""
    parts: list[str] = []

    def walk(el: ET.Element) -> None:
        tag = el.tag.rsplit("}", 1)[-1]
        in_text_ns = el.tag.startswith(f"{{{_TEXT_NS}}}")
        if in_text_ns and tag == "tab":
            parts.append("\t")
        elif in_text_ns and tag == "line-break":
            parts.append("\n")
        elif in_text_ns and tag == "s":
            parts.append(" " * int(el.get(f"{{{_TEXT_NS}}}c", "1")))
        elif in_text_ns and tag == "note":
            pass  # note body is not body-flow text
        else:
            if el.text:
                parts.append(el.text)
            for child in el:
                walk(child)
        if el.tail:
            parts.append(el.tail)

    if p.text:
        parts.append(p.text)
    for child in p:
        walk(child)
    return "".join(parts)


def extract_odt_paragraphs(payload: bytes) -> list[str]:
    """One string per ``text:p``/``text:h`` in document order,
    including table-cell paragraphs. The walk is an explicit
    recursion over the body tree (not ``iter``) so a paragraph nested
    inside another construct is attributed exactly once."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not an ODT package: {exc}") from exc
    with zf:
        if "content.xml" not in zf.namelist():
            raise ValueError("not an ODT package (missing content.xml)")
        root = ET.fromstring(zf.read("content.xml"))
    body = root.find(f"{{{_OFFICE_NS}}}body")
    office_text = (
        body.find(f"{{{_OFFICE_NS}}}text") if body is not None else None
    )
    if office_text is None:
        raise ValueError("ODT content.xml has no office:body/office:text")
    out: list[str] = []

    def collect(el: ET.Element) -> None:
        tag = el.tag.rsplit("}", 1)[-1]
        if el.tag.startswith(f"{{{_TEXT_NS}}}") and tag in ("p", "h"):
            out.append(_para_text(el))
            return
        for child in el:
            collect(child)

    for child in office_text:
        collect(child)
    return out


def odt_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode ODT blobs into one row per paragraph with extracted
    text — one :func:`explode_blobs` pass."""
    return explode_blobs(
        df,
        lambda b: text_rows(extract_odt_paragraphs(b)),
        ODT_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _token_xml(token: Any) -> str:
    """Fixture token → ODF markup: strings are character data, with
    every second string wrapped in ``text:span`` so the mixed-content
    walk (text + tails through spans) is load-bearing; tuples are the
    whitespace elements."""
    if isinstance(token, str):
        return _xml_escape(token)
    if token == ("tab",):
        return "<text:tab/>"
    if token == ("br",):
        return "<text:line-break/>"
    if isinstance(token, tuple) and token[0] == "s":
        return f'<text:s text:c="{int(token[1])}"/>'
    if isinstance(token, tuple) and token[0] == "span":
        return "<text:span>" + _xml_escape(token[1]) + "</text:span>"
    raise ValueError(f"unknown ODT token {token!r}")


def _para_xml(entry: Any, tag: str = "text:p") -> str:
    tokens = entry if isinstance(entry, list) else [entry]
    return f"<{tag}>" + "".join(_token_xml(t) for t in tokens) + f"</{tag}>"


def build_odt(paragraphs: list[Any]) -> bytes:
    """Fixture writer: a minimal conformant .odt (mimetype stored
    first per ODF 1.2 Part 3 §3.3, manifest, content.xml). Each entry
    is a paragraph: a string, a list of tokens (strings,
    ``("span", s)``, ``("tab",)``, ``("br",)``, ``("s", n)``),
    ``{"heading": ...}`` for ``text:h``, or ``{"cells": [...]}`` — a
    one-row table whose cells each hold one paragraph."""
    body_parts: list[str] = []
    for i, entry in enumerate(paragraphs):
        if isinstance(entry, dict) and "cells" in entry:
            cells = "".join(
                "<table:table-cell>" + _para_xml(c) + "</table:table-cell>"
                for c in entry["cells"]
            )
            body_parts.append(
                f'<table:table table:name="T{i}"><table:table-row>'
                + cells
                + "</table:table-row></table:table>"
            )
        elif isinstance(entry, dict) and "heading" in entry:
            body_parts.append(_para_xml(entry["heading"], "text:h"))
        else:
            body_parts.append(_para_xml(entry))
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE_NS}" '
        f'xmlns:text="{_TEXT_NS}" xmlns:table="{_TABLE_NS}" '
        'office:version="1.2"><office:body><office:text>'
        + "".join(body_parts)
        + "</office:text></office:body></office:document-content>"
    )
    return odf_package("application/vnd.oasis.opendocument.text", content)


@functools.cache
def _odf_head(media_type: str) -> tuple[ZipMember, ZipMember]:
    """The ``mimetype`` member (first and stored, ODF 1.2 Part 3
    §3.3) and the manifest of a one-part ODF package, built once per
    media type."""
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:'
        'opendocument:xmlns:manifest:1.0" manifest:version="1.2">'
        '<manifest:file-entry manifest:full-path="/" manifest:media-type='
        f'"{media_type}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" '
        'manifest:media-type="text/xml"/></manifest:manifest>'
    )
    return (
        zip_member("mimetype", media_type, deflate=False),
        zip_member("META-INF/manifest.xml", manifest),
    )


def odf_package(media_type: str, content: str) -> bytes:
    """A one-part ODF package (the ODT/ODP/ODS fixture container):
    ``mimetype``, ``META-INF/manifest.xml``, then ``content.xml``."""
    return zip_package((*_odf_head(media_type), zip_member("content.xml", content)))
