"""ODP (OpenDocument Presentation, OASIS ODF 1.2) text extraction —
the presentation sibling of :mod:`sources/odt`/:mod:`sources/ods` on
the same ODF zip walk, mirroring what :mod:`sources/pptx` does for
OOXML decks.

``content.xml`` carries slides under ``office:body/
office:presentation`` as ``draw:page`` elements (ODF 1.2 Part 1
§10.2.2); visible text lives in ``draw:frame``/``draw:text-box``
(§10.4.2/§10.4.3) as ``text:p`` paragraphs sharing the ODT
mixed-content model (spans, tabs, line breaks — flattened by
:func:`sources.odt._para_text`). ``presentation:notes`` subtrees are
speaker notes, not slide text, and are skipped — the same scoping
rule the PPTX walk applies to its notes parts.

Paragraphs are collected RECURSIVELY inside each text container, so
Impress outline/body placeholders that nest bullet text under
``text:list``/``text:list-item`` (the dominant slide-body form) and
shapes that carry ``text:p`` directly under the shape element
without a ``draw:text-box`` wrapper (legal per ODF §10.4, e.g.
``draw:custom-shape``) both surface.

Scope (documented, not gated): only ``content.xml`` is read; master
pages/styles are separate parts, and drawing shapes with no text
descendants contribute nothing.

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; north-star corpus surface as with PPTX.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator
from typing import Any
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, text_rows

from ccgp_data_wrangling_spark.sources.odt import _para_text, odf_package

_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_DRAW_NS = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
_PRES_NS = "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"

ODP_PARA_SCHEMA = (
    "doc_id long, slide int, frame int, para int, text string, "
    "n_chars int"
)


def extract_odp_slides(payload: bytes) -> list[list[list[str]]]:
    """Slides in document order, each a list of frames, each a list
    of paragraph strings. Speaker-notes subtrees never contribute."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not an ODP package: {exc}") from exc
    with zf:
        if "content.xml" not in zf.namelist():
            raise ValueError("not an ODP package (missing content.xml)")
        root = ET.fromstring(zf.read("content.xml"))
    body = root.find(f"{{{_OFFICE_NS}}}body")
    pres = (
        body.find(f"{{{_OFFICE_NS}}}presentation")
        if body is not None
        else None
    )
    if pres is None:
        raise ValueError(
            "ODP content.xml has no office:body/office:presentation"
        )
    slides: list[list[list[str]]] = []
    for page in pres.findall(f"{{{_DRAW_NS}}}page"):
        frames: list[list[str]] = []

        def collect_frames(el: ET.Element) -> None:
            if el.tag == f"{{{_PRES_NS}}}notes":
                return  # speaker notes are not slide text
            # A text container is draw:text-box, OR any draw-ns shape
            # (draw:custom-shape &c., ODF §10.4) whose paragraphs sit
            # directly under the shape without a text-box wrapper.
            is_text_box = el.tag == f"{{{_DRAW_NS}}}text-box"
            bare_shape_text = el.tag.startswith(
                f"{{{_DRAW_NS}}}"
            ) and any(
                c.tag
                in (f"{{{_TEXT_NS}}}p", f"{{{_TEXT_NS}}}list")
                for c in el
            )
            if is_text_box or bare_shape_text:
                # recursive descendant walk (document order), so
                # bullet text inside text:list > text:list-item —
                # the dominant slide-body form from Impress outline
                # placeholders — is collected like odt's collect
                paras = [
                    _para_text(p)
                    for p in el.iter(f"{{{_TEXT_NS}}}p")
                ]
                frames.append(paras)
                return
            for child in el:
                collect_frames(child)

        for child in page:
            collect_frames(child)
        slides.append(frames)
    return slides


def odp_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode ODP blobs into one row per (slide, frame, paragraph)
    — one :func:`explode_blobs` pass."""

    def rows_of(blob: bytes) -> Iterator[tuple]:
        for s, frames in enumerate(extract_odp_slides(blob)):
            for f, paras in enumerate(frames):
                for row in text_rows(paras):
                    yield (s, f, *row)

    return explode_blobs(
        df,
        rows_of,
        ODP_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _para_xml(entry: Any) -> str:
    """Fixture paragraph: a string splits into text + a trailing
    ``text:span`` half (the ODT mixed-content walk is load-bearing);
    ``("br", a, b)`` plants a ``text:line-break``."""
    if isinstance(entry, str):
        cut = len(entry) // 2
        return (
            "<text:p>" + _xml_escape(entry[:cut])
            + "<text:span>" + _xml_escape(entry[cut:])
            + "</text:span></text:p>"
        )
    if isinstance(entry, tuple) and entry[0] == "br":
        return (
            "<text:p>" + _xml_escape(entry[1])
            + "<text:line-break/>" + _xml_escape(entry[2])
            + "</text:p>"
        )
    if isinstance(entry, tuple) and entry[0] == "li":
        # an Impress-style bullet: text:list > text:list-item >
        # text:p — exercises the recursive paragraph collection
        return (
            "<text:list><text:list-item><text:p>"
            + _xml_escape(entry[1])
            + "</text:p></text:list-item></text:list>"
        )
    raise ValueError(f"unknown ODP fixture entry {entry!r}")


def build_odp(slides: list[list[list[Any]]]) -> bytes:
    """Fixture writer: a minimal conformant .odp (stored-first
    mimetype, manifest, content.xml). ``slides`` is a list of
    slides, each a list of frames, each a list of paragraphs (see
    :func:`_para_xml`). Every slide also plants a
    ``presentation:notes`` text box with decoy text that must never
    surface."""
    pages: list[str] = []
    for si, frames in enumerate(slides):
        fparts: list[str] = []
        for fi, paras in enumerate(frames):
            if isinstance(paras, tuple) and paras[0] == "shape":
                # bare-shape text: text:p directly under the shape
                # element, no draw:text-box wrapper (ODF §10.4)
                fparts.append(
                    f'<draw:custom-shape draw:name="s{fi}">'
                    + "".join(_para_xml(p) for p in paras[1])
                    + "</draw:custom-shape>"
                )
                continue
            fparts.append(
                f'<draw:frame draw:name="f{fi}"><draw:text-box>'
                + "".join(_para_xml(p) for p in paras)
                + "</draw:text-box></draw:frame>"
            )
        fparts.append(
            "<presentation:notes><draw:frame><draw:text-box>"
            f"<text:p>NOTES DECOY {si}</text:p>"
            "</draw:text-box></draw:frame></presentation:notes>"
        )
        pages.append(
            f'<draw:page draw:name="page{si + 1}">'
            + "".join(fparts)
            + "</draw:page>"
        )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE_NS}" '
        f'xmlns:text="{_TEXT_NS}" xmlns:draw="{_DRAW_NS}" '
        f'xmlns:presentation="{_PRES_NS}" office:version="1.2">'
        "<office:body><office:presentation>"
        + "".join(pages)
        + "</office:presentation></office:body>"
        "</office:document-content>"
    )
    return odf_package(
        "application/vnd.oasis.opendocument.presentation", content
    )
