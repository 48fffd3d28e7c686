"""PPTX (OOXML PresentationML) text extraction — the third OOXML
container in the document-ingest family (next to :mod:`sources/docx`
and :mod:`sources/xlsx`), covering the slide decks common in web
corpora.

A .pptx file is a plain OPC zip (ECMA-376 Part 2). Text extraction
follows the PresentationML/DrawingML structure:

* slide ORDER is semantic and comes from ``p:sldIdLst`` in
  ``ppt/presentation.xml`` resolved through the package
  relationships part (``ppt/_rels/presentation.xml.rels``) — NOT
  from zip member order or slide file names (decks edited in the
  wild routinely have ``slide7.xml`` presented first);
* a slide's text lives in text bodies (``p:txBody`` on shapes,
  ``a:txBody`` in graphic-frame table cells) as ``a:p`` paragraphs of
  ``a:r`` runs whose ``a:t`` holds the characters; ``a:br`` is a
  line break and ``a:fld`` (slide-number/date fields) carries its
  cached literal in a nested ``a:t``;
* paragraphs surface in document order across the shape tree, one
  row per ``a:p``.

Scope (documented, not gated): only slide parts referenced from
``p:sldIdLst`` are read — notes slides, slide masters/layouts and
comments are separate OPC parts that carry template/annotation text,
not deck content.

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; this extends the engine's multimodal corpus
surface the way sources/docx.py does for WordprocessingML.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from collections.abc import Iterator
from typing import Any
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import (
    explode_blobs,
    text_rows,
    zip_member,
    zip_package,
)

_P_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_R_NS = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
)
_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"

PPTX_PARA_SCHEMA = (
    "doc_id long, slide int, para int, text string, n_chars int"
)


def _paragraph_text(p: ET.Element) -> str:
    """Flatten one ``a:p``: run/field text concatenated, ``a:br`` →
    newline. Matched one level under the paragraph so properties
    (``a:rPr`` inside effects, ``a:pPr`` defaults) never leak."""
    parts: list[str] = []
    for child in p:
        tag = child.tag.rsplit("}", 1)[-1]
        if tag in ("r", "fld"):
            t = child.find(f"{{{_A_NS}}}t")
            if t is not None:
                parts.append(t.text or "")
        elif tag == "br":
            parts.append("\n")
    return "".join(parts)


def extract_pptx_slides(payload: bytes) -> list[list[str]]:
    """Presentation-ordered slides, each a list of paragraph strings
    (one per ``a:p`` across the slide's text bodies in document
    order). Slide order resolves ``p:sldIdLst`` r:ids through the
    presentation relationships part."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not a PPTX package: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "ppt/presentation.xml" not in names:
            raise ValueError(
                "not a PPTX package (missing ppt/presentation.xml)"
            )
        pres = ET.fromstring(zf.read("ppt/presentation.xml"))
        rels_name = "ppt/_rels/presentation.xml.rels"
        if rels_name not in names:
            raise ValueError("presentation has no relationships part")
        rels_root = ET.fromstring(zf.read(rels_name))
        targets: dict[str, str] = {}
        for rel in rels_root.iter(f"{{{_REL_NS}}}Relationship"):
            targets[rel.get("Id", "")] = rel.get("Target", "")
        sld_lst = pres.find(f"{{{_P_NS}}}sldIdLst")
        if sld_lst is None:
            return []
        out: list[list[str]] = []
        for sld_id in sld_lst.findall(f"{{{_P_NS}}}sldId"):
            rid = sld_id.get(f"{{{_R_NS}}}id")
            if rid is None or rid not in targets:
                raise ValueError(
                    f"sldId references unknown relationship {rid!r}"
                )
            part = posixpath.normpath(
                posixpath.join("ppt", targets[rid])
            )
            if part not in names:
                raise ValueError(f"slide part {part!r} missing")
            slide = ET.fromstring(zf.read(part))
            paras: list[str] = []
            # document-order walk: shape text bodies are p:txBody,
            # table-cell text bodies (inside a:graphicFrame tables)
            # are a:txBody — same a:p payload either way
            for el in slide.iter():
                tag = el.tag.rsplit("}", 1)[-1]
                if tag != "txBody":
                    continue
                for p in el.findall(f"{{{_A_NS}}}p"):
                    paras.append(_paragraph_text(p))
            out.append(paras)
        return out


def pptx_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode PPTX blobs into one row per slide paragraph — one
    :func:`explode_blobs` pass."""

    def rows_of(blob: bytes) -> Iterator[tuple]:
        for s, paras in enumerate(extract_pptx_slides(blob)):
            for row in text_rows(paras):
                yield (s, *row)

    return explode_blobs(
        df,
        rows_of,
        PPTX_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _run_xml(token: Any) -> str:
    if isinstance(token, str):
        return "<a:r><a:t>" + _xml_escape(token) + "</a:t></a:r>"
    if token == ("br",):
        return "<a:br/>"
    if isinstance(token, tuple) and token and token[0] == "fld":
        return (
            '<a:fld id="{D038279B-0000-0000-0000-000000000000}" '
            'type="slidenum"><a:t>'
            + _xml_escape(token[1])
            + "</a:t></a:fld>"
        )
    raise ValueError(f"unknown PPTX run token {token!r}")


def _shape_xml(paragraphs: list[Any], name: str) -> str:
    body = "".join(
        "<a:p>"
        + "".join(
            _run_xml(t) for t in (p if isinstance(p, list) else [p])
        )
        + "</a:p>"
        for p in paragraphs
    )
    return (
        "<p:sp><p:nvSpPr>"
        f'<p:cNvPr id="2" name="{name}"/><p:cNvSpPr/><p:nvPr/>'
        "</p:nvSpPr><p:spPr/>"
        f"<p:txBody><a:bodyPr/><a:lstStyle/>{body}</p:txBody></p:sp>"
    )


# the package rels and the decoy notes slide are the same in every
# fixture package: built once per process
_PPTX_PKG_RELS = zip_member(
    "_rels/.rels",
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_REL_NS}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
    'org/officeDocument/2006/relationships/officeDocument" '
    'Target="ppt/presentation.xml"/></Relationships>'
)
_PPTX_NOTES = zip_member(
    "ppt/notesSlides/notesSlide1.xml",
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<p:notes xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
    "<p:cSld><p:spTree>"
    + _shape_xml(["never text (speaker notes)"], "Notes")
    + "</p:spTree></p:cSld></p:notes>"
)


def build_pptx(slides: list[Any]) -> bytes:
    """Fixture writer: a minimal conformant .pptx. Each entry is one
    slide — a list of paragraph entries (a string, or a list of run
    tokens: strings, ``("br",)``, ``("fld", text)``), or
    ``{"shapes": [[...], ...]}`` for a multi-shape slide whose
    paragraphs must surface in shape order. Slide PART NAMES are
    assigned in REVERSE (first presented slide gets the
    highest-numbered file) so the extractor's sldIdLst+rels walk is
    load-bearing; a notes-slide part with decoy text is planted and
    must never surface."""
    n = len(slides)
    slide_xmls: list[tuple[str, str]] = []  # (part name, xml)
    rel_entries: list[str] = []
    sld_ids: list[str] = []
    for k, entry in enumerate(slides):
        if isinstance(entry, dict):
            shapes = entry["shapes"]
        else:
            shapes = [entry]
        tree = "".join(
            _shape_xml(
                p if isinstance(p, list) else [p], f"Shape {j}"
            )
            for j, p in enumerate(shapes)
        )
        xml = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_P_NS}" xmlns:a="{_A_NS}" '
            f'xmlns:r="{_R_NS}">'
            "<p:cSld><p:spTree><p:nvGrpSpPr>"
            '<p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/>'
            "</p:nvGrpSpPr><p:grpSpPr/>"
            + tree
            + "</p:spTree></p:cSld></p:sld>"
        )
        part = f"ppt/slides/slide{n - k}.xml"
        rid = f"rId{k + 2}"
        slide_xmls.append((part, xml))
        rel_entries.append(
            f'<Relationship Id="{rid}" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/slide"
            f'" Target="slides/slide{n - k}.xml"/>'
        )
        sld_ids.append(f'<p:sldId id="{256 + k}" r:id="{rid}"/>')
    presentation = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_P_NS}" xmlns:r="{_R_NS}">'
        "<p:sldIdLst>" + "".join(sld_ids) + "</p:sldIdLst>"
        "</p:presentation>"
    )
    overrides = "".join(
        f'<Override PartName="/{part}" ContentType="application/vnd.'
        'openxmlformats-officedocument.presentationml.slide+xml"/>'
        for part, _ in slide_xmls
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/ppt/presentation.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.presentationml.'
        'presentation.main+xml"/>'
        '<Override PartName="/ppt/notesSlides/notesSlide1.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'presentationml.notesSlide+xml"/>' + overrides + "</Types>"
    )
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_REL_NS}">'
        + "".join(rel_entries)
        + '<Relationship Id="rId99" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/"
        'notesSlide" Target="notesSlides/notesSlide1.xml"/>'
        "</Relationships>"
    )
    return zip_package(
        (
            zip_member("[Content_Types].xml", content_types),
            _PPTX_PKG_RELS,
            zip_member("ppt/presentation.xml", presentation),
            zip_member("ppt/_rels/presentation.xml.rels", pres_rels),
            _PPTX_NOTES,
            *(zip_member(part, xml) for part, xml in slide_xmls),
        )
    )
