"""EPUB text extraction — the packaged-web-document container in the
corpus-ingest family (:mod:`sources/pdf`, :mod:`sources/docx`,
:mod:`sources/odt` cover the print-oriented formats).

An .epub file is an OCF zip (EPUB 3.x / IDPF OCF): ``mimetype``
first, ``META-INF/container.xml`` pointing at the package document
(``.opf``), whose **manifest** lists content files and whose
**spine** fixes reading order. Content documents are XHTML —
well-formed XML, so everything here is stdlib (``zipfile`` +
``xml.etree``). Extraction walks the spine in order:

* block-level elements (``p``, ``h1``–``h6``, ``li``, ``td``,
  ``blockquote``, ``figcaption``, ``dt``, ``dd``) each yield one
  paragraph: their text content flattened with inline markup
  (``em``/``strong``/``span``/``a``…) transparent and ``<br/>``
  rendered as a newline;
* ``script``/``style`` subtrees never contribute text;
* nested block elements attribute text to the INNERMOST block (an
  ``li`` inside a ``div`` is its own paragraph, not part of the
  div's), matching how a text pipeline wants one row per visual
  paragraph.

Scope (documented, not gated): navigation documents (``nav.xhtml``)
ride the spine like any chapter; fixed-layout/CSS semantics and
non-XHTML resources (images, fonts) are ignored.

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; north-star corpus surface as with PDF/DOCX.
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

_CONTAINER_NS = "urn:oasis:names:tc:opendocument:xmlns:container"
_OPF_NS = "http://www.idpf.org/2007/opf"
_XHTML_NS = "http://www.w3.org/1999/xhtml"

EPUB_PARA_SCHEMA = (
    "doc_id long, chapter int, para int, text string, n_chars int"
)

_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "blockquote", "figcaption", "dt", "dd", "caption", "pre",
}

_SKIP_TAGS = {"script", "style"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _flatten(el: ET.Element, parts: list[str]) -> None:
    """Inline flatten: text + children + tails, <br/> → newline,
    script/style dropped, nested BLOCK elements skipped here (they
    become their own paragraphs)."""
    if el.text:
        parts.append(el.text)
    for child in el:
        tag = _local(child.tag)
        if tag == "br":
            parts.append("\n")
        elif tag not in _SKIP_TAGS and tag not in _BLOCK_TAGS:
            _flatten(child, parts)
        if child.tail:
            parts.append(child.tail)


def _paragraphs(root: ET.Element) -> list[str]:
    """One string per innermost block element, document order."""
    out: list[str] = []

    def _has_block(el: ET.Element) -> bool:
        return any(
            c is not el and _local(c.tag) in _BLOCK_TAGS
            for c in el.iter()
        )

    def walk(el: ET.Element) -> None:
        tag = _local(el.tag)
        if tag in _SKIP_TAGS:
            return
        if tag in _BLOCK_TAGS:
            if not _has_block(el):
                parts: list[str] = []
                _flatten(el, parts)
                out.append("".join(parts))
                return
            # Mixed content (<li>intro<ul>…</ul>after</li>): direct
            # character data around the nested blocks becomes its own
            # paragraph run, document order preserved.
            run: list[str] = []

            def flush() -> None:
                s = "".join(run)
                if s.strip():
                    out.append(s)
                run.clear()

            def mixed(cur: ET.Element) -> None:
                # Shared by the block itself and any inline wrapper
                # that contains a nested block (<li>a<em>b<ul/>c</em>
                # d</li>): leading text and inline runs join the
                # current paragraph run; nested blocks flush it and
                # become their own paragraphs; tails resume the run.
                if cur.text:
                    run.append(cur.text)
                for child in cur:
                    ctag = _local(child.tag)
                    if ctag in _SKIP_TAGS:
                        pass
                    elif ctag in _BLOCK_TAGS:
                        flush()
                        walk(child)
                    elif _has_block(child):
                        mixed(child)
                    elif ctag == "br":
                        run.append("\n")
                    else:
                        _flatten(child, run)
                    if child.tail:
                        run.append(child.tail)

            mixed(el)
            flush()
            return
        for child in el:
            walk(child)

    body = root.find(f"{{{_XHTML_NS}}}body")
    if body is None:
        raise ValueError("XHTML content document has no body")
    walk(body)
    return out


def extract_epub_chapters(payload: bytes) -> list[list[str]]:
    """Spine-ordered chapters, each a list of paragraph strings."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not an EPUB package: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "META-INF/container.xml" not in names:
            raise ValueError(
                "not an EPUB package (missing META-INF/container.xml)"
            )
        container = ET.fromstring(zf.read("META-INF/container.xml"))
        rootfile = container.find(
            f"{{{_CONTAINER_NS}}}rootfiles/"
            f"{{{_CONTAINER_NS}}}rootfile"
        )
        if rootfile is None:
            raise ValueError("container.xml names no rootfile")
        opf_path = rootfile.get("full-path")
        if opf_path not in names:
            raise ValueError(f"package document {opf_path!r} missing")
        opf = ET.fromstring(zf.read(opf_path))
        base = posixpath.dirname(opf_path)
        manifest = {
            item.get("id"): item.get("href")
            for item in opf.iter(f"{{{_OPF_NS}}}item")
        }
        chapters: list[list[str]] = []
        for ref in opf.iter(f"{{{_OPF_NS}}}itemref"):
            href = manifest.get(ref.get("idref"))
            if href is None:
                raise ValueError(
                    f"spine idref {ref.get('idref')!r} not in manifest"
                )
            path = posixpath.normpath(posixpath.join(base, href))
            if path not in names:
                raise ValueError(f"spine document {path!r} missing")
            root = ET.fromstring(zf.read(path))
            chapters.append(_paragraphs(root))
    return chapters


def epub_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode EPUB blobs into one row per (chapter, paragraph) —
    one :func:`explode_blobs` pass."""

    def rows_of(blob: bytes) -> Iterator[tuple]:
        for ch, paras in enumerate(extract_epub_chapters(blob)):
            for row in text_rows(paras):
                yield (ch, *row)

    return explode_blobs(
        df,
        rows_of,
        EPUB_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _para_markup(entry: Any) -> str:
    """Fixture paragraph → XHTML: a string becomes ``<p>`` with its
    SECOND HALF wrapped in ``<em>`` (inline flattening is
    load-bearing); tuples choose the block: ``("h1", s)``,
    ``("li", [s, ...])`` (a list per bullet), ``("brp", a, b)`` (a
    ``<p>`` with a ``<br/>``)."""
    if isinstance(entry, str):
        cut = len(entry) // 2
        return (
            "<p>"
            + _xml_escape(entry[:cut])
            + "<em>"
            + _xml_escape(entry[cut:])
            + "</em></p>"
        )
    kind = entry[0]
    if kind in ("h1", "h2", "h3"):
        return f"<{kind}>" + _xml_escape(entry[1]) + f"</{kind}>"
    if kind == "li":
        items = "".join(
            "<li>" + _xml_escape(s) + "</li>" for s in entry[1]
        )
        return f"<ul>{items}</ul>"
    if kind == "brp":
        return (
            "<p>"
            + _xml_escape(entry[1])
            + "<br/>"
            + _xml_escape(entry[2])
            + "</p>"
        )
    raise ValueError(f"unknown EPUB fixture entry {entry!r}")


# mimetype first and stored (OCF 3.0 §4.3), then the container
# document: the same in every package, built once per process
_EPUB_HEAD = (
    zip_member("mimetype", "application/epub+zip", deflate=False),
    zip_member(
        "META-INF/container.xml",
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<container xmlns="{_CONTAINER_NS}" version="1.0">'
        '<rootfiles><rootfile full-path="OEBPS/package.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>",
    ),
)


def build_epub(chapters: list[list[Any]]) -> bytes:
    """Fixture writer: a minimal conformant EPUB 3 (OCF zip with the
    stored-first mimetype, container.xml, package.opf whose spine
    orders one XHTML document per chapter). Chapter k's manifest id
    deliberately differs from its filename ordering so spine
    resolution is exercised (documents are STORED in reverse)."""
    docs: list[str] = []
    for paras in chapters:
        body = "".join(_para_markup(p) for p in paras)
        docs.append(
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<html xmlns="{_XHTML_NS}"><head><title>c</title>'
            "<style>p { color: red }</style>"
            '<script>var x = "never text";</script></head>'
            f"<body>{body}</body></html>"
        )
    items = "".join(
        f'<item id="c{k}" href="text/ch{k}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for k in range(len(docs))
    )
    refs = "".join(
        f'<itemref idref="c{k}"/>' for k in range(len(docs))
    )
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<package xmlns="{_OPF_NS}" version="3.0" '
        'unique-identifier="uid">'
        '<metadata><dc:identifier xmlns:dc='
        '"http://purl.org/dc/elements/1.1/" id="uid">fixture'
        "</dc:identifier></metadata>"
        f"<manifest>{items}</manifest>"
        f"<spine>{refs}</spine></package>"
    )
    return zip_package(
        (
            *_EPUB_HEAD,
            zip_member("OEBPS/package.opf", opf),
            *(
                zip_member(f"OEBPS/text/ch{k}.xhtml", docs[k])
                for k in reversed(range(len(docs)))
            ),
        )
    )
