"""Standalone HTML text extraction — loose ``.html`` files for
non-WARC corpora, sharing the deterministic tag-strip approach of
:func:`sources.warc.html_to_text` but upgraded to a document-family
extractor: script/style/comment removal, ``<title>`` capture,
block-level paragraph segmentation, and HTML entity unescaping.

Order of operations matters and is pinned by tests: comments go
first (a commented-out ``<script>`` must not hide later markup),
then script/style elements WITH their content, then the head is cut
(after ``<title>`` capture), block-level open/close tags become
paragraph boundaries, remaining inline tags collapse to spaces, and
entities unescape LAST so ``&lt;p&gt;`` surfaces as literal text
rather than re-parsing as a tag.

Reference behavior parity: cademirch/ccgp-data-wrangling has no web
corpus layer; this is the loose-file sibling of sources/warc.py for
LLM-pipeline ingest.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html import unescape
from typing import Any

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, text_rows

HTML_PARA_SCHEMA = (
    "doc_id long, para int, title string, text string, n_chars int"
)

_COMMENT = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_STYLE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I
)
_TITLE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.S | re.I)
_HEAD = re.compile(r"<head\b[^>]*>.*?</head\s*>", re.S | re.I)
_BODY_OPEN = re.compile(r"<body\b[^>]*>", re.I)
_BLOCK = re.compile(
    r"</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead|tbody"
    r"|blockquote|pre|section|article|aside|nav|header|footer|figure"
    r"|figcaption|form|fieldset|hr|br)\b[^>]*/?>",
    re.I,
)
_TAG = re.compile(r"<[^>]*>")


def extract_html(payload: bytes) -> tuple[str, list[str]]:
    """→ (title, paragraphs). Paragraphs split at block-level tag
    boundaries, whitespace-collapsed, entity-unescaped, empties
    dropped."""
    txt = payload.decode("utf-8", "replace")
    txt = _COMMENT.sub(" ", txt)
    txt = _SCRIPT_STYLE.sub(" ", txt)
    tm = _TITLE.search(txt)
    title = unescape(" ".join(tm.group(1).split())) if tm else ""
    bm = _BODY_OPEN.search(txt)
    body = txt[bm.end():] if bm else _HEAD.sub(" ", txt)
    body = _BLOCK.sub("\x00", body)
    body = _TAG.sub(" ", body)
    paras: list[str] = []
    for chunk in body.split("\x00"):
        s = unescape(" ".join(chunk.split()))
        if s:
            paras.append(s)
    return title, paras


def html_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode loose HTML blobs into one row per paragraph, the page
    title carried on every row — one :func:`explode_blobs` pass."""

    def rows_of(blob: bytes) -> Iterator[tuple]:
        title, paras = extract_html(blob)
        for k, text, n_chars in text_rows(paras):
            yield (k, title, text, n_chars)

    return explode_blobs(
        df,
        rows_of,
        HTML_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def build_html(title: str, paragraphs: list[str]) -> bytes:
    """Fixture writer: one page with a head (title + a style block
    and a commented-out script, both decoys that must never leak)
    and one ``<p>`` per paragraph, entity-escaped."""
    body = "".join(f"<p>{_esc(p)}</p>" for p in paragraphs)
    page = (
        "<!DOCTYPE html><html><head>"
        f"<title>{_esc(title)}</title>"
        "<style>p { color: never-text; }</style>"
        "<!-- <script>var never = 'text';</script> -->"
        '<script type="text/javascript">console.log("never text");'
        "</script>"
        "</head><body>"
        f"{body}"
        "</body></html>"
    )
    return page.encode("utf-8")
