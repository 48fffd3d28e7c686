"""DOCX (OOXML WordprocessingML) extraction: run-scoped character
elements, table-cell paragraph order, escaping, and the Spark
explode wrapper."""

from __future__ import annotations

from xml.sax.saxutils import escape

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ccgp_data_wrangling_spark.sources.blobs import zip_member, zip_package
from ccgp_data_wrangling_spark.sources.docx import (
    build_docx,
    docx_documents,
    extract_docx_paragraphs,
)


def test_docx_paragraph_extraction():
    blob = build_docx(
        [
            "hello world",
            ["part", ("tab",), "A7", ("br",), "B3"],
            {"cells": ["c1", ["x", ("tab",), "y"]]},
            "",
            "trailing & <escaped>",
        ]
    )
    assert extract_docx_paragraphs(blob) == [
        "hello world",
        "part\tA7\nB3",
        "c1",
        "x\ty",
        "",
        "trailing & <escaped>",
    ]


def test_docx_tab_stop_definitions_do_not_leak():
    # every fixture paragraph carries a w:pPr/w:tabs/w:tab STOP
    # definition; only the in-run w:tab may become a character
    blob = build_docx(["plain"])
    assert b"<w:tabs>" in _document_xml(blob)
    assert extract_docx_paragraphs(blob) == ["plain"]


def _document_xml(blob: bytes) -> bytes:
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        return zf.read("word/document.xml")


def test_docx_preserved_whitespace_and_unicode():
    blob = build_docx([["  lead", ("tab",), "trail  "], "naïve — ünïcode"])
    assert extract_docx_paragraphs(blob) == [
        "  lead\ttrail  ",
        "naïve — ünïcode",
    ]


def test_docx_error_paths():
    with pytest.raises(ValueError, match="not a DOCX"):
        extract_docx_paragraphs(b"PK\x03\x04 garbage")
    # a real zip without the main part
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
    with pytest.raises(ValueError, match="word/document.xml"):
        extract_docx_paragraphs(buf.getvalue())
    with pytest.raises(ValueError, match="run token"):
        build_docx([[("bold", "x")]])


def test_docx_documents_explode(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [
                build_docx(["a", ["b", ("tab",), "c"]]),
                build_docx([{"cells": ["only"]}]),
            ],
        }
    )
    out = docx_documents(spark.createDataFrame(pdf)).collect()
    got = sorted((r.doc_id, r.para, r.text, r.n_chars) for r in out)
    assert got == [
        (1, 0, "a", 1),
        (1, 1, "b\tc", 3),
        (2, 0, "only", 4),
    ]


def test_docx_documents_bad_blob_names_its_row(spark):
    """An extractor failure inside the Arrow task names the blob's id,
    so one bad document in a corpus can be found."""
    df = spark.createDataFrame(
        [(1, bytearray(build_docx(["ok"]))), (7, bytearray(b"not a zip"))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception) as err:
        docx_documents(df).collect()
    assert "doc_id=7" in str(err.value)
    assert "not a DOCX" in str(err.value)


def _package(document_xml: str) -> bytes:
    return zip_package([zip_member("word/document.xml", document_xml)])


def test_docx_text_box_paragraph_surfaces_once():
    """A paragraph nested in a text box (w:r/w:pict/v:textbox/
    w:txbxContent/w:p) is its own paragraph, after its host; its runs
    are not the host's."""
    blob = _package(
        f'<w:document xmlns:w="{_W}" xmlns:v="urn:schemas-microsoft-com:vml">'
        "<w:body><w:p><w:r><w:pict><v:textbox><w:txbxContent>"
        "<w:p><w:r><w:t>inner</w:t></w:r></w:p>"
        "</w:txbxContent></v:textbox></w:pict></w:r>"
        "<w:r><w:t>outer</w:t></w:r></w:p></w:body></w:document>"
    )
    assert extract_docx_paragraphs(blob) == ["outer", "inner"]


def _reference_paragraphs(payload: bytes) -> list[str]:
    """Reference: the extractor before text boxes, which walked every
    run below a paragraph and every element below a run (so it counts
    a nested paragraph's text more than once)."""
    import io
    import zipfile
    from xml.etree import ElementTree as ET

    zf = zipfile.ZipFile(io.BytesIO(payload))
    with zf:
        root = ET.fromstring(zf.read("word/document.xml"))
    body = root.find(f"{{{_W}}}body")
    out: list[str] = []
    for p in body.iter(f"{{{_W}}}p"):
        parts: list[str] = []
        for r in p.iter(f"{{{_W}}}r"):
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


_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_TEXT = st.text(
    st.characters(codec="utf-8", exclude_categories=("Cc", "Cs", "Cn"), include_characters="\t\n"),
    max_size=6,
) | st.sampled_from(["&", "<a>", "x & <y>", "'\"", "naïve", "日本語", " pad "])
_RUN = st.lists(
    _TEXT.map(lambda t: f'<w:t xml:space="preserve">{escape(t)}</w:t>')
    | st.sampled_from(["<w:tab/>", "<w:br/>", "<w:cr/>", "<w:t/>", "<w:rPr><w:b/></w:rPr>"]),
    max_size=4,
).map(lambda cs: "<w:r>" + "".join(cs) + "</w:r>")
_PARA = st.builds(
    lambda ppr, runs, link: (
        f"<w:p>{ppr}"
        + ("<w:hyperlink>" + "".join(runs) + "</w:hyperlink>" if link else "".join(runs))
        + "</w:p>"
    ),
    st.sampled_from(["", '<w:pPr><w:tabs><w:tab w:val="left" w:pos="720"/></w:tabs></w:pPr>']),
    st.lists(_RUN, max_size=4),
    st.booleans(),
)
_TABLE = st.lists(
    st.lists(st.lists(_PARA, min_size=1, max_size=2), min_size=1, max_size=3),
    min_size=1,
    max_size=2,
).map(
    lambda rows: "<w:tbl>"
    + "".join(
        "<w:tr>" + "".join("<w:tc>" + "".join(c) + "</w:tc>" for c in cells) + "</w:tr>"
        for cells in rows
    )
    + "</w:tbl>"
)


@given(st.lists(_PARA | _TABLE, max_size=6))
@settings(max_examples=200, deadline=None)
def test_docx_extractor_matches_reference(blocks):
    """Without nested paragraphs, the extractor gives the reference's
    paragraphs: tabs, breaks, table cells, XML specials, non-ASCII
    text, empty paragraphs and tab-stop definitions."""
    blob = _package(
        f'<w:document xmlns:w="{_W}"><w:body>' + "".join(blocks) + "<w:sectPr/></w:body></w:document>"
    )
    assert extract_docx_paragraphs(blob) == _reference_paragraphs(blob)
