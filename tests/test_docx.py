"""DOCX (OOXML WordprocessingML) extraction: run-scoped character
elements, table-cell paragraph order, escaping, and the Spark
explode wrapper."""

from __future__ import annotations

import pytest

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
