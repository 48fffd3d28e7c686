"""The template zip writer (``sources/blobs.zip_member``/``zip_package``)
behind every zip-based fixture writer: byte-stable packages that
stdlib ``zipfile`` reads back, with each format's member order and
compression methods."""

from __future__ import annotations

import hashlib
import io
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import pytest

from ccgp_data_wrangling_spark.sources.blobs import zip_member, zip_package
from ccgp_data_wrangling_spark.sources.docx import build_docx, docx_documents
from ccgp_data_wrangling_spark.sources.epub import build_epub
from ccgp_data_wrangling_spark.sources.odp import build_odp
from ccgp_data_wrangling_spark.sources.ods import build_ods
from ccgp_data_wrangling_spark.sources.odt import build_odt
from ccgp_data_wrangling_spark.sources.pptx import build_pptx
from ccgp_data_wrangling_spark.sources.xlsx import write_xlsx

_REPO = Path(__file__).resolve().parents[1]

# one fixture per format, built here and in a fresh interpreter
_FIXTURES = {
    "docx": lambda: build_docx(["a", ["b", ("tab",), "c"], {"cells": ["x", "y"]}]),
    "pptx": lambda: build_pptx([["one"], {"shapes": [["two"], ["three"]]}]),
    "odt": lambda: build_odt(["p1", "p2"]),
    "odp": lambda: build_odp([[["visible"]], [["two"]]]),
    "ods": lambda: build_ods([("Sheet1", [["a", 1], ["b", 2.5]])]),
    "epub": lambda: build_epub([["chapter one"], ["chapter two"]]),
    "xlsx": lambda: _xlsx_bytes({"S": [["a", 1], [None, "b"]], "T": [["c"]]}),
}

_ODF = [("mimetype", zipfile.ZIP_STORED), ("META-INF/manifest.xml", zipfile.ZIP_DEFLATED)]
_MEMBERS = {
    "docx": ["[Content_Types].xml", "_rels/.rels", "word/document.xml"],
    "pptx": [
        "[Content_Types].xml",
        "_rels/.rels",
        "ppt/presentation.xml",
        "ppt/_rels/presentation.xml.rels",
        "ppt/notesSlides/notesSlide1.xml",
        "ppt/slides/slide2.xml",
        "ppt/slides/slide1.xml",
    ],
    "odt": _ODF + ["content.xml"],
    "odp": _ODF + ["content.xml"],
    "ods": _ODF + ["content.xml"],
    "epub": [
        ("mimetype", zipfile.ZIP_STORED),
        "META-INF/container.xml",
        "OEBPS/package.opf",
        "OEBPS/text/ch1.xhtml",
        "OEBPS/text/ch0.xhtml",
    ],
    "xlsx": [
        (name, zipfile.ZIP_STORED)
        for name in (
            "xl/workbook.xml",
            "xl/_rels/workbook.xml.rels",
            "xl/worksheets/sheet1.xml",
            "xl/worksheets/sheet2.xml",
            "xl/sharedStrings.xml",
        )
    ],
}


def _xlsx_bytes(sheets: dict) -> bytes:
    with tempfile.TemporaryDirectory() as d:
        path = Path(d) / "t.xlsx"
        write_xlsx(str(path), sheets)
        return path.read_bytes()


def _build(fmt: str) -> bytes:
    return _FIXTURES[fmt]()


@pytest.mark.parametrize("fmt", sorted(_FIXTURES))
def test_fixture_members_order_and_methods(fmt):
    """Repeated calls give the same bytes; zipfile reads every member
    back with its CRC, in each format's order and compression method
    (ODF/EPUB ``mimetype`` first and stored, xlsx stored, the rest
    deflated)."""
    blob = _build(fmt)
    assert _build(fmt) == blob
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert zf.testzip() is None
        got = [(i.filename, i.compress_type) for i in zf.infolist()]
        assert {i.date_time for i in zf.infolist()} == {(1980, 1, 1, 0, 0, 0)}
    want = [m if isinstance(m, tuple) else (m, zipfile.ZIP_DEFLATED) for m in _MEMBERS[fmt]]
    assert got == want


def test_fixtures_byte_identical_across_processes():
    """No clock, hash seed or process state reaches a package's bytes."""
    digest = {f: hashlib.sha256(_build(f)).hexdigest() for f in _FIXTURES}
    script = (
        "import hashlib\n"
        "from tests.test_zip_package import _FIXTURES, _build\n"
        "for f in sorted(_FIXTURES): print(f, hashlib.sha256(_build(f)).hexdigest())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=_REPO, capture_output=True, text=True, check=True,
    ).stdout
    assert dict(line.split() for line in out.splitlines()) == digest


def test_zip_package_round_trip():
    text = "naïve <x> & ü" * 50
    blob = zip_package(
        [
            zip_member("mimetype", "application/epub+zip", deflate=False),
            zip_member("a/b.xml", text),
            zip_member("empty", b""),
        ]
    )
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert zf.testzip() is None
        assert zf.read("a/b.xml").decode() == text
        assert zf.read("mimetype") == b"application/epub+zip"
        assert zf.read("empty") == b""
        assert blob[30:38] == b"mimetype"  # first local header's name
    assert zip_package([]) == b"PK\x05\x06" + bytes(18)


def test_flipped_deflated_byte_names_its_doc(spark):
    """A corrupt deflated member fails the Arrow task with the
    ValueError that names the blob's id."""
    blob = bytearray(build_docx(["some text that deflates"] * 8))
    with zipfile.ZipFile(io.BytesIO(bytes(blob))) as zf:
        info = zf.getinfo("word/document.xml")
    data_at = info.header_offset + 30 + len(info.filename)
    blob[data_at + info.compress_size // 2] ^= 0xFF
    df = spark.createDataFrame(
        [(1, bytearray(build_docx(["ok"]))), (7, blob)], "doc_id long, payload binary"
    )
    with pytest.raises(Exception) as err:
        docx_documents(df).collect()
    assert "ValueError: doc_id=7: " in str(err.value)
