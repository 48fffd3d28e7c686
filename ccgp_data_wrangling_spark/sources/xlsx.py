"""Dependency-free xlsx (OOXML SpreadsheetML) reader.

The reference parses submitted Excel sheets with ``pd.read_excel``
(utils/parse.py:167,228-230; coordinate_handling/coordinate_assign_1.py:30),
which needs openpyxl — not shipped in this environment. An .xlsx file
is just a ZIP of XML parts (ECMA-376), so this module reads the three
parts that matter with the stdlib only:

* ``xl/workbook.xml``          — sheet names → relationship ids
* ``xl/_rels/workbook.xml.rels`` — relationship ids → worksheet parts
* ``xl/sharedStrings.xml``     — the shared-string table (``t="s"`` cells)
* ``xl/worksheets/sheetN.xml`` — rows/cells (``<c r="B3" t="s"><v>…``)

Everything is returned as strings (or None for absent cells), matching
the reference's ``dtype="str"`` reads: submitted metadata sheets are
string-typed by contract and typed later by the cleaning pipeline (X1-X6).

Scale note: submitted spreadsheets are small per-file (hundreds of
rows); parsing is driver-side by design, exactly like the reference.
The distributed path starts at ``spark.createDataFrame`` in
``ingest.read_submitted_sheet``.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

from ccgp_data_wrangling_spark.sources.blobs import zip_member, zip_package

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 … (base-26 bijective numeration)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out = []
    for si in root.findall(f"{_NS}si"):
        # plain <si><t>…</t></si> or rich-text runs <si><r><t>…</t></r>…
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_part(zf: zipfile.ZipFile, sheet: str | int) -> str:
    """Resolve a sheet name (or 0-based index) to its zip part path."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    targets = {
        r.get("Id"): r.get("Target") for r in rels.findall(f"{_REL_NS}Relationship")
    }
    sheets = wb.find(f"{_NS}sheets").findall(f"{_NS}sheet")
    if isinstance(sheet, int):
        if sheet >= len(sheets):
            raise ValueError(f"xlsx has {len(sheets)} sheets, asked for #{sheet}")
        node = sheets[sheet]
    else:
        by_name = {s.get("name"): s for s in sheets}
        if sheet not in by_name:
            raise ValueError(f"no sheet named {sheet!r}; have {sorted(by_name)}")
        node = by_name[sheet]
    target = targets[node.get(_RID_ATTR)]
    return target if target.startswith("xl/") else f"xl/{target}"


def _cell_value(c: ET.Element, strings: list[str]) -> str | None:
    kind = c.get("t", "n")
    if kind == "inlineStr":
        is_node = c.find(f"{_NS}is")
        if is_node is None:
            return None
        return "".join(t.text or "" for t in is_node.iter(f"{_NS}t"))
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if kind == "s":
        return strings[int(v.text)]
    if kind == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    return v.text  # n / str / e: keep the literal representation


def xlsx_rows(path: str, *, sheet: str | int = 0) -> list[list[str | None]]:
    """Read one worksheet into a dense list-of-rows of strings/None.

    Rows are padded to the max observed width; gaps (cells Excel did
    not serialize) are None — the same shape ``pd.read_excel(...,
    dtype=str)`` would hand the reference's probe loop.
    """
    with zipfile.ZipFile(path) as zf:
        strings = _shared_strings(zf)
        part = _sheet_part(zf, sheet)
        root = ET.fromstring(zf.read(part))
    rows: list[list[str | None]] = []
    width = 0
    sheet_data = root.find(f"{_NS}sheetData")
    if sheet_data is None:
        return []
    for row in sheet_data.findall(f"{_NS}row"):
        r_num = int(row.get("r", len(rows) + 1))
        while len(rows) < r_num - 1:  # rows Excel skipped entirely
            rows.append([])
        cells: list[str | None] = []
        for c in row.findall(f"{_NS}c"):
            ref = c.get("r")
            if ref is not None:
                m = _CELL_REF.match(ref)
                idx = _col_index(m.group(1)) if m else len(cells)
            else:
                idx = len(cells)
            while len(cells) < idx:
                cells.append(None)
            cells.append(_cell_value(c, strings))
        rows.append(cells)
        width = max(width, len(cells))
    return [r + [None] * (width - len(r)) for r in rows]


# ---------------------------------------------------------------------------
# Writer — the export dual of the reader (and the fixture builder the
# driver-verified S4 queries use to exercise the xlsx probe loop on a
# real OOXML container). Same stdlib-only stance: an xlsx is a ZIP of
# SpreadsheetML parts. Small report-sized sheets only (driver-side by
# design, like every submitted-sheet surface in the reference).
# ---------------------------------------------------------------------------

_WB_XML = (
    '<?xml version="1.0"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    "<sheets>{sheets}</sheets></workbook>"
)
_RELS_XML = (
    '<?xml version="1.0"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
    'relationships">{rels}</Relationships>'
)
_SHEET_XML = (
    '<?xml version="1.0"?>'
    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    "<sheetData>{rows}</sheetData></worksheet>"
)


def _col_ref(i: int) -> str:
    """0→'A', 25→'Z', 26→'AA' (inverse of :func:`_col_index`)."""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path: str, sheets: dict[str, list[list]]) -> None:
    """Write a minimal valid xlsx: str cells → shared strings, numbers
    → inline ``t="n"``, None → cell omitted (Excel's own sparse
    serialization). Round-trips through :func:`xlsx_rows`.
    """
    strings: list[str] = []
    sidx: dict[str, int] = {}

    def cell_xml(r: int, c: int, v) -> str:
        ref = f"{_col_ref(c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, str):
            if v not in sidx:
                sidx[v] = len(strings)
                strings.append(v)
            return f'<c r="{ref}" t="s"><v>{sidx[v]}</v></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    sheet_xml = {}
    for name, rows in sheets.items():
        rx = "".join(
            f'<row r="{r + 1}">'
            + "".join(cell_xml(r, c, v) for c, v in enumerate(row))
            + "</row>"
            for r, row in enumerate(rows)
            if row  # empty list → row skipped entirely
        )
        sheet_xml[name] = _SHEET_XML.format(rows=rx)

    names = list(sheets)
    ss = "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in strings)
    members = [
        (
            "xl/workbook.xml",
            _WB_XML.format(
                sheets="".join(
                    f'<sheet name="{_xml_escape(n)}" sheetId="{i + 1}" '
                    f'r:id="rId{i + 1}"/>'
                    for i, n in enumerate(names)
                )
            ),
        ),
        (
            "xl/_rels/workbook.xml.rels",
            _RELS_XML.format(
                rels="".join(
                    f'<Relationship Id="rId{i + 1}" Type="x" '
                    f'Target="worksheets/sheet{i + 1}.xml"/>'
                    for i in range(len(names))
                )
            ),
        ),
        *(
            (f"xl/worksheets/sheet{i + 1}.xml", sheet_xml[n])
            for i, n in enumerate(names)
        ),
        (
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
            f'spreadsheetml/2006/main">{ss}</sst>',
        ),
    ]
    with open(path, "wb") as f:
        f.write(zip_package(zip_member(n, xml, deflate=False) for n, xml in members))
