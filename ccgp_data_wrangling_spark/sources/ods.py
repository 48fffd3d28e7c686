"""ODS (OpenDocument Spreadsheet, OASIS ODF 1.2) cell extraction —
the spreadsheet sibling of :mod:`sources/odt` on the same ODF zip
walk, extending the tabular-ingest family (:mod:`sources/xlsx`,
:mod:`sources/xls`) to the OpenDocument side.

``content.xml`` carries sheets under ``office:body/
office:spreadsheet`` as ``table:table`` elements (ODF 1.2 Part 1
§9.1): rows are ``table:table-row``, cells ``table:table-cell`` with
a typed value model (§19.385 ``office:value-type``) — the NUMERIC
value lives in ``office:value`` (or ``office:boolean-value`` /
``office:date-value``) while the DISPLAY text is the cell's nested
``text:p`` paragraphs. Both surface: pipelines want the typed value,
header discovery wants the text. ``table:number-columns-repeated`` /
``table:number-rows-repeated`` run-length encode the grid (§9.1.3);
expansion is bounded to populated cells so the 16384-column filler
run real writers emit never explodes, and populated-cell expansion
itself is capped per sheet (``_MAX_POPULATED_CELLS``) so a crafted
repeat count on a populated cell raises instead of exhausting
memory.

Scope (documented, not gated): only ``content.xml`` is read; formulas
surface through their cached value + display text (``table:formula``
is carried as a string column, not evaluated).

Reference behavior parity: extends the reference's spreadsheet-ingest
surface (cademirch/ccgp-data-wrangling ``utils/gsheets.py:29-54``
reads sample sheets through gspread) to local OpenDocument files.
"""

from __future__ import annotations

import io
import zipfile
from typing import Any
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs

from ccgp_data_wrangling_spark.sources.odt import _para_text, odf_package

_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_TABLE_NS = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"

ODS_CELL_SCHEMA = (
    "doc_id long, sheet int, sheet_name string, row int, col int, "
    "value_type string, text string, number double, formula string"
)


def _cell_record(cell: ET.Element) -> dict[str, Any] | None:
    """One populated cell → {value_type, text, number, formula};
    None for an empty positioning cell."""
    vtype = cell.get(f"{{{_OFFICE_NS}}}value-type")
    paras = [
        _para_text(p) for p in cell if p.tag == f"{{{_TEXT_NS}}}p"
    ]
    text = "\n".join(paras)
    if vtype is None and not text:
        return None
    number = None
    if vtype in ("float", "percentage", "currency"):
        raw = cell.get(f"{{{_OFFICE_NS}}}value")
        if raw is None:
            raise ValueError(f"{vtype} cell carries no office:value")
        number = float(raw)
    elif vtype == "boolean":
        raw = cell.get(f"{{{_OFFICE_NS}}}boolean-value")
        number = 1.0 if raw == "true" else 0.0
    return {
        "value_type": vtype or "string",
        "text": text,
        "number": number,
        "formula": cell.get(f"{{{_TABLE_NS}}}formula"),
    }


# Populated-cell expansion ceiling per sheet: empty-cell repeats cost
# nothing, but a POPULATED cell with a huge number-rows-repeated ×
# number-columns-repeated (crafted or degenerate writer output) would
# materialize rrep·crep dicts; refuse past this rather than exhaust
# executor memory.
_MAX_POPULATED_CELLS = 1_000_000


def extract_ods_cells(payload: bytes) -> list[dict[str, Any]]:
    """One dict per POPULATED cell in (sheet, row, col) order:
    {sheet, sheet_name, row, col, value_type, text, number,
    formula}. Repeated rows/columns expand only when populated, and
    populated expansion is capped at ``_MAX_POPULATED_CELLS`` per
    sheet (a clear ``ValueError``, never memory exhaustion)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not an ODS package: {exc}") from exc
    with zf:
        if "content.xml" not in zf.namelist():
            raise ValueError("not an ODS package (missing content.xml)")
        root = ET.fromstring(zf.read("content.xml"))
    body = root.find(f"{{{_OFFICE_NS}}}body")
    spread = (
        body.find(f"{{{_OFFICE_NS}}}spreadsheet")
        if body is not None
        else None
    )
    if spread is None:
        raise ValueError(
            "ODS content.xml has no office:body/office:spreadsheet"
        )
    out: list[dict[str, Any]] = []
    for si, table in enumerate(
        spread.findall(f"{{{_TABLE_NS}}}table")
    ):
        name = table.get(f"{{{_TABLE_NS}}}name", f"Sheet{si + 1}")
        ri = 0
        sheet_cells = 0
        for row in table.findall(f"{{{_TABLE_NS}}}table-row"):
            rrep = int(
                row.get(f"{{{_TABLE_NS}}}number-rows-repeated", "1")
            )
            cells: list[tuple[int, dict[str, Any]]] = []
            ci = 0
            for cell in row:
                tag = cell.tag.rsplit("}", 1)[-1]
                if tag not in ("table-cell", "covered-table-cell"):
                    continue
                crep = int(
                    cell.get(
                        f"{{{_TABLE_NS}}}number-columns-repeated", "1"
                    )
                )
                rec = (
                    None if tag == "covered-table-cell"
                    else _cell_record(cell)
                )
                if rec is not None:
                    for k in range(crep):
                        cells.append((ci + k, rec))
                ci += crep
            if cells:
                sheet_cells += rrep * len(cells)
                if sheet_cells > _MAX_POPULATED_CELLS:
                    raise ValueError(
                        f"ODS sheet {name!r} expands to over "
                        f"{_MAX_POPULATED_CELLS} populated cells "
                        f"(rows-repeated x columns-repeated on "
                        f"populated cells); refusing to materialize"
                    )
                for rk in range(rrep):
                    for col, rec in cells:
                        out.append(
                            {
                                "sheet": si,
                                "sheet_name": name,
                                "row": ri + rk,
                                "col": col,
                                **rec,
                            }
                        )
            ri += rrep
    return out


def ods_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode ODS blobs into one row per populated cell — one
    :func:`explode_blobs` pass (the key order of each
    :func:`extract_ods_cells` record is the schema's column order)."""
    return explode_blobs(
        df,
        lambda b: (tuple(rec.values()) for rec in extract_ods_cells(b)),
        ODS_CELL_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _cell_xml(entry: Any) -> str:
    """Fixture cell → ODF markup: a float writes the typed value AND
    a display paragraph; a string writes value-type string; None is
    an empty positioning cell; ("rep", n, entry) repeats; ("formula",
    expr, value) writes a cached formula cell."""
    if entry is None:
        return "<table:table-cell/>"
    if isinstance(entry, tuple) and entry[0] == "rep":
        inner = _cell_xml(entry[2])
        return inner.replace(
            "<table:table-cell",
            f'<table:table-cell table:number-columns-repeated='
            f'"{int(entry[1])}"',
            1,
        )
    if isinstance(entry, tuple) and entry[0] == "covered":
        # merged-range shadow cells (§9.1.5): pure positioning, never
        # emitted by extraction
        return (
            f'<table:covered-table-cell '
            f'table:number-columns-repeated="{int(entry[1])}"/>'
        )
    if isinstance(entry, tuple) and entry[0] == "num":
        # typed float with an INDEPENDENT display string — real
        # writers format numbers through styles, so display text and
        # office:value routinely disagree
        _, value, display = entry
        return (
            '<table:table-cell office:value-type="float" '
            f'office:value="{float(value)!r}">'
            f"<text:p>{_xml_escape(display)}</text:p>"
            "</table:table-cell>"
        )
    if isinstance(entry, tuple) and entry[0] == "formula":
        _, expr, value = entry
        return (
            f'<table:table-cell table:formula="{_xml_escape(expr)}" '
            f'office:value-type="float" office:value="{value!r}">'
            f"<text:p>{_xml_escape(str(value))}</text:p>"
            "</table:table-cell>"
        )
    if isinstance(entry, bool):
        return (
            '<table:table-cell office:value-type="boolean" '
            f'office:boolean-value="{"true" if entry else "false"}">'
            f"<text:p>{'TRUE' if entry else 'FALSE'}</text:p>"
            "</table:table-cell>"
        )
    if isinstance(entry, (int, float)):
        return (
            '<table:table-cell office:value-type="float" '
            f'office:value="{float(entry)!r}">'
            f"<text:p>{_xml_escape(str(entry))}</text:p>"
            "</table:table-cell>"
        )
    return (
        '<table:table-cell office:value-type="string">'
        f"<text:p>{_xml_escape(str(entry))}</text:p>"
        "</table:table-cell>"
    )


def build_ods(sheets: list[tuple[str, list[Any]]]) -> bytes:
    """Fixture writer: a minimal conformant .ods (stored-first
    mimetype, manifest, content.xml). ``sheets`` is a list of
    (name, rows); each row is a list of cells (see :func:`_cell_xml`)
    or ``("rows", n, row)`` repeating a populated row."""
    tables: list[str] = []
    for name, rows in sheets:
        parts = [f'<table:table table:name="{_xml_escape(name)}">']
        for row in rows:
            if isinstance(row, tuple) and row[0] == "rows":
                parts.append(
                    f"<table:table-row "
                    f'table:number-rows-repeated="{int(row[1])}">'
                    + "".join(_cell_xml(c) for c in row[2])
                    + "</table:table-row>"
                )
            else:
                parts.append(
                    "<table:table-row>"
                    + "".join(_cell_xml(c) for c in row)
                    + "</table:table-row>"
                )
        parts.append("</table:table>")
        tables.append("".join(parts))
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE_NS}" '
        f'xmlns:text="{_TEXT_NS}" xmlns:table="{_TABLE_NS}" '
        'office:version="1.2"><office:body><office:spreadsheet>'
        + "".join(tables)
        + "</office:spreadsheet></office:body></office:document-content>"
    )
    return odf_package(
        "application/vnd.oasis.opendocument.spreadsheet", content
    )
