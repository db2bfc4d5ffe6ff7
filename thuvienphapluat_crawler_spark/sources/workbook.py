"""Multi-sheet workbook scan (SURVEY §2.1 S8; reference: format_xls.py:182-186
`pd.read_excel(sheet_name=None, header=None)` → {sheet → raw DataFrame}).

Two decode paths, same output contract:

  * parse_xlsx_bytes — a REAL .xlsx reader on the stdlib alone (xlsx is a
    zip of SpreadsheetML XML): workbook.xml + rels for sheet names/order,
    sharedStrings.xml for the string table, per-sheet XML for rows/cells
    (shared/inline/raw cell types, A1-ref gap handling, rows padded to
    sheet width exactly like pd.read_excel(header=None) NaN-pads). This
    closes the r02 'decode stubbed' caveat for S8 without new deps.
    build_xlsx is its writer twin for fixtures (deterministic zip).
  * parse_workbook — the serialized stand-in used where queries need to
    synthesize workbook columns cheaply inside Spark expressions.

Either decode runs inside the one per-workbook flat_map_rows pass that
the reference's sheet loop maps to: by_sheet groups the decoded rows
into {sheet: rows}, and the per-sheet header detection / annex title /
chunking (operators/enrich.py — the W4/A7/A6/J6 rules) run on each
sheet in the same pass.

Serialized stand-in format (deterministic, produced by the synthetic
workbook builder in queries.py): sheets separated by GS (\\x1d), the
first record of a sheet is its name, records separated by RS (\\x1e),
cells by US (\\x1f); empty cells serialize as '' and surface as NULLs —
the same nullability contract pd.read_excel gives pandas NaNs.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

from .docxdoc import ZIP_XML_ERRORS

GS, RS, US = "\x1d", "\x1e", "\x1f"


def parse_workbook(payload: str) -> list[tuple[str, int, list[str | None]]]:
    """workbook payload → (sheet_name, row_idx, cells) rows; '' cells → None
    (pd.read_excel NaN analogue — header/annex logic treats them as absent)."""
    out: list[tuple[str, int, list[str | None]]] = []
    for sheet in payload.split(GS):
        if not sheet:
            continue
        records = sheet.split(RS)
        name, rows = records[0], records[1:]
        for i, row in enumerate(rows):
            cells = [c if c != "" else None for c in row.split(US)]
            out.append((name, i, cells))
    return out


# --- real .xlsx encode/decode on the stdlib ---------------------------------

_XLSX_EPOCH = (2024, 1, 1, 0, 0, 0)  # fixed zip timestamps → deterministic bytes


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


MAX_ROWS, MAX_COLS = 1_048_576, 16_384  # SpreadsheetML sheet limits: A1:XFD1048576
_CELL_REF = re.compile(r"([A-Z]+)[0-9]+")


def _bounded(i: int, limit: int, what: str) -> int:
    if not 0 <= i < limit:
        raise ValueError(f"{what} {i + 1} outside 1..{limit}")
    return i


def _col_index(ref: str) -> int:
    m = _CELL_REF.fullmatch(ref)
    if not m:
        raise ValueError(f"bad cell ref {ref!r}")
    n = 0
    for ch in m[1]:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def build_xlsx(sheets: dict[str, list[list[str | None]]]) -> bytes:
    """Minimal valid .xlsx from {sheet_name: rows}: one zip of
    SpreadsheetML parts with a shared-string table (the standard Excel
    layout, so the reader's sst path is exercised). None cells are
    simply not written — the reader reconstructs the gaps from A1 refs."""
    sst: list[str] = []
    sst_idx: dict[str, int] = {}

    def s_ref(v: str) -> int:
        if v not in sst_idx:
            sst_idx[v] = len(sst)
            sst.append(v)
        return sst_idx[v]

    names = list(sheets)
    sheet_xmls = []
    for rows in sheets.values():
        parts = ["<sheetData>"]
        for ri, row in enumerate(rows, start=1):
            parts.append(f'<row r="{ri}">')
            for ci, v in enumerate(row):
                if v is None:
                    continue
                parts.append(f'<c r="{_col_letter(ci)}{ri}" t="s"><v>{s_ref(str(v))}</v></c>')
            parts.append("</row>")
        parts.append("</sheetData>")
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            + "".join(parts)
            + "</worksheet>"
        )

    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>'
        + "".join(
            f'<sheet name="{_esc(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>' for i, n in enumerate(names)
        )
        + "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/'
            f'2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + f'<Relationship Id="rId{len(names) + 1}" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    sst_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="{len(sst)}" '
        f'uniqueCount="{len(sst)}">' + "".join(f"<si><t>{_esc(v)}</t></si>" for v in sst) + "</sst>"
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-'
        'officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-'
        'officedocument.spreadsheetml.sharedStrings+xml"/></Types>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        entries = [
            ("[Content_Types].xml", ctypes),
            ("_rels/.rels", root_rels),
            ("xl/workbook.xml", wb),
            ("xl/_rels/workbook.xml.rels", wb_rels),
            ("xl/sharedStrings.xml", sst_xml),
        ] + [(f"xl/worksheets/sheet{i + 1}.xml", x) for i, x in enumerate(sheet_xmls)]
        for name, data in entries:
            zi = zipfile.ZipInfo(name, date_time=_XLSX_EPOCH)
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, data)
    return buf.getvalue()


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_xlsx_bytes(data: bytes) -> list[tuple[str, int, list[str | None]]]:
    """REAL .xlsx decode (zip + SpreadsheetML XML, stdlib only) →
    (sheet_name, row_idx, cells) rows, same contract as parse_workbook:
    0-based dense row indices (row gaps become all-None rows, exactly
    pd.read_excel(header=None)'s NaN rows), every row padded to the
    sheet's max used width. Handles shared-string (t="s"), inline
    (t="inlineStr") and raw (<v>) cells. Bytes that are not a readable
    workbook raise ValueError, as do malformed row/cell refs and refs
    outside A1:XFD1048576, so dense padding never exceeds a real sheet."""
    try:
        return _xlsx_rows(data)
    except (*ZIP_XML_ERRORS, IndexError) as e:  # IndexError: shared-string index
        raise ValueError(f"unreadable .xlsx: {e}") from e


def _xlsx_rows(data: bytes) -> list[tuple[str, int, list[str | None]]]:
    z = zipfile.ZipFile(io.BytesIO(data))

    sst: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        for si in ET.fromstring(z.read("xl/sharedStrings.xml")):
            sst.append("".join(t.text or "" for t in si.iter() if _localname(t.tag) == "t"))

    rels = {}
    for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")):
        rels[rel.get("Id")] = rel.get("Target").lstrip("/")

    RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
    sheets: list[tuple[str, str]] = []  # (name, zip path)
    for el in ET.fromstring(z.read("xl/workbook.xml")).iter():
        if _localname(el.tag) == "sheet":
            target = rels[el.get(RNS)]
            if not target.startswith("xl/"):
                target = "xl/" + target
            sheets.append((el.get("name"), target))

    out: list[tuple[str, int, list[str | None]]] = []
    for name, path in sheets:
        rows: dict[int, dict[int, str]] = {}
        max_col = 0
        max_row = -1
        next_row = 0
        for row_el in ET.fromstring(z.read(path)).iter():
            if _localname(row_el.tag) != "row":
                continue
            ri = _bounded(int(row_el.get("r", next_row + 1)) - 1, MAX_ROWS, "row")
            next_row = ri + 1
            cells: dict[int, str] = {}
            next_col = 0
            for c in row_el:
                if _localname(c.tag) != "c":
                    continue
                ref = c.get("r")
                ci = _bounded(_col_index(ref) if ref else next_col, MAX_COLS, "column")
                next_col = ci + 1
                t = c.get("t", "n")
                val: str | None = None
                for child in c:
                    ln = _localname(child.tag)
                    if ln == "v":
                        val = sst[int(child.text)] if t == "s" else (child.text or "")
                    elif ln == "is":
                        val = "".join(x.text or "" for x in child.iter() if _localname(x.tag) == "t")
                if val is not None:
                    cells[ci] = val
                    max_col = max(max_col, ci + 1)
            rows[ri] = cells
            max_row = max(max_row, ri)
        for ri in range(max_row + 1):
            cells = rows.get(ri, {})
            out.append((name, ri, [cells.get(ci) for ci in range(max_col)]))
    return out


def by_sheet(rows: list[tuple[str, int, list[str | None]]]) -> dict[str, list[list[str | None]]]:
    """parse_workbook / parse_xlsx_bytes rows → {sheet_name: its rows in
    order}, the {sheet → raw DataFrame} shape of pd.read_excel(sheet_name=None)."""
    sheets: dict[str, list[list[str | None]]] = {}
    for name, _, cells in rows:
        sheets.setdefault(name, []).append(cells)
    return sheets
