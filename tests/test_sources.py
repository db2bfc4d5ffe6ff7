from __future__ import annotations

import textwrap

import pytest

from thuvienphapluat_crawler_spark.sources.catalog import catalog_file_join, read_catalog
from thuvienphapluat_crawler_spark.sources.cookies import read_cookies


def test_read_cookies(spark, tmp_path):
    p = tmp_path / "cookies.txt"
    p.write_text(
        textwrap.dedent(
            """\
            # Netscape HTTP Cookie File
            .thuvienphapluat.vn\tTRUE\t/\tTRUE\t1893456000\tsessionid\tabc123
            thuvienphapluat.vn\tFALSE\t/van-ban\tFALSE\t0\tlang\tvi
            """
        ),
        encoding="utf-8",
    )
    rows = {r.name: r for r in read_cookies(spark, str(p)).collect()}
    assert rows["sessionid"].domain == "thuvienphapluat.vn"  # leading dot stripped
    assert rows["sessionid"].secure is True
    assert rows["sessionid"].expires == 1893456000
    assert rows["lang"].include_subdomains is False
    assert rows["lang"].path == "/van-ban"


def test_catalog_join_statuses(spark, tmp_path):
    p = tmp_path / "documents.csv"
    p.write_text(
        "file,document_number,document_type,issuing_authority,title,issued_date\n"
        "a.txt,01/2020/TT-BYT,Thông tư,Bộ Y tế,Title A,15/03/2020\n"
        ",,,,skip-me,\n"
        "b.txt,02/2020/QD-TTg,Quyết định,TTg,Title B,01/01/2021\n",
        encoding="utf-8",
    )
    cat = read_catalog(spark, str(p))
    assert cat.count() == 2  # blank-file row dropped (upload_documents.py:76)
    d = {r.file: r.issued_date for r in cat.collect()}
    assert str(d["a.txt"]) == "2020-03-15"  # DD/MM/YYYY parsed

    files = spark.createDataFrame([("a.txt",)], "file string")
    joined = {r.file: r.status for r in catalog_file_join(cat, files).collect()}
    assert joined == {"a.txt": "upload", "b.txt": "skipped"}


# --- real .xlsx codec (S8 decode, stdlib zip+XML) ---------------------------


def test_xlsx_roundtrip_exact():
    from thuvienphapluat_crawler_spark.sources.workbook import build_xlsx, parse_xlsx_bytes

    sheets = {
        "Sheet1": [["STT", "MÃ SỐ", "Tên <thủ> & tục"], ["r0", None, "x"]],
        "Phụ Lục": [["PHỤ LỤC 3", None, None], ["cột a", "cột b", "cột c"]],
    }
    blob = build_xlsx(sheets)
    assert blob == build_xlsx(sheets)  # deterministic bytes (fixed zip timestamps)
    got: dict[str, list] = {}
    for name, i, cells in parse_xlsx_bytes(blob):
        got.setdefault(name, []).append(cells)
        assert i == len(got[name]) - 1  # dense 0-based row indices
    assert got == sheets  # values, escaping, None gaps, sheet order


def _xlsx_with_sheet(sheet_data: str) -> bytes:
    """A one-sheet .xlsx (sheet "S") around hand-written <sheetData> XML."""
    import io
    import zipfile

    sheet = (
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        f"{sheet_data}</sheetData></worksheet>"
    )
    wb = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def test_xlsx_parser_handles_row_gaps_and_inline_strings():
    """Hand-built sheet XML (not from our writer): skipped row numbers
    become all-None rows (pd.read_excel NaN-row semantics), sparse A1
    refs land in the right columns, inline strings decode without a
    shared-string table."""
    from thuvienphapluat_crawler_spark.sources.workbook import parse_xlsx_bytes

    rows = parse_xlsx_bytes(
        _xlsx_with_sheet(
            '<row r="1"><c r="C1" t="inlineStr"><is><t>wide</t></is></c></row>'
            '<row r="3"><c r="A3"><v>42</v></c></row>'
        )
    )
    assert rows == [
        ("S", 0, [None, None, "wide"]),
        ("S", 1, [None, None, None]),  # gap row materialized
        ("S", 2, ["42", None, None]),  # raw <v> kept as string
    ]


@pytest.mark.parametrize(
    "second_row",
    [
        '<row r="3000000"><c r="A3000000"><v>1</v></c></row>',  # past row 1,048,576
        '<row r="2"><c r="ZZZ2"><v>1</v></c></row>',  # past column XFD
        '<row r="0"><c r="A1"><v>1</v></c></row>',  # rows are 1-based
        '<row r="2"><c r="2"><v>1</v></c></row>',  # cell ref without a column
    ],
    ids=["huge_row", "huge_column", "row_zero", "digits_only_cell_ref"],
)
def test_xlsx_out_of_range_refs_raise_value_error(second_row):
    """A row/cell ref outside A1:XFD1048576, or malformed, raises
    instead of padding the sheet to it or silently dropping the cell."""
    from thuvienphapluat_crawler_spark.sources.workbook import parse_xlsx_bytes

    ok = '<row r="1"><c r="A1"><v>1</v></c></row>'
    assert parse_xlsx_bytes(_xlsx_with_sheet(ok)) == [("S", 0, ["1"])]
    with pytest.raises(ValueError):
        parse_xlsx_bytes(_xlsx_with_sheet(ok + second_row))


def test_xlsx_last_column_xfd_is_accepted():
    from thuvienphapluat_crawler_spark.sources.workbook import parse_xlsx_bytes

    [(_, _, cells)] = parse_xlsx_bytes(_xlsx_with_sheet('<row r="1"><c r="XFD1"><v>1</v></c></row>'))
    assert len(cells) == 16_384 and cells[-1] == "1"


def test_parse_xlsx_bytes_rows_by_sheet():
    """The real decoder's rows, gap cells as None, and by_sheet's
    {sheet: rows} grouping the per-workbook pass consumes."""
    from thuvienphapluat_crawler_spark.sources.workbook import build_xlsx, by_sheet, parse_xlsx_bytes

    rows = parse_xlsx_bytes(build_xlsx({"Sheet1": [["a", "b"], ["1", None]], "S2": [["x"]]}))
    assert rows == [("Sheet1", 0, ["a", "b"]), ("Sheet1", 1, ["1", None]), ("S2", 0, ["x"])]
    assert by_sheet(rows) == {"Sheet1": [["a", "b"], ["1", None]], "S2": [["x"]]}


def test_xlsx_fuzz_damaged_bytes_raise_value_error(mutants):
    """Seeded damage to a valid .xlsx either parses or raises ValueError
    chained from the zip/zlib/XML/index error — never BadZipFile,
    zlib.error, KeyError or IndexError."""
    from thuvienphapluat_crawler_spark.sources.workbook import build_xlsx, parse_xlsx_bytes

    blob = build_xlsx(
        {"Sheet1": [["STT", "MÃ SỐ", "Tên"], ["r0", None, "x"]], "PhuLuc": [["PHỤ LỤC 3"], ["a"]]}
    )
    outcomes = {"parsed": 0, "ValueError": 0}
    for data in mutants(blob, seed=7):
        try:
            parse_xlsx_bytes(data)
        except ValueError:
            outcomes["ValueError"] += 1
        else:
            outcomes["parsed"] += 1
    assert all(outcomes.values()), outcomes
