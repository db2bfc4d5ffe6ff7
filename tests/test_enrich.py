from __future__ import annotations

from thuvienphapluat_crawler_spark import queries as Q
from thuvienphapluat_crawler_spark.operators.enrich import (
    annex_title,
    chunk_table_rows,
    drop_repeated_headers,
    header_row,
    section_chunks,
)


def test_chunk_table_rows_header_reemitted():
    # 1 header + 65 body rows → 3 chunks (30/30/5), header in each chunk
    rows = [(i, [f"row{i}"]) for i in range(66)]
    chunks = chunk_table_rows(rows, chunk_rows=30)
    assert len(chunks) == 3
    for chunk in chunks:
        assert chunk[0] == (0, ["row0"]) and (0, ["row0"]) not in chunk[1:]
    assert sum(len(c) - 1 for c in chunks) == 65
    assert [len(c) for c in chunks] == [31, 31, 6]
    # a table with no body rows is one chunk holding the header
    assert chunk_table_rows([(4, ["h"])], chunk_rows=30) == [[(4, ["h"])]]


def test_detect_header_row_tiers():
    tables = {
        # t1: STT in row 3 (tier 1 beats tier 2's row-1 density)
        "t1": [
            ["title", None, None, None],
            ["a", "b", "c", None],
            ["x", None, None, None],
            ["stt ", "Mã", "Tên", None],
        ],
        # t2: no STT, row 2 has 3 non-empty (tier 2)
        "t2": [["only", None, None, None], ["x", "", None, None], ["a", "b", "c", None]],
        # t3: no STT, rows 1-2 sparse; dense row 4 (tier 3)
        "t3": [
            ["t", None, None, None],
            ["x", None, None, None],
            [None, None, None, None],
            ["a", "b", None, None],
            ["aa", "bb", "cc", None],
        ],
        # t4: nothing detectable → None
        "t4": [["x", None, None, None], ["y", None, None, None]],
    }
    got = {k: header_row(rows) for k, rows in tables.items()}
    assert got == {"t1": 3, "t2": 2, "t3": 4, "t4": None}


def test_header_tiers_skip_null_cells():
    # tier 1: a marker in a later cell, nulls before it
    assert header_row([["x"], [None, None, " MÃ SỐ"]], markers=("STT", "MÃ")) == 1
    # tier 2: nulls and blank-after-trim cells are not non-empty cells
    assert header_row([["x"], ["a", None, "b", "c"]]) == 1
    assert header_row([["x"], ["a", None, "  ", "b"], ["y"]]) is None
    # tier 3: three cells longer than one char once trimmed; nulls skipped
    assert header_row([["x"], ["y"], ["z"], [None, "aa", "bb", None, "cc"]]) == 3
    assert header_row([["x"], ["y"], ["z"], [None, "aa", " b ", "cc"]]) is None
    # each tier is bounded: tiers 1 and 3 by scan_rows, tier 2 by rows 1-2
    assert header_row([["x"], ["y"], ["z"], ["STT"]], scan_rows=3) is None
    assert header_row([["x"], ["y"], ["z"], ["aa", "bb", "cc"]], scan_rows=3) is None
    assert header_row([["x"], ["y"], ["z"], ["a", "b", "c"]]) is None


def test_annex_title_gate():
    assert annex_title(
        [["PHỤ LỤC I", None, None], ["danh mục  thủ tục hành chính mới", "ban hành", None]]
    ) == ["PHỤ LỤC I danh mục thủ tục hành chính mới ban hành"]
    assert annex_title([["ngắn", None, None]]) == [None]
    # no row with text among the first max_rows: no title row at all
    assert annex_title([[None, None], ["", None], ["a long enough title row of text"]], max_rows=2) == []


def test_annex_title_keeps_digits_at_cell_edges():
    # Regression: the Spark form once bound the ARRAY INDEX to trim's
    # optional trimStr param, so cell i lost leading/trailing str(i) chars
    # ("PHỤ LỤC 0" → "PHỤ LỤC "). Caught by the docx_real_chunks oracle.
    rows = [["PHỤ LỤC 0"], ["1 một cột dài thêm cho đủ bốn mươi ký tự 1"]]
    assert annex_title(rows, max_rows=12, min_len=40) == [
        "PHỤ LỤC 0 1 một cột dài thêm cho đủ bốn mươi ký tự 1"
    ]


def test_annex_title_collapses_tab_keeps_nbsp():
    # Java \s (ASCII whitespace) collapses the tab and the newline; NBSP
    # is not \s and a trim strips U+0020 only, so it stays in the title
    rows = [["\tPHỤ LỤC\tI "], ["danh mục\u00a0thủ tục\n hành chính\u00a0 "]]
    assert annex_title(rows, min_len=10) == ["PHỤ LỤC I danh mục\u00a0thủ tục hành chính\u00a0"]


def test_drop_repeated_headers():
    rows = [
        ["STT", "Tên", "Ghi chú"],
        ["1", "a", "x"],
        ["STT", "Tên", "Ghi chú"],  # page-boundary repeat → dropped
        ["2", "b", "y"],
    ]
    kept = drop_repeated_headers(rows, header_row(rows))
    assert [i for i, _ in kept] == [0, 1, 3]
    # a repeat that equals the header including its null cells is dropped
    header = ["cột a", "cột b", "cột c", None]
    rows = [["t"], header, ["1", "2", "3", "4"], list(header)]
    assert [i for i, _ in drop_repeated_headers(rows, 1)] == [1, 2]


def test_section_chunks_merged_cell_semantics():
    # format_doc.py:82-100/:183-198: all-non-empty-cells-identical + marker
    # starts a section; decoy identical rows without a marker stay data;
    # blanks drop; chunk numbering restarts at each section boundary.
    rows = [
        (1, ["r1", "a", "x"]),  # pre-section data
        (2, ["r2", "b", "y"]),  # pre-section data
        (3, ["MỤC 1", "MỤC 1", "MỤC 1"]),
        (4, ["r4", "c", "z"]),
        (5, ["", "", None]),  # blank -> dropped
        (6, ["ghi chú", "ghi chú", "ghi chú"]),  # identical, no marker -> data
        (7, ["XÉT NGHIỆM X", "", "XÉT NGHIỆM X"]),  # empty cell ignored
    ] + [(8 + i, [f"r{8+i}", "d", "w"]) for i in range(6)]
    got = {i: (sid, title, cid) for sid, title, i, cid in section_chunks(rows, chunk_rows=5)}
    assert 3 not in got and 5 not in got and 7 not in got  # sections+blank consumed
    assert got[1] == (0, None, 0) and got[2] == (0, None, 0)
    assert got[4] == (1, "MỤC 1", 0)
    assert got[6] == (1, "MỤC 1", 0)  # decoy stays a data row
    assert [got[8 + i] for i in range(6)] == [
        (2, "XÉT NGHIỆM X", 0)
    ] * 5 + [(2, "XÉT NGHIỆM X", 1)]  # chunking restarted at the boundary


# --- each query's per-table outcome when a rule finds nothing --------------

_NO_HEADER = [["PHỤ LỤC"], ["x", None], ["y", None]]


def test_table_chunks_and_markdown_drop_a_table_without_header():
    assert list(Q._table_chunk_stats(7, _NO_HEADER)) == []
    assert list(Q._table_markdown(7, _NO_HEADER)) == []
    rows = [["t"], ["STT", "a", None], ["1", "b\nc", None], ["STT", "a", None]]
    assert list(Q._table_chunk_stats(7, rows)) == [(7, 1, 1, 2)]
    assert list(Q._table_markdown(7, rows)) == [
        (7, "<!-- Page 1 -->\n| STT | a |  |\n|---|---|---|\n| 1 | b c |  |")
    ]


def test_table_sections_emit_only_sections_with_data_rows():
    rows = [
        ["STT", "MÃ SỐ", "Tên"],
        ["MỤC 1", "MỤC 1", "MỤC 1"],  # no data row before the next section
        ["MỤC 2", "MỤC 2", None],
        ["a", "b", "c"],
        ["", "", None],
        ["CHƯƠNG 3", "CHƯƠNG 3", "CHƯƠNG 3"],  # only a blank row after it
        ["", None, None],
    ]
    assert list(Q._table_section_stats(1, rows)) == [(1, 2, "MỤC 2", 3, 1, 1)]
    assert list(Q._table_section_stats(1, _NO_HEADER)) == []


def test_workbook_sheets_keep_a_sheet_without_header():
    from thuvienphapluat_crawler_spark.sources.workbook import GS, RS, US

    wb = f"S1{RS}STT{US}MÃ{RS}a{US}b{GS}S2{RS}x{RS}y"
    assert list(Q._workbook_sheet_tables(3, wb)) == [("3", "S1", 0, 2), ("3", "S2", None, 2)]


def test_xlsx_sheets_drop_a_sheet_without_header():
    from thuvienphapluat_crawler_spark.sources.workbook import build_xlsx

    blob = build_xlsx({"S1": [["x"], [None, "MÃ SỐ"]], "S2": [["x"], ["y"]]})
    assert list(Q._xlsx_sheet_rows(3, blob)) == [("3", "S1", 1, 2, None)]


def test_docx_chunks_outcomes_without_annex_table_or_header():
    from thuvienphapluat_crawler_spark.sources.docxdoc import build_docx

    table = [["STT", "Tên"], ["1", "a"]]
    assert list(Q._docx_chunk_rows(5, build_docx([table]))) == []  # no annex text
    assert list(Q._docx_chunk_rows(5, build_docx(["PHỤ LỤC"]))) == []  # no table rows
    assert list(Q._docx_chunk_rows(5, build_docx(["PHỤ LỤC", [["x"], ["y"]]]))) == [
        ("5", None, None, 0, "")
    ]
    assert list(Q._docx_chunk_rows(5, build_docx(["PHỤ LỤC", table]))) == [
        ("5", None, 0, 1, "| STT | Tên |\n|---|---|\n| 1 | a |")
    ]
