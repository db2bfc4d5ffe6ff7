from __future__ import annotations

from thuvienphapluat_crawler_spark.operators.enrich import chunk_table_rows


def test_chunk_table_rows_header_reemitted(spark):
    # 1 header + 65 body rows → 3 chunks (30/30/5), header in each chunk
    rows = spark.createDataFrame(
        [("t1", i, f"row{i}") for i in range(66)],
        "table_id string, offset int, payload string",
    )
    out = chunk_table_rows(rows, ["table_id"], chunk_rows=30).collect()
    by_chunk: dict[int, list] = {}
    for r in out:
        by_chunk.setdefault(r.chunk_id, []).append(r)
    assert sorted(by_chunk) == [0, 1, 2]
    for cid, items in by_chunk.items():
        headers = [r for r in items if r.is_header]
        assert len(headers) == 1 and headers[0].payload == "row0"
    assert sum(1 for r in out if not r.is_header) == 65
    assert len(by_chunk[0]) == 31 and len(by_chunk[1]) == 31 and len(by_chunk[2]) == 6


def test_detect_header_row_tiers(spark):
    from thuvienphapluat_crawler_spark.operators.enrich import detect_header_row

    rows = [
        # doc t1: STT in row 3 (tier 1 beats tier 2's row-1 density)
        ("t1", 0, ["title", None, None, None]),
        ("t1", 1, ["a", "b", "c", None]),
        ("t1", 2, ["x", None, None, None]),
        ("t1", 3, ["stt ", "Mã", "Tên", None]),
        # doc t2: no STT, row 2 has 3 non-empty (tier 2)
        ("t2", 0, ["only", None, None, None]),
        ("t2", 1, ["x", "", None, None]),
        ("t2", 2, ["a", "b", "c", None]),
        # doc t3: no STT, rows 1-2 sparse; dense row 4 (tier 3)
        ("t3", 0, ["t", None, None, None]),
        ("t3", 1, ["x", None, None, None]),
        ("t3", 2, [None, None, None, None]),
        ("t3", 3, ["a", "b", None, None]),
        ("t3", 4, ["aa", "bb", "cc", None]),
        # doc t4: nothing detectable → NULL
        ("t4", 0, ["x", None, None, None]),
        ("t4", 1, ["y", None, None, None]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, row_idx int, cells array<string>")
    got = {r.doc_id: r.header_idx for r in detect_header_row(df).collect()}
    assert got == {"t1": 3, "t2": 2, "t3": 4, "t4": None}


def test_annex_title_gate(spark):
    from thuvienphapluat_crawler_spark.operators.enrich import annex_title

    rows = [
        ("long", 0, ["PHỤ LỤC I", None, None]),
        ("long", 1, ["danh mục  thủ tục hành chính mới", "ban hành", None]),
        ("short", 0, ["ngắn", None, None]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, row_idx int, cells array<string>")
    got = {r.doc_id: r.annex_title for r in annex_title(df).collect()}
    assert got["long"] == "PHỤ LỤC I danh mục thủ tục hành chính mới ban hành"
    assert got["short"] is None


def test_annex_title_keeps_digits_at_cell_edges(spark):
    # Regression: transform(cells, F.trim) bound the ARRAY INDEX to trim's
    # optional trimStr param, so cell i lost leading/trailing str(i) chars
    # ("PHỤ LỤC 0" → "PHỤ LỤC "). Caught by the docx_real_chunks oracle.
    from thuvienphapluat_crawler_spark.operators.enrich import annex_title

    rows = [
        ("d", 0, ["PHỤ LỤC 0"]),
        ("d", 1, ["1 một cột dài thêm cho đủ bốn mươi ký tự 1"]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, row_idx int, cells array<string>")
    got = annex_title(df, max_rows=12, min_len=40).collect()[0].annex_title
    assert got == "PHỤ LỤC 0 1 một cột dài thêm cho đủ bốn mươi ký tự 1"


def test_drop_repeated_headers(spark):
    from thuvienphapluat_crawler_spark.operators.enrich import (
        detect_header_row,
        drop_repeated_headers,
    )

    rows = [
        ("d", 0, ["STT", "Tên", "Ghi chú"]),
        ("d", 1, ["1", "a", "x"]),
        ("d", 2, ["STT", "Tên", "Ghi chú"]),   # page-boundary repeat → dropped
        ("d", 3, ["2", "b", "y"]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, row_idx int, cells array<string>")
    kept = drop_repeated_headers(df, detect_header_row(df))
    assert sorted(r.row_idx for r in kept.collect()) == [0, 1, 3]


def test_section_chunks_merged_cell_semantics(spark):
    # format_doc.py:82-100/:183-198: all-non-empty-cells-identical + marker
    # starts a section; decoy identical rows without a marker stay data;
    # blanks drop; chunk numbering restarts at each section boundary.
    from thuvienphapluat_crawler_spark.operators.enrich import section_chunks

    rows = [
        (1, 1, ["r1", "a", "x"]),          # pre-section data
        (1, 2, ["r2", "b", "y"]),          # pre-section data
        (1, 3, ["MỤC 1", "MỤC 1", "MỤC 1"]),
        (1, 4, ["r4", "c", "z"]),
        (1, 5, ["", "", None]),            # blank -> dropped
        (1, 6, ["ghi chú", "ghi chú", "ghi chú"]),  # identical, no marker -> data
        (1, 7, ["XÉT NGHIỆM X", "", "XÉT NGHIỆM X"]),  # empty cell ignored
    ] + [(1, 8 + i, [f"r{8+i}", "d", "w"]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, row_idx int, cells array<string>")
    got = {
        r.row_idx: (r.section_id, r.section_title, r.chunk_id)
        for r in section_chunks(df, chunk_rows=5).collect()
    }
    assert 3 not in got and 5 not in got and 7 not in got  # sections+blank consumed
    assert got[1] == (0, None, 0) and got[2] == (0, None, 0)
    assert got[4] == (1, "MỤC 1", 0)
    assert got[6] == (1, "MỤC 1", 0)  # decoy stays a data row
    assert [got[8 + i] for i in range(6)] == [
        (2, "XÉT NGHIỆM X", 0)
    ] * 5 + [(2, "XÉT NGHIỆM X", 1)]  # chunking restarted at the boundary
