"""S9 real DOCX codec (sources/docxdoc.py).

Reference behavior: ocr/format_doc.py — python-docx .paragraphs/.tables
read after soffice .doc→.docx conversion (conversion itself stays an
environmental stub; the read path is what the reference's logic consumes).
"""

from __future__ import annotations

import pytest

from thuvienphapluat_crawler_spark.sources.docxdoc import (
    build_docx,
    convert_doc_to_docx,
    parse_docx,
)

BLOCKS = [
    "PHỤ LỤC 3",
    "Ban hành kèm theo <Thông tư> & 'Quyết định'",
    [["STT", "MÃ SỐ"], ["1", "M0.1"], ["2", ""]],
    "đoạn sau bảng",
    [["một", "ô"]],
]


def test_roundtrip_order_and_escaping():
    ps, tbls = parse_docx(build_docx(BLOCKS))
    assert ps == [b for b in BLOCKS if isinstance(b, str)]
    assert tbls == [b for b in BLOCKS if not isinstance(b, str)]


def test_cell_paragraphs_not_in_body_paragraphs():
    # python-docx semantics: Document.paragraphs excludes table-cell text.
    ps, _ = parse_docx(build_docx([[["trong ô"]]]))
    assert ps == []


def test_deterministic_bytes():
    assert build_docx(BLOCKS) == build_docx(BLOCKS)


def test_is_a_real_zip_with_expected_parts():
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(build_docx(BLOCKS))) as z:
        assert set(z.namelist()) == {"[Content_Types].xml", "_rels/.rels", "word/document.xml"}


def test_doc_conversion_is_environmental_stub():
    with pytest.raises(NotImplementedError):
        convert_doc_to_docx(b"\xd0\xcf\x11\xe0old-ole2")


def test_fuzz_damaged_docx_raises_value_error(mutants):
    """Seeded damage to a valid .docx either parses or raises ValueError
    chained from the zip/zlib/XML error — never BadZipFile, zlib.error or
    KeyError."""
    outcomes = {"parsed": 0, "ValueError": 0}
    for data in mutants(build_docx(BLOCKS), seed=6):
        try:
            parse_docx(data)
        except ValueError as e:
            assert e.__cause__ is not None or "w:body" in str(e)
            outcomes["ValueError"] += 1
        else:
            outcomes["parsed"] += 1
    assert all(outcomes.values()), outcomes
