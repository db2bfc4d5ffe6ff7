"""S6 real PDF text-layer codec (sources/pdfdoc.py).

Reference behavior: ocr/test_ocr_quality.py:38-44 extract_text_pymupdf —
per-page text layer, the cheap no-OCR tier of ocr/README.md:57-62 routing.
"""

from __future__ import annotations

import zlib

import pytest

from thuvienphapluat_crawler_spark.sources.pdfdoc import (
    _stream_bytes,
    build_pdf,
    build_pdf_positioned,
    pages_from_pdfs,
    parse_pdf_cells,
    parse_pdf_text,
    parse_pdf_text_ops,
)

PAGES = [
    ["Điều 1. Phạm vi (a) \\ back", "line(2)"],
    ["PHỤ LỤC", "", "x)y(z"],
    ["тест юникода"],
]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip(compress):
    got = parse_pdf_text(build_pdf(PAGES, compress=compress))
    assert got == [(i, "\n".join(p)) for i, p in enumerate(PAGES)]


@pytest.mark.parametrize("compress", [False, True])
def test_deterministic_bytes(compress):
    assert build_pdf(PAGES, compress=compress) == build_pdf(PAGES, compress=compress)


def test_flate_actually_compresses():
    big = [["word soup " * 40] * 20]
    plain, comp = build_pdf(big), build_pdf(big, compress=True)
    assert b"/FlateDecode" in comp and b"/FlateDecode" not in plain
    assert len(comp) < len(plain) // 2


def test_unsupported_filter_raises():
    data = build_pdf(PAGES, compress=True).replace(b"/FlateDecode", b"/LZWDecode95")
    with pytest.raises(NotImplementedError):
        parse_pdf_text(data)


def test_stream_slice_is_binary_safe():
    # A Flate payload ending in 0x0d would be mis-trimmed by the
    # `\r?\nendstream` regex; the /Length slice must return it intact.
    payload = next(
        (c for i in range(20_000) if (c := zlib.compress(f"BT (x{i}) Tj ET".encode())).endswith(b"\r")),
        None,
    )
    assert payload is not None, "no trailing-CR zlib payload in 20k tries (p≈1-256^-20000)"
    body = (
        b"<< /Length " + str(len(payload)).encode() + b" /Filter /FlateDecode >>\n"
        b"stream\n" + payload + b"\nendstream"
    )
    assert _stream_bytes(body) == payload


def test_empty_page_and_empty_doc():
    assert parse_pdf_text(build_pdf([[]])) == [(0, "")]
    assert parse_pdf_text(build_pdf([])) == []


CELLS = [
    [(72.0, 770.0, "PHỤ LỤC (1)"), (72.0, 740.0, "STT"), (200.0, 740.0, "MÃ SỐ"),
     (72.0, 720.0, "1"), (200.0, 720.0, "M0.1 \\ x")],
    [(100.5, 600.0, "trang hai")],
]


@pytest.mark.parametrize("compress", [False, True])
def test_positioned_roundtrip(compress):
    got = parse_pdf_cells(build_pdf_positioned(CELLS, compress=compress))
    assert got == [(i, x, y, t) for i, page in enumerate(CELLS) for x, y, t in page]


def test_positioned_invisible_to_text_parser_grid():
    # Tj ops are shared, so the plain text parser sees the same strings
    # (one per cell) — the two views agree on content, differ on layout.
    data = build_pdf_positioned(CELLS)
    texts = [t for _, t in parse_pdf_text(data)]
    assert texts == ["\n".join(t for _, _, t in page) for page in CELLS]


def test_spark_scan(spark):
    rows = [(f"d{i}", build_pdf([[f"p{i}.{j}" for j in range(2)]] * (i + 1), compress=i % 2 == 1))
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = pages_from_pdfs(df).orderBy("doc_id", "page_idx").collect()
    assert [(r.doc_id, r.page_idx, r.text) for r in out] == [
        (f"d{i}", p, f"p{i}.0\np{i}.1") for i in range(4) for p in range(i + 1)
    ]


def test_scan_objects_ignores_adversarial_stream_bytes():
    # A stream payload may by chance contain b"endobj" or b"N 0 obj"
    # (Flate output is arbitrary bytes). The object scanner must skip the
    # payload via /Length — neither truncating the body nor injecting a
    # bogus object id.
    from thuvienphapluat_crawler_spark.sources.pdfdoc import (
        _scan_objects,
        parse_pdf_text,
    )

    payload = b"BT /F1 12 Tf 72 720 Td (hello) Tj ET\nendobj\n99 0 obj\n<<>>"
    buf = bytearray(b"%PDF-1.4\n")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n" % len(payload) + payload + b"\nendstream",
    ]
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 5\n0000000000 65535 f \n"
    for off in offsets:
        buf += b"%010d 00000 n \n" % off
    buf += b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_at

    scanned = _scan_objects(bytes(buf))
    assert sorted(scanned) == [1, 2, 3, 4]  # no phantom object 99
    assert payload in scanned[4]  # body not truncated at embedded endobj
    assert parse_pdf_text(bytes(buf)) == [(0, "hello")]


def test_fuzz_damaged_pdf_raises_typed_errors(mutants):
    """Seeded damage to a valid Flate PDF either parses or raises
    ValueError / NotImplementedError: a missing object, a missing /Kids
    array or a broken Flate stream is never a KeyError, AttributeError
    or zlib.error."""
    outcomes = {"parsed": 0, "ValueError": 0, "NotImplementedError": 0}
    for data in mutants(build_pdf(PAGES, compress=True), seed=5):
        for parse in (parse_pdf_text, parse_pdf_text_ops):
            try:
                parse(data)
            except (ValueError, NotImplementedError) as e:
                outcomes[type(e).__name__] += 1
            else:
                outcomes["parsed"] += 1
    assert outcomes["parsed"] and outcomes["ValueError"], outcomes
