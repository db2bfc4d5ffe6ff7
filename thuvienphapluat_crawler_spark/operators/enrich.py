"""Table enrichment and chunking (SURVEY §2.4 A6/A7, J6; W4).

One table at a time, as the reference handles it (format_xls.py:24-80
and 221-240, format_doc.py:82-146, extract_tables.py:68-92,
format_ocr_image_2.py:151-153): a table is its rows in order, each row
a list of cells (`None` for an empty cell), a row's position being its
row index. Queries run these functions inside the one per-document
`rowmap.flat_map_rows` pass that scans the document, so no table row
crosses a shuffle.

The string rules are Spark's: a trim strips U+0020 only, and the annex
whitespace collapse is a Java `\\s+` (text.java_regex), so the functions
agree with the DuckDB oracles the queries are checked against.

The J1 tooltip and J2 footnote rules live with the page parse
(sources/html_parse.extract_page).
"""

from __future__ import annotations

from ..functions.text import java_regex

CHUNK_ROWS = 30  # format_xls.py:18

Row = list[str | None]

_WS = java_regex(r"\s+")


def header_row(rows: list[Row], scan_rows: int = 20, markers: tuple[str, ...] = ("STT",)) -> int | None:
    """W4 3-tier header detection (format_xls.py:40-80; the format_doc.py
    variant scans for STT/MÃ via `markers`):

      tier 1: first row within scan_rows where a cell CONTAINS a marker
      tier 2: row 1 or 2 if it has ≥3 non-empty cells
      tier 3: first row within scan_rows with ≥3 cells longer than 1 char

    Cells are trimmed before each test. None when every tier misses."""
    trimmed = [[c.strip(" ") for c in cells if c is not None] for cells in rows]
    tiers = (
        lambda i, cs: i < scan_rows and any(m in c.upper() for c in cs for m in markers),
        lambda i, cs: i in (1, 2) and sum(c != "" for c in cs) >= 3,
        lambda i, cs: i < scan_rows and sum(len(c) > 1 for c in cs) >= 3,
    )
    for hit in tiers:
        for i, cs in enumerate(trimmed):
            if hit(i, cs):
                return i
    return None


def annex_title(rows: list[Row], max_rows: int = 6, min_len: int = 20) -> list[str | None]:
    """Length-gated annex title (format_xls.py:24-37 with max_rows=6 /
    min_len=20; format_doc.py:122-129 with 12 / 40): the trimmed non-null
    cells of the first max_rows rows joined by spaces, whitespace runs
    collapsed, kept only when longer than min_len (else None).

    A list of one title, or empty when none of those rows has text: a
    table without such rows has no title row at all."""
    texts = [" ".join(c.strip(" ") for c in cells if c is not None) for cells in rows[:max_rows]]
    texts = [t for t in texts if t != ""]
    if not texts:
        return []
    title = _WS.sub(" ", " ".join(texts)).strip(" ")
    return [title if len(title) > min_len else None]


def drop_repeated_headers(rows: list[Row], header_idx: int) -> list[tuple[int, Row]]:
    """J6 (format_ocr_image_2.py:151-153): the header row and the rows
    after it, as (row_idx, cells), without the body rows equal to the
    header (the header repeated at each page boundary)."""
    header = rows[header_idx]
    return [(header_idx, header)] + [
        (i, cells) for i, cells in enumerate(rows[header_idx + 1 :], header_idx + 1) if cells != header
    ]


def chunk_table_rows(
    rows: list[tuple[int, Row]], chunk_rows: int = CHUNK_ROWS
) -> list[list[tuple[int, Row]]]:
    """A6 fixed-size chunking with header re-emission (format_xls.py:
    221-240): rows[0] is the header, the body goes in groups of
    chunk_rows, and every chunk starts with the header. A table with no
    body rows is one chunk holding the header."""
    header, body = rows[0], rows[1:]
    return [[header, *body[i : i + chunk_rows]] for i in range(0, len(body), chunk_rows)] or [[header]]


# Merged-cell section markers (format_doc.py:93-98): a candidate row's text
# must contain XÉT NGHIỆM or start with one of these prefixes.
SECTION_CONTAINS = ("XÉT NGHIỆM",)
SECTION_PREFIXES = ("I.", "II.", "III.", "1.", "2.", "3.", "CHƯƠNG", "MỤC")


def section_chunks(
    rows: list[tuple[int, Row]], chunk_rows: int = CHUNK_ROWS
) -> list[tuple[int, str | None, int, int]]:
    """Merged-cell section detection + section-scoped chunking
    (format_doc.py:82-100 `is_section_header_row`/`extract_section_title`,
    applied at :183-198) over (row_idx, cells) rows: a row whose
    non-empty cells are ALL IDENTICAL and whose first one matches the
    marker set starts a new section titled by that cell, trimmed. Section
    rows and blank rows are consumed; each data row becomes
    (section_id, section_title, row_idx, chunk_id), chunk numbering
    restarting per section. Rows before any section row get section_id 0
    and a None title (the reference writes them with section=None)."""
    out: list[tuple[int, str | None, int, int]] = []
    section_id, title, n = 0, None, 0
    for i, cells in rows:
        ne = [c for c in cells if c is not None and c.strip(" ") != ""]
        if not ne:
            continue
        up = ne[0].upper()
        if len(set(ne)) == 1 and (
            any(m in up for m in SECTION_CONTAINS) or up.startswith(SECTION_PREFIXES)
        ):
            section_id, title, n = section_id + 1, ne[0].strip(" "), 0
            continue
        out.append((section_id, title, i, n // chunk_rows))
        n += 1
    return out
