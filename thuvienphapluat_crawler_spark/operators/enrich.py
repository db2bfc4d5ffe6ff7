"""Table enrichment and chunking (SURVEY §2.4 A6/A7, J6).

The J1 tooltip and J2 footnote rules live with the page parse
(sources/html_parse.extract_page): both only join one page's own rows.

Chunking reproduces format_xls.py:16-19/221-240: fixed 30-row groups per
(doc, section) with the header re-emitted per chunk.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CHUNK_ROWS = 30  # format_xls.py:18


def chunk_table_rows(
    rows: DataFrame,
    group_cols: list[str],
    order_col: str = "offset",
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Fixed-size chunking with header re-emission: within each group
    ordered by offset, row 0 is the header; body rows get
    chunk_id = (rn-1) // chunk_rows and every chunk re-emits the header
    as its first row (format_xls.py:221-240 semantics).

    r07 shape: ONE window pass (row_number + group-wide max share the
    same partitioning, so one exchange and one sort) and a per-row
    explode — the header's chunk list is [0..n_chunks-1], a body row's
    is its single chunk. The former plan split header/body into two
    branches, aggregated chunk counts, joined them back and unioned —
    three more exchanges whose union also erased the group clustering
    for every downstream groupBy."""
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    wall = Window.partitionBy(*group_cols)
    numbered = rows.withColumn("_rn", F.row_number().over(w))
    body_chunk = F.floor((F.col("_rn") - 2) / chunk_rows).cast("int")
    # groups with no body rows still emit the header once (n_chunks = 1);
    # window expressions must be staged in their own projection — a
    # generator argument cannot contain them
    numbered = numbered.withColumn(
        "_nc",
        F.coalesce(F.max(F.when(F.col("_rn") > 1, body_chunk)).over(wall) + 1, F.lit(1)),
    )
    chunk_ids = F.when(
        F.col("_rn") == 1, F.sequence(F.lit(0), F.col("_nc") - 1)
    ).otherwise(F.array(body_chunk))
    return numbered.select(
        *group_cols,
        F.explode(chunk_ids).alias("chunk_id"),
        (F.col("_rn") == 1).alias("is_header"),
        order_col,
        *[c for c in rows.columns if c not in group_cols + [order_col]],
    )


# ---------------------------------------------------------------------------
# Table machinery over (doc_id, row_idx, cells:array<string>) rows —
# W4 tiered header detection, A7 length-gated annex titles, J6
# repeated-header dedup (reference: format_xls.py:24-80,
# format_doc.py:110-129, format_ocr_image_2.py:151-153).
# ---------------------------------------------------------------------------


def _nonnull_cells(cells_col):
    return F.filter(F.col(cells_col), lambda c: c.isNotNull())


def detect_header_row(
    rows: DataFrame,
    doc_col: str | list[str] = "doc_id",
    idx_col: str = "row_idx",
    cells_col: str = "cells",
    scan_rows: int = 20,
    markers: tuple[str, ...] = ("STT",),
) -> DataFrame:
    """3-tier header detection (format_xls.py:40-80; the format_doc.py
    variant scans for STT/MÃ via `markers`):

      tier 1: first row within scan_rows where any cell CONTAINS a marker
      tier 2: row 1 or 2 if it has ≥3 non-empty cells
      tier 3: first row within scan_rows with ≥3 cells longer than 1 char

    Returns (doc_col, header_idx) with NULL when every tier misses —
    one aggregation pass, no per-row Python."""
    nn = _nonnull_cells(cells_col)
    marker_hit = F.exists(
        nn,
        lambda c: F.aggregate(
            F.array(*[F.lit(m) for m in markers]),
            F.lit(False),
            lambda acc, m: acc | F.upper(F.trim(c)).contains(m),
        ),
    )
    n_nonempty = F.size(F.filter(nn, lambda c: F.trim(c) != ""))
    n_dense = F.size(F.filter(nn, lambda c: F.length(F.trim(c)) > 1))
    idx = F.col(idx_col)
    doc_cols = [doc_col] if isinstance(doc_col, str) else list(doc_col)
    per = rows.select(
        *[F.col(c) for c in doc_cols],
        idx.alias("_i"),
        (marker_hit & (idx < scan_rows)).alias("_t1"),
        (idx.isin(1, 2) & (n_nonempty >= 3)).alias("_t2"),
        ((n_dense >= 3) & (idx < scan_rows)).alias("_t3"),
    )
    return per.groupBy(*doc_cols).agg(
        F.coalesce(
            F.min(F.when(F.col("_t1"), F.col("_i"))),
            F.min(F.when(F.col("_t2"), F.col("_i"))),
            F.min(F.when(F.col("_t3"), F.col("_i"))),
        ).alias("header_idx")
    )


def annex_title(
    rows: DataFrame,
    doc_col: str = "doc_id",
    idx_col: str = "row_idx",
    cells_col: str = "cells",
    max_rows: int = 6,
    min_len: int = 20,
) -> DataFrame:
    """Length-gated annex-title extraction (format_xls.py:24-37 with
    max_rows=6/min_len=20; format_doc.py:122-129 with limit=12/min_len=40):
    join the non-null cells of the first max_rows rows, collapse
    whitespace, emit only when longer than min_len (else NULL)."""
    # NB: lambda, not bare F.trim — transform() would bind the array index
    # to trim's optional trimStr param and strip digit chars from cell i.
    rowtext = F.array_join(F.transform(_nonnull_cells(cells_col), lambda c: F.trim(c)), " ")
    per = rows.filter(F.col(idx_col) < max_rows).select(
        F.col(doc_col), F.col(idx_col).alias("_i"), rowtext.alias("_t")
    ).filter(F.col("_t") != "")
    joined = per.groupBy(doc_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("_i", "_t"))), lambda s: s["_t"]
            ),
        ).alias("_title")
    )
    collapsed = F.trim(F.regexp_replace("_title", r"\s+", " "))
    return joined.select(
        doc_col,
        F.when(F.length(collapsed) > min_len, collapsed).alias("annex_title"),
    )


# Merged-cell section markers (format_doc.py:93-98): a candidate row's text
# must contain XÉT NGHIỆM or start with one of these prefixes.
SECTION_CONTAINS = ("XÉT NGHIỆM",)
SECTION_PREFIXES = ("I.", "II.", "III.", "1.", "2.", "3.", "CHƯƠNG", "MỤC")


def section_chunks(
    rows: DataFrame,
    doc_col: str = "doc_id",
    idx_col: str = "row_idx",
    cells_col: str = "cells",
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Merged-cell section detection + section-scoped chunking
    (format_doc.py:82-100 `is_section_header_row`/`extract_section_title`,
    applied at :183-198): a row whose non-empty cells are ALL IDENTICAL and
    whose text matches the marker set starts a new section; the buffer
    flushes at each section boundary, so chunk numbering restarts per
    (doc, section). Blank rows are dropped (format_doc.py:196); section
    rows are consumed, not emitted. Rows before any section row get
    section_id 0 and a NULL title (the reference writes them with
    section=None). One window pass — cumsum of the section flag is the
    section id, chunk_id = lane-local (row_number-1) // chunk_rows."""
    ne = F.filter(F.col(cells_col), lambda c: c.isNotNull() & (F.trim(c) != ""))
    first_txt = F.try_element_at(ne, F.lit(1))  # blank rows: ne is empty (ANSI element_at throws)
    up = F.upper(first_txt)
    marker = reduce(
        lambda a, b: a | b,
        [up.contains(m) for m in SECTION_CONTAINS]
        + [up.startswith(p) for p in SECTION_PREFIXES],
    )
    is_section = (F.size(ne) > 0) & (F.size(F.array_distinct(ne)) == 1) & marker
    is_blank = F.size(ne) == 0

    w = Window.partitionBy(doc_col).orderBy(idx_col)
    flagged = rows.withColumn("_sec", is_section).withColumn("_blank", is_blank).withColumn(
        "section_id",
        F.sum(F.col("_sec").cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    ).withColumn(
        "_title", F.when(F.col("_sec"), F.trim(first_txt))
    )
    wg = Window.partitionBy(doc_col, "section_id")
    titled = flagged.withColumn("section_title", F.max("_title").over(wg))
    data = titled.filter(~F.col("_sec") & ~F.col("_blank"))
    wr = Window.partitionBy(doc_col, "section_id").orderBy(idx_col)
    return (
        data.withColumn(
            "chunk_id", F.floor((F.row_number().over(wr) - 1) / chunk_rows).cast("int")
        )
        .drop("_sec", "_blank", "_title")
    )


def drop_repeated_headers(
    rows: DataFrame,
    headers: DataFrame,
    doc_col: str = "doc_id",
    idx_col: str = "row_idx",
    cells_col: str = "cells",
) -> DataFrame:
    """J6: drop body rows identical to the remembered header (the
    cross-page header repetition, format_ocr_image_2.py:151-153).
    `headers` is detect_header_row's output; the header row itself is
    kept (it anchors downstream chunking). Broadcast join on doc —
    header cells never shuffle with the body."""
    hdr_cells = (
        rows.join(headers, doc_col)
        .filter(F.col(idx_col) == F.col("header_idx"))
        .select(F.col(doc_col), F.col(cells_col).alias("_hdr"), F.col("header_idx"))
    )
    joined = rows.join(F.broadcast(hdr_cells), doc_col, "left")
    return (
        joined.filter(
            F.col("_hdr").isNull()
            | (F.col(idx_col) <= F.col("header_idx"))
            | (F.col(cells_col) != F.col("_hdr"))
        )
        .drop("_hdr", "header_idx")
    )
