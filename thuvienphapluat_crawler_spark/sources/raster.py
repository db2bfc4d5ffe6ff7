"""Minimal glyph-bitmap page rasterizer — closes the S5 loop for the
repo's own single-font PDFs (SURVEY §2.1 S5).

The reference renders PDF pages to pixels with PyMuPDF at 150 dpi before
the VLM call (ocr/ocr_pdf.py:37-45: `fitz.Matrix(dpi/72, dpi/72)` →
pixmap → RGB → PNG). PyMuPDF is absent from this container, and a full
rasterizer for arbitrary PDFs (fonts, curves, images) genuinely needs a
native library — but `build_pdf` output uses exactly one Type1 font and
TL/Td/T*/Tj text ops, so for THAT subset a fixed-glyph rasterizer is
complete: walk the parsed text draws (pdfdoc.parse_pdf_text_ops), scale
page points to pixels by dpi/72 (the reference's Matrix), and paint each
character's 5×7 bitmap at integer scale, all glyphs of a page in one
vectorized paint, clipped at every page edge. The output is a real pixel
array that round-trips through the real PNG codec (sources/pngcodec) —
so PDF bytes → raster → PNG → decode → features runs end-to-end with
zero native deps, and every pixel is closed-form predictable (ink =
k² · Σ glyph popcounts), which is what the DuckDB oracle checks.

Glyphs: a standard 5×7 dot-matrix face for A-Z, 0-9 and space; any
other character paints the 5×7 outline box (deterministic fallback —
the gated query sanitizes its text to the known set first).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

GLYPH_W, GLYPH_H = 5, 7
CHAR_PITCH = 6  # 5 ink columns + 1 blank, in glyph units

# 7 rows of 5 bits each, bit 4 = leftmost pixel.
FONT_5X7: dict[str, tuple[int, ...]] = {
    " ": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00),
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x0A, 0x04, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
}

_BOX = (0x1F, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1F)  # unknown-glyph fallback

PAGE_W_PT, PAGE_H_PT = 612.0, 792.0  # US Letter, build_pdf's MediaBox


def glyph_rows(ch: str) -> tuple[int, ...]:
    return FONT_5X7.get(ch, _BOX)


@lru_cache(maxsize=None)
def glyph_bitmap(ch: str) -> np.ndarray:
    """(7, 5) uint8 0/1 bitmap. Memoized: the font has a few dozen
    glyphs and callers only read the array."""
    rows = glyph_rows(ch)
    return np.array(
        [[(r >> (GLYPH_W - 1 - c)) & 1 for c in range(GLYPH_W)] for r in rows],
        dtype=np.uint8,
    )

def glyph_ink(ch: str) -> int:
    """Popcount of the glyph — the per-character ink-pixel contribution at
    scale k is glyph_ink(ch) · k² (what the closed-form oracle sums)."""
    return sum(bin(r).count("1") for r in glyph_rows(ch))


def glyph_scale(dpi: int) -> int:
    """Integer glyph scale at a dpi: k pixels per glyph unit (≥1). The
    reference's 150 dpi gives k=2; the gated query runs dpi=36 → k=1."""
    return max(1, round(dpi / 72))


@lru_cache(maxsize=None)
def _ink_offsets(ch: str, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, cols) of the glyph's ink pixels at integer scale k, relative
    to its top-left corner. Memoized per (glyph, scale); callers only read."""
    bm = glyph_bitmap(ch)
    if k > 1:
        bm = np.repeat(np.repeat(bm, k, axis=0), k, axis=1)
    return np.nonzero(bm)


def rasterize_draws(
    draws: list[tuple[float, float, str]], dpi: int = 150
) -> np.ndarray:
    """Positioned text draws (PDF points, y up) → (h, w, 3) uint8 RGB,
    black glyphs on white. Geometry mirrors the reference render: pixel
    = point · dpi/72 (fitz.Matrix(dpi/72, dpi/72), ocr_pdf.py:39); the
    draw's y is the line top in our single-font subset. Glyphs paint at
    integer scale k with a 6k-pixel character pitch; glyph pixels past
    any page edge are clipped.

    The page is painted once: every glyph's ink offsets are gathered with
    its origin, shifted, clipped to the page and set to black by a single
    fancy-index assignment."""
    s = dpi / 72.0
    w_px, h_px = round(PAGE_W_PT * s), round(PAGE_H_PT * s)
    k = glyph_scale(dpi)
    img = np.full((h_px, w_px, 3), 255, dtype=np.uint8)
    ink_r, ink_c, origin_r, origin_c, count = [], [], [], [], []
    for x_pt, y_pt, text in draws:
        top = round((PAGE_H_PT - y_pt) * s)
        left0 = round(x_pt * s)
        for i, ch in enumerate(text):
            gr, gc = _ink_offsets(ch, k)
            ink_r.append(gr)
            ink_c.append(gc)
            origin_r.append(top)
            origin_c.append(left0 + i * CHAR_PITCH * k)
            count.append(gr.size)
    if not count:
        return img
    rr = np.concatenate(ink_r) + np.repeat(np.array(origin_r), count)
    cc = np.concatenate(ink_c) + np.repeat(np.array(origin_c), count)
    on_page = (rr >= 0) & (rr < h_px) & (cc >= 0) & (cc < w_px)
    img[rr[on_page], cc[on_page]] = 0
    return img
