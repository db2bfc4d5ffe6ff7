"""Glyph rasterizer (S5 loop closure): geometry, ink accounting, dpi
scaling, clipping, and the PDF→raster→PNG→decode round-trip."""

import random

import numpy as np

from thuvienphapluat_crawler_spark.sources.pdfdoc import build_pdf, parse_pdf_text_ops
from thuvienphapluat_crawler_spark.sources.pngcodec import decode_png, encode_png
from thuvienphapluat_crawler_spark.sources.raster import (
    CHAR_PITCH,
    FONT_5X7,
    PAGE_H_PT,
    PAGE_W_PT,
    glyph_bitmap,
    glyph_ink,
    glyph_scale,
    rasterize_draws,
)


def test_glyph_tables_consistent():
    for ch in FONT_5X7:
        assert glyph_bitmap(ch).shape == (7, 5)
        assert glyph_bitmap(ch).sum() == glyph_ink(ch)
    assert glyph_ink(" ") == 0
    assert glyph_bitmap("?").sum() == glyph_ink("?")  # fallback box


def test_ink_is_closed_form():
    # one draw, no overlap/clip: black pixels == k^2 * sum of popcounts
    img = rasterize_draws([(72.0, 760.0, "AB 12")], dpi=36)
    k = glyph_scale(36)
    assert k == 1
    want = sum(glyph_ink(c) for c in "AB 12")
    assert int((img.sum(axis=2) == 0).sum()) == want * k * k


def test_dpi_scale_quadratic():
    # 150 dpi -> k=2: same text, 4x the ink, reference page dims
    img = rasterize_draws([(72.0, 760.0, "HELLO")], dpi=150)
    assert glyph_scale(150) == 2
    assert img.shape == (1650, 1275, 3)
    want = sum(glyph_ink(c) for c in "HELLO") * 4
    assert int((img.sum(axis=2) == 0).sum()) == want


def test_clipping_is_silent():
    # a draw positioned past the right edge must clip, not wrap or raise
    img = rasterize_draws([(610.0, 760.0, "WWWW")], dpi=36)
    full = sum(glyph_ink(c) for c in "WWWW")
    got = int((img.sum(axis=2) == 0).sum())
    assert 0 < got < full


def test_clipping_at_top_and_left_edges():
    # a glyph straddling the top or left edge keeps its on-page pixels,
    # as at the right and bottom edges
    full = glyph_ink("H")
    for draw in [(72.0, 795.0, "H"), (-3.0, 700.0, "H")]:
        img = rasterize_draws([draw], dpi=72)
        got = int((img.sum(axis=2) == 0).sum())
        assert 0 < got < full, draw
    # the top edge cuts whole glyph rows: 3 points above it at 72 dpi
    img = rasterize_draws([(72.0, 795.0, "H")], dpi=72)
    assert np.array_equal(img[:4, 72:77, 0] == 0, glyph_bitmap("H")[3:].astype(bool))


def _reference_raster(draws, dpi):
    """Glyph by glyph, pixel by pixel, clipped at every edge."""
    s, k = dpi / 72.0, glyph_scale(dpi)
    h, w = round(PAGE_H_PT * s), round(PAGE_W_PT * s)
    img = np.full((h, w, 3), 255, dtype=np.uint8)
    for x_pt, y_pt, text in draws:
        top, left0 = round((PAGE_H_PT - y_pt) * s), round(x_pt * s)
        for i, ch in enumerate(text):
            bm = glyph_bitmap(ch)
            for gy in range(7 * k):
                for gx in range(5 * k):
                    r, c = top + gy, left0 + i * CHAR_PITCH * k + gx
                    if bm[gy // k, gx // k] and 0 <= r < h and 0 <= c < w:
                        img[r, c] = 0
    return img


def test_matches_reference_painter():
    rng = random.Random(11)
    for dpi in (36, 150):
        for _ in range(6):
            draws = [
                (rng.uniform(-20, 630), rng.uniform(-10, 810),
                 "".join(rng.choice("AW?x 09Z") for _ in range(rng.randint(0, 12))))
                for _ in range(rng.randint(0, 4))
            ]
            assert np.array_equal(rasterize_draws(draws, dpi), _reference_raster(draws, dpi))


def test_pdf_to_png_roundtrip():
    # the whole S5 loop: PDF bytes -> text ops -> raster -> PNG -> decode
    pdf = build_pdf([["DOC 7 ABC", "XYZ 09"]], compress=True)
    (draws,) = parse_pdf_text_ops(pdf)
    assert [(x, y, t) for x, y, t in draws] == [
        (72.0, 760.0, "DOC 7 ABC"),
        (72.0, 746.0, "XYZ 09"),  # T* advanced by TL=14
    ]
    img = rasterize_draws(draws, dpi=36)
    dec = decode_png(encode_png(img))
    assert np.array_equal(dec, img)
    want = sum(glyph_ink(c) for c in "DOC 7 ABCXYZ 09")
    assert int((dec.sum(axis=2) == 0).sum()) == want
