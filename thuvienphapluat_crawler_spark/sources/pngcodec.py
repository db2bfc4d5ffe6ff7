"""Minimal real PNG codec (SURVEY §2.1 S5 / multimodal decode tier;
reference: ocr/ocr_pdf.py:37-45 renders PDF pages to PNG via PyMuPDF
before the VLM call, ocr/sample_ocr_gpt41mini.py base64-encodes them).

PyMuPDF/Pillow are absent from the container, so r01/r02 stubbed image
decode. But PNG itself is zlib + CRC32 + byte filters — all stdlib:
encode_png writes a spec-valid 8-bit RGB PNG (IHDR/IDAT/IEND, CRCs,
per-row filter types cycling through all five so the decoder's unfilter
paths are exercised), decode_png recovers the exact pixel array from any
non-interlaced 8-bit RGB/RGBA PNG (inflate → unfilter None/Sub/Up/
Average/Paeth). resize_nearest is the feature-extract helper the
multimodal plumbing uses. What still genuinely needs a native library:
rasterizing a PDF page INTO pixels, palette/16-bit/interlaced PNGs, and
JPEG — those stay behind the multimodal.py decode flag.

Both directions work on the whole image, not row by row: the encoder
filters every row of a type at once under a row mask, and the decoder
rebuilds runs of None/Sub/Up rows with prefix sums. The only
row-sequential code left is the per-byte loop for Average and Paeth
rows, whose left neighbour is a recurrence. Malformed bytes raise
ValueError, unsupported flavors NotImplementedError."""

from __future__ import annotations

import struct
import sys
import zlib
from binascii import crc32

import numpy as np


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, row_filters: tuple[int, ...] = (0, 1, 2, 3, 4)) -> bytes:
    """Spec-valid non-interlaced 8-bit RGB PNG from a (h, w, 3) uint8
    array. Filter type for row r is row_filters[r % len(row_filters)] —
    the default cycles None/Sub/Up/Average/Paeth so a decoder must
    implement all of them. Callers encoding LARGE pages pass a cheap set
    (e.g. (0, 2)) the way real encoders pick per-row filter heuristics;
    pixel content is identical either way. Deterministic bytes for
    identical input.

    The whole image is filtered at once: a row mask per filter type
    picks its rows. None/Sub/Up are uint8 differences, whose wrap-around
    is exactly the spec's mod-256 arithmetic; Average and Paeth widen to
    int16 on their own rows only."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("need (h, w, 3) uint8")
    if not row_filters or any(f not in (0, 1, 2, 3, 4) for f in row_filters):
        raise ValueError(f"row filters must be PNG filter types 0-4, got {row_filters!r}")
    h, w, _ = img.shape
    cur = img.reshape(h, w * 3)
    up = np.zeros_like(cur)
    up[1:] = cur[:-1]
    left = np.zeros_like(cur)
    left[:, 3:] = cur[:, :-3]
    ft = np.resize(np.array(row_filters, dtype=np.uint8), h)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = ft
    rows = ft == 0
    raw[rows, 1:] = cur[rows]
    rows = ft == 1
    raw[rows, 1:] = cur[rows] - left[rows]
    rows = ft == 2
    raw[rows, 1:] = cur[rows] - up[rows]
    rows = ft == 3
    if rows.any():
        c, a, b = (x[rows].astype(np.int16) for x in (cur, left, up))
        raw[rows, 1:] = (c - (a + b) // 2).astype(np.uint8)
    rows = ft == 4
    if rows.any():
        upleft = np.zeros_like(cur)
        upleft[1:, 3:] = cur[:-1, :-3]
        c, a, b, ul = (x[rows].astype(np.int16) for x in (cur, left, up, upleft))
        p = a + b - ul
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, ul))
        raw[rows, 1:] = (c - pred).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter_run(flt: np.ndarray, ft: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct a run of None/Sub/Up rows below the reconstructed row
    `prev`, with no per-row work. None and Sub rows depend only on
    themselves (Sub is a per-channel prefix sum along x). An Up row adds
    the row above, so each Up row is the sum of the rows from its anchor
    (the last None/Sub row, or `prev`) down to it: a segmented prefix sum
    down the rows, done as a doubling scan — log2(longest Up run) steps
    of whole-image adds, far cheaper than an accumulate along axis 0.
    uint8 sums wrap mod 256, the spec's arithmetic."""
    n, stride = flt.shape
    rows = np.empty((n + 1, stride), dtype=np.uint8)
    rows[0] = prev
    rows[1:] = flt
    sub = np.flatnonzero(ft == 1) + 1
    if sub.size:
        px = rows[sub].reshape(sub.size, stride // bpp, bpp)
        rows[sub] = np.cumsum(px, axis=1, dtype=np.uint8).reshape(sub.size, stride)
    idx = np.arange(n + 1)
    anchored = np.ones(n + 1, dtype=bool)
    anchored[1:] = ft != 2
    depth = idx - np.maximum.accumulate(np.where(anchored, idx, 0))
    # invariant: rows[r] sums its last min(step, depth[r] + 1) input rows
    step, max_depth = 1, depth.max()
    while step <= max_depth:
        deep = np.flatnonzero(depth >= step)
        rows[deep] += rows[deep - step]
        step *= 2
    return rows[1:]


def _unfilter_row(flt: np.ndarray, ft: int, prev: np.ndarray, bpp: int) -> np.ndarray:
    """One Average (3) or Paeth (4) row. The left byte is the recurrence —
    sequential in x, over plain Python lists (an order of magnitude faster
    than per-element numpy indexing on big rows)."""
    stride = flt.size
    rl, pl = flt.tolist(), prev.tolist()
    cl = [0] * stride
    if ft == 3:
        for i in range(stride):
            a = cl[i - bpp] if i >= bpp else 0
            cl[i] = (rl[i] + ((a + pl[i]) >> 1)) & 0xFF
    else:
        for i in range(stride):
            a = cl[i - bpp] if i >= bpp else 0
            b = pl[i]
            c = pl[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            cl[i] = (rl[i] + pred) & 0xFF
    return np.array(cl, dtype=np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from a non-interlaced 8-bit RGB/RGBA PNG (alpha
    dropped). Verifies the signature, the chunk CRCs and that the
    inflated stream is exactly h × (1 + stride) bytes. Malformed bytes
    raise ValueError; a valid but unsupported flavor (palette, 16-bit,
    interlace) raises NotImplementedError — the honest subset.

    Runs of None/Sub/Up rows are unfiltered whole (_unfilter_run); only
    Average and Paeth rows, whose left neighbour is a recurrence, are
    reconstructed row by row."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        end = pos + 8 + ln
        if end + 4 > len(data):
            raise ValueError(f"truncated {tag!r} chunk")
        body = data[pos + 8 : end]
        (crc,) = struct.unpack_from(">I", data, end)
        if crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            if ln != 13:
                raise ValueError(f"IHDR is {ln} bytes, not 13")
            w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in (2, 6) or inter:
                raise NotImplementedError("only 8-bit RGB/RGBA non-interlaced")
            if w == 0 or h == 0:
                raise ValueError(f"empty image {w}x{h}")
            bpp = 3 if ctype == 2 else 4
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos = end + 4
    if w is None:
        raise ValueError("no IHDR")
    stride = w * bpp
    need = h * (stride + 1)
    inflater = zlib.decompressobj()
    try:
        # at most one byte past the image: a bomb cannot inflate further
        raw = inflater.decompress(bytes(idat), min(need + 1, sys.maxsize))
    except zlib.error as e:
        raise ValueError(f"bad IDAT stream: {e}") from None
    if len(raw) != need or not inflater.eof:
        raise ValueError(f"IDAT inflates to {len(raw)} bytes, not {need} in one stream")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ft, flt = rows[:, 0], rows[:, 1:]
    if ft.max() > 4:
        raise ValueError(f"bad filter {int(ft.max())}")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    start = 0
    for r in [*np.flatnonzero(ft >= 3).tolist(), h]:
        if r > start:
            out[start:r] = _unfilter_run(flt[start:r], ft[start:r], prev, bpp)
            prev = out[r - 1]
        if r < h:
            out[r] = prev = _unfilter_row(flt[r], int(ft[r]), prev, bpp)
        start = r + 1
    return np.ascontiguousarray(out.reshape(h, w, bpp)[:, :, :3])


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — the thumbnail/feature step of the
    multimodal path; pure index math, vectorized."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[np.ix_(ri, ci)]
