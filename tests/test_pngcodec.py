"""S5 real PNG codec (sources/pngcodec.py).

Reference behavior: ocr/ocr_pdf.py:37-45 — page → PNG for the VLM tier.
"""

from __future__ import annotations

import hashlib
import random
import struct
import zlib
from binascii import crc32

import numpy as np
import pytest

from thuvienphapluat_crawler_spark.sources.pngcodec import (
    decode_png,
    encode_png,
    resize_nearest,
)


def _img(h, w, seed=7):
    i = np.arange(h)[:, None]
    j = np.arange(w)[None, :]
    return np.stack(
        [(seed + 3 * i + 7 * j) % 256, (5 * i + j) % 256, (i * j + seed) % 256], axis=-1
    ).astype(np.uint8)


def _noise(h, w, channels=3):
    # closed-form pseudo-noise: every byte value, wrap-around in every filter
    i = np.arange(h)[:, None, None]
    j = np.arange(w)[None, :, None]
    c = np.arange(channels)[None, None, :]
    return (((i * 1103515245 + j * 12345 + c * 7919) >> 7) % 256).astype(np.uint8)


def _chunk(tag, body):
    return struct.pack(">I", len(body)) + tag + body + struct.pack(
        ">I", crc32(tag + body) & 0xFFFFFFFF
    )


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def _reference_png(px, filters):
    """PNG of an (h, w, 3|4) uint8 array, filtered byte by byte as the
    spec writes it, row r with filters[r]: an independent encoder."""
    h, w, bpp = px.shape
    raw, prev = bytearray(), [0] * (w * bpp)
    for row, ft in zip(px.reshape(h, w * bpp).tolist(), filters):
        raw.append(ft)
        for i, x in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b, c = prev[i], (prev[i - bpp] if i >= bpp else 0)
            pred = (0, a, b, (a + b) // 2, _paeth(a, b, c))[ft]
            raw.append((x - pred) % 256)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if bpp == 3 else 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("h,w", [(1, 1), (5, 3), (12, 16), (17, 23)])
def test_roundtrip_exercises_all_filters(h, w):
    # h ≥ 5 covers every filter type (row r uses filter r % 5)
    img = _img(h, w)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_deterministic_bytes():
    img = _img(9, 11)
    assert encode_png(img) == encode_png(img)


def test_crc_is_verified():
    data = bytearray(encode_png(_img(6, 6)))
    # flip one byte inside IDAT payload
    at = data.index(b"IDAT") + 6
    data[at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_rgba_decodes_alpha_dropped():
    # hand-build a 1x2 RGBA PNG (filter 0) — decoder keeps RGB only
    px = bytes([0, 10, 20, 30, 255, 40, 50, 60, 128])  # filter byte + 2 RGBA px
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0)

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", crc32(tag + body) & 0xFFFFFFFF
        )

    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(px)) + chunk(b"IEND", b"")
    )
    assert decode_png(data).tolist() == [[[10, 20, 30], [40, 50, 60]]]


def test_unsupported_flavors_raise():
    img = encode_png(_img(4, 4))
    pal = img.replace(struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0),
                      struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0), 1)
    # IHDR CRC now wrong — rebuild it so the ctype check is what fires
    body = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)
    pal = (
        img[:8] + struct.pack(">I", 13) + b"IHDR" + body
        + struct.pack(">I", crc32(b"IHDR" + body) & 0xFFFFFFFF) + img[33:]
    )
    with pytest.raises(NotImplementedError):
        decode_png(pal)
    with pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")


def test_resize_nearest():
    img = _img(8, 8)
    out = resize_nearest(img, 4, 4)
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out, img[::2, ::2])
    assert np.array_equal(resize_nearest(img, 8, 8), img)


# sha256 over encode_png of PIN_IMAGES, one digest per filter set; taken
# from the row-by-row encoder this codec replaced, so a change to any PNG
# byte fails here
PIN_IMAGES = [_img(1, 1), _img(1, 9), _img(9, 1), _img(17, 23), _noise(31, 29), _noise(40, 64)]
PINNED = {
    (0, 1, 2, 3, 4): "1785458ccbb31f18ea36c265f4b5ed1bc5be4e151ba9e13a1046211042da1cb0",
    (0, 2): "659e757d9b313b71f58d08aacf096c683c55634885e5f25811bfbce9d1e713a4",
    (1,): "6eaf80d2ac0a5c39e0fc059d616935fd986915b28ea6011ba249c7adf06e2ec7",
    (2,): "ca30bdf77a4bfa8e4e6682287409683c110cb3e0fa93cdf25ec02bba34d283d3",
    (3,): "4060e6f0f8fb84ebf6bcb7d40521072662060f6bd12babe2b6d24ae2c5c5faf1",
    (4,): "3636582d2dfd5e5529626813d61a6d408fbeeb6b6591e57aadf33b38462b83e7",
}


@pytest.mark.parametrize("filters", list(PINNED))
def test_encode_bytes_pinned(filters):
    blob = b"".join(encode_png(img, row_filters=filters) for img in PIN_IMAGES)
    assert hashlib.sha256(blob).hexdigest() == PINNED[filters]


FILTER_RUNS = [
    [2, 2, 2, 0, 2, 1, 2],  # leading Up rows: no anchor but the zero row
    [1] + [2] * 40,  # one long Up run
    [2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 2, 0, 3],  # Average/Paeth between Up runs
    [3, 2, 2, 4, 4, 2, 1, 1, 2],
]


def _filter_cases():
    rng = random.Random(1017)
    cases = [((h, w), seq) for seq in FILTER_RUNS for h, w in ((len(seq), 1), (len(seq), 6))]
    cases += [((1, 1), [f]) for f in range(5)]
    cases += [((1, 13), [f]) for f in range(5)]
    cases += [((11, 1), [rng.randrange(5) for _ in range(11)]) for _ in range(3)]
    for _ in range(30):
        h = rng.randint(1, 24)
        cases.append(((h, rng.randint(1, 17)), [rng.choice((0, 1, 2, 2, 2, 3, 4)) for _ in range(h)]))
    return cases


@pytest.mark.parametrize("shape,seq", _filter_cases())
def test_per_row_filter_sequences_roundtrip(shape, seq):
    img = _noise(*shape)
    # the encoder's filtering matches the byte-by-byte reference exactly
    # (a full-length row_filters tuple gives every row its own type) ...
    assert encode_png(img, row_filters=tuple(seq)) == _reference_png(img, seq)
    # ... and the decoder inverts any mix of None/Sub/Up runs and
    # Average/Paeth rows
    assert np.array_equal(decode_png(_reference_png(img, seq)), img)


@pytest.mark.parametrize("seq", [[0], [2, 1, 2, 2, 3, 2, 4, 2, 0, 2]])
def test_rgba_filter_sequences_roundtrip(seq):
    # colour type 6: bpp=4, so Sub/Average/Paeth reach back 4 bytes
    px = _noise(len(seq), 7, channels=4)
    assert np.array_equal(decode_png(_reference_png(px, seq)), px[:, :, :3])


def _with_ihdr(w, h, ctype=2):
    body = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", body)


@pytest.mark.parametrize(
    "data",
    [
        _with_ihdr(0, 4) + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b""),
        _with_ihdr(2, 0) + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b""),
        _with_ihdr(2, 2) + _chunk(b"IDAT", zlib.compress(bytes(12))) + _chunk(b"IEND", b""),
        _with_ihdr(2, 2) + _chunk(b"IDAT", zlib.compress(bytes(15))) + _chunk(b"IEND", b""),
        _with_ihdr(2, 2) + _chunk(b"IDAT", zlib.compress(bytes(14))[:-3]) + _chunk(b"IEND", b""),
        _with_ihdr(2, 2) + _chunk(b"IDAT", zlib.compress(b"\x05" + bytes(13))),
        _with_ihdr(2**31 - 1, 2**31 - 1) + _chunk(b"IDAT", zlib.compress(bytes(64))),
        _with_ihdr(2, 2) + _chunk(b"IDAT", b"not zlib"),
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", bytes(12)),
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IEND", b""),
        _with_ihdr(2, 2)[:-3],
    ],
    ids=["zero-w", "zero-h", "short-stream", "long-stream", "truncated-stream",
         "bad-filter", "huge-dims", "not-zlib", "short-ihdr", "no-ihdr", "truncated-chunk"],
)
def test_malformed_raises_value_error(data):
    with pytest.raises(ValueError):
        decode_png(data)


def _chunk_offsets(data):
    at, out = 8, []
    while at < len(data):
        (ln,) = struct.unpack_from(">I", data, at)
        out.append((at, ln, data[at + 4 : at + 8]))
        at += 12 + ln
    return out


def _refresh(data, at, ln):
    # recompute one chunk's CRC so a payload mutation reaches the decoder
    tag_body = bytes(data[at + 4 : at + 8 + ln])
    data[at + 8 + ln : at + 12 + ln] = struct.pack(">I", crc32(tag_body) & 0xFFFFFFFF)


def test_fuzz_malformed_bytes_typed_errors():
    """Seeded mutations of valid PNGs either decode to (h, w, 3) uint8 or
    raise ValueError / NotImplementedError — never zlib.error, struct.error,
    IndexError or a hang."""
    rng = random.Random(4)
    bases = [
        encode_png(_img(6, 5)),
        encode_png(_noise(9, 4), row_filters=(3, 4, 2, 2)),
        _reference_png(_noise(5, 3, channels=4), [1, 2, 3, 4, 0]),
    ]
    outcomes = {"decoded": 0, "ValueError": 0, "NotImplementedError": 0}
    for case in range(1500):
        base = bases[case % len(bases)]
        data = bytearray(base)
        chunks = _chunk_offsets(base)
        kind = case % 6
        if kind == 0:  # truncation
            data = data[: rng.randrange(len(data))]
        elif kind == 1:  # 1-4 bit flips anywhere
            for _ in range(rng.randint(1, 4)):
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        elif kind == 2:  # a random 32-bit chunk length
            at, _, _ = rng.choice(chunks)
            data[at : at + 4] = struct.pack(">I", rng.getrandbits(32))
        else:  # bit flips behind a valid CRC: IHDR fields or the zlib stream
            at, ln, tag = chunks[0] if kind == 3 else chunks[1]
            for _ in range(rng.randint(1, 4)):
                data[at + 8 + rng.randrange(ln)] ^= 1 << rng.randrange(8)
            _refresh(data, at, ln)
        try:
            out = decode_png(bytes(data))
        except (ValueError, NotImplementedError) as e:
            outcomes[type(e).__name__] += 1
            continue
        assert out.dtype == np.uint8 and out.ndim == 3 and out.shape[2] == 3
        outcomes["decoded"] += 1
    # every mutation family is reached, not just the signature check
    assert all(outcomes.values()), outcomes
