"""Real AVI/RIFF video codec: round-trip, chunk walking, error paths."""

import struct

import numpy as np
import pytest

from thuvienphapluat_crawler_spark.sources.avicodec import (
    AviFormatError,
    avi_frame_stats,
    decode_avi,
    encode_avi,
)


def _vid(n, h, w, seed=11):
    t = np.arange(n)[:, None, None, None]
    i = np.arange(h)[None, :, None, None]
    j = np.arange(w)[None, None, :, None]
    c = np.arange(3)[None, None, None, :]
    return ((seed * (c + 1) + 2 * t + 3 * i + 7 * j) % 256).astype(np.uint8)


@pytest.mark.parametrize("n,h,w,fps", [(1, 1, 1, 1), (3, 6, 8, 10), (4, 5, 7, 25), (2, 9, 13, 30)])
def test_roundtrip(n, h, w, fps):
    vid = _vid(n, h, w)
    dec, got_fps = decode_avi(encode_avi(vid, fps))
    assert got_fps == fps
    assert dec.shape == (n, h, w, 3)
    assert np.array_equal(dec, vid)


def test_row_padding_is_exercised():
    # w=7 → 21-byte rows pad to 24; a padding bug shifts every row
    vid = _vid(2, 4, 7)
    blob = encode_avi(vid, 10)
    stride = (7 * 3 + 3) & ~3
    assert stride == 24
    dec, _ = decode_avi(blob)
    assert np.array_equal(dec, vid)


def test_header_structure_is_canonical():
    blob = encode_avi(_vid(2, 4, 4), 10)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    assert struct.unpack("<I", blob[4:8])[0] == len(blob) - 8
    assert b"hdrl" in blob[:200] and b"movi" in blob and b"idx1" in blob
    assert blob.count(b"00db") >= 2 + 2  # movi chunks + idx1 entries


def test_trailing_garbage_after_riff_payload_is_ignored():
    vid = _vid(3, 5, 6)
    blob = encode_avi(vid, 10)
    dec, _ = decode_avi(blob + b"00db____trailing junk")
    assert np.array_equal(dec, vid)


def test_frame_stats_are_decoded_not_formulaic():
    import hashlib

    vid = _vid(3, 4, 5)
    stats = avi_frame_stats(encode_avi(vid, 10))
    assert [s["frame_idx"] for s in stats] == [0, 1, 2]
    for s, frame in zip(stats, vid):
        assert s["pix_sum"] == int(frame.astype(np.int64).sum())
        assert s["frame_md5"] == hashlib.md5(frame.tobytes().hex().encode()).hexdigest()
        assert (s["width"], s["height"], s["fps"]) == (5, 4, 10)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"JUNK" + b[4:],                          # bad magic
        lambda b: b[: len(b) // 2],                         # truncated mid-chunk
        lambda b: b.replace(b"vids", b"auds", 1),           # not a video stream
        lambda b: b.replace(struct.pack("<HHI", 1, 24, 0),  # MJPEG fourcc in strf
                            struct.pack("<HH", 1, 24) + b"MJPG", 1),
        lambda b: (b[: b.index(b"strf") + 12]               # strf width 2^31-1 over the
                   + struct.pack("<i", 2**31 - 1)           # unchanged frames: rejected
                   + b[b.index(b"strf") + 16 :]),           # before any allocation
    ],
)
def test_malformed_raises(mutate):
    blob = encode_avi(_vid(2, 4, 4), 10)
    with pytest.raises(AviFormatError):
        decode_avi(mutate(blob))


def test_encode_rejects_bad_tensors():
    with pytest.raises(AviFormatError):
        encode_avi(np.zeros((2, 4, 4), dtype=np.uint8), 10)       # missing channel dim
    with pytest.raises(AviFormatError):
        encode_avi(np.zeros((2, 4, 4, 3), dtype=np.int32), 10)    # not uint8
    with pytest.raises(AviFormatError):
        encode_avi(np.zeros((0, 4, 4, 3), dtype=np.uint8), 10)    # no frames
