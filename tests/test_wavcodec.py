"""Real WAV/RIFF codec: round-trip, chunk walking, error paths."""

import struct

import numpy as np
import pytest

from thuvienphapluat_crawler_spark.sources.wavcodec import (
    WavFormatError,
    decode_wav,
    encode_wav,
    wav_stats,
)


def _sig(n, ch, seed=3):
    i = np.arange(n, dtype=np.int64)[:, None]
    c = np.arange(ch, dtype=np.int64)[None, :]
    return ((i * seed + 7 * c) % 2001) - 1000


@pytest.mark.parametrize("n,ch,rate", [(1, 1, 8000), (800, 1, 8000), (1440, 2, 44100), (7, 3, 16000)])
def test_roundtrip(n, ch, rate):
    sig = _sig(n, ch)
    arr, got_rate = decode_wav(encode_wav(sig, rate))
    assert got_rate == rate
    assert arr.shape == (n, ch)
    assert np.array_equal(arr, sig.astype(np.int16))


def test_header_bytes_are_canonical():
    blob = encode_wav(_sig(4, 1), 8000)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert blob[12:16] == b"fmt " and struct.unpack("<I", blob[16:20])[0] == 16
    fmt, ch, rate, brate, align, bits = struct.unpack("<HHIIHH", blob[20:36])
    assert (fmt, ch, rate, brate, align, bits) == (1, 1, 8000, 16000, 2, 16)
    assert blob[36:40] == b"data"
    assert len(blob) == 44 + 4 * 2


def test_mono_1d_input_and_stats():
    sig = np.array([0, 1000, -1000, 500], dtype=np.int64)
    st = wav_stats(encode_wav(sig, 8000))
    assert st == {
        "sample_rate": 8000, "channels": 1, "n_frames": 4, "duration_ms": 0,
        "peak": 1000, "sum_sq": 2 * 1000 * 1000 + 500 * 500,
    }


def test_unknown_chunks_are_skipped_with_odd_pad():
    """Insert a LIST chunk of ODD size between fmt and data — the walker
    must skip it plus its pad byte and still find the samples."""
    sig = _sig(10, 2)
    blob = encode_wav(sig, 8000)
    fmt_end = 36
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size → pad
    patched = blob[:fmt_end] + extra + blob[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    arr, rate = decode_wav(patched)
    assert np.array_equal(arr, sig.astype(np.int16))


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"JUNK" + b[4:],                        # bad magic
        lambda b: b[:40],                                 # truncated data chunk
        lambda b: b[:20] + struct.pack("<H", 3) + b[22:],  # float format tag
    ],
)
def test_malformed_raises(mutate):
    blob = encode_wav(_sig(8, 1), 8000)
    with pytest.raises(WavFormatError):
        decode_wav(mutate(blob))


def test_trailing_garbage_after_riff_payload_is_ignored():
    """ADVICE r05: the walk must stop at 8+riff_size — a spurious 'data'
    chunk appended AFTER the declared payload must not replace the real
    samples."""
    sig = _sig(10, 1)
    blob = encode_wav(sig, 8000)
    fake = b"data" + struct.pack("<I", 4) + struct.pack("<hh", 9999, -9999)
    arr, rate = decode_wav(blob + fake)
    assert np.array_equal(arr, sig.astype(np.int16))


def test_duplicate_data_chunk_inside_payload_raises():
    sig = _sig(6, 1)
    blob = encode_wav(sig, 8000)
    dup = b"data" + struct.pack("<I", 2) + struct.pack("<h", 7)
    patched = blob + dup
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    with pytest.raises(WavFormatError, match="duplicate data"):
        decode_wav(patched)


def test_encode_out_of_int16_range_raises():
    """ADVICE r05: astype('<i2') would silently wrap 40000 → -25536."""
    with pytest.raises(WavFormatError, match="int16 range"):
        encode_wav(np.array([0, 40000], dtype=np.int64), 8000)
    with pytest.raises(WavFormatError, match="int16 range"):
        encode_wav(np.array([-32769], dtype=np.int64), 8000)


def test_fuzz_damaged_wav_raises_only_wav_format_error(mutants):
    """Seeded damage to a valid WAV either decodes or raises
    WavFormatError — never struct.error, ValueError or IndexError."""
    outcomes = {"decoded": 0, "WavFormatError": 0}
    for data in mutants(encode_wav(_sig(64, 2), 8000), seed=8):
        try:
            decode_wav(data)
        except WavFormatError:
            outcomes["WavFormatError"] += 1
        else:
            outcomes["decoded"] += 1
    assert all(outcomes.values()), outcomes
