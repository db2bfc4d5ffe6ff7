"""Minimal real AVI/RIFF video container codec (the last fake modality
through r05; reference: the crawler routes media through external
decoders — ocr/ocr_pdf.py:37-45, ocr/sample_ocr_5pages.py:104-107
golden-frame selection — and the multimodal table models video the same
way, as an opaque binary column plus typed metadata).

ffmpeg is absent from the container, but an uncompressed-DIB AVI is pure
stdlib: the same RIFF chunk framing as wavcodec.py with a 'hdrl' header
list (avih main header + one 'vids' stream: strh + BITMAPINFOHEADER
strf), a 'movi' list of '00db' frame chunks (bottom-up BGR rows padded
to 4-byte boundaries — the classic DIB layout), and an 'idx1' index.
encode_avi writes a spec-valid file; decode_avi walks the chunk tree
honestly (bounded at the declared RIFF size, unknown chunks skipped,
odd-size pad bytes honored, magics/fmt fields validated, duplicate
header chunks rejected) and returns the frame tensor in canonical
top-down RGB — so video joins PNG and WAV as a REAL modality.

What still genuinely needs a native library: every compressed codec
(MJPEG/H.264/VP9), audio-muxed streams, and B-frame reordering — those
stay behind the multimodal.py decode flag.
"""

from __future__ import annotations

import struct

import numpy as np


class AviFormatError(ValueError):
    pass


def _chunk(tag: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _list(kind: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", kind + payload)


def encode_avi(frames: np.ndarray, fps: int) -> bytes:
    """Uncompressed RGB24 AVI from an (n_frames, h, w, 3) uint8 tensor
    (canonical top-down RGB in, bottom-up BGR DIB rows on disk)."""
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise AviFormatError(f"expected (n, h, w, 3) RGB tensor, got {frames.shape}")
    if frames.dtype != np.uint8:
        raise AviFormatError(f"expected uint8 pixels, got {frames.dtype}")
    n, h, w, _ = frames.shape
    if n < 1 or h < 1 or w < 1 or fps < 1:
        raise AviFormatError("empty video or non-positive fps")
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    size_image = stride * h

    def dib(frame: np.ndarray) -> bytes:
        bgr = frame[::-1, :, ::-1]  # bottom-up rows, BGR channel order
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        return rows.tobytes()

    frame_chunks = [_chunk(b"00db", dib(f)) for f in frames]
    movi_payload = b"".join(frame_chunks)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        size_image * fps,  # dwMaxBytesPerSec
        0,                 # dwPaddingGranularity
        0x10,              # dwFlags = AVIF_HASINDEX
        n, 0, 1,           # totalFrames, initialFrames, streams
        size_image,        # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, fps, 0, n, size_image, 0, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, size_image, 0, 0, 0, 0)
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    # idx1 offsets are relative to the 'movi' fourcc (first chunk at 4)
    idx_entries, off = [], 4
    for ck in frame_chunks:
        size = struct.unpack("<I", ck[4:8])[0]
        idx_entries.append(struct.pack("<4sIII", b"00db", 0x10, off, size))
        off += len(ck)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + _list(b"movi", movi_payload) + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk(data: bytes, pos: int, end: int):
    """Yield (tag, list_kind_or_None, payload_start, payload_size) over a
    chunk run, honoring odd-size pad bytes and the declared bound."""
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if pos + 8 + size > end:
            raise AviFormatError(f"truncated {tag!r} chunk")
        if tag == b"LIST":
            if size < 4:
                raise AviFormatError("LIST chunk too short")
            yield tag, data[pos + 8 : pos + 12], pos + 12, size - 4
        else:
            yield tag, None, pos + 8, size
        pos += 8 + size + (size % 2)


def decode_avi(data: bytes) -> tuple[np.ndarray, int]:
    """Parse an uncompressed RGB24 AVI → ((n, h, w, 3) uint8 top-down RGB
    tensor, fps). Raises AviFormatError on anything that is not a
    canonical single-video-stream DIB file."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise AviFormatError("not a RIFF/AVI file")
    riff_size = struct.unpack("<I", data[4:8])[0]
    if riff_size + 8 > len(data):
        raise AviFormatError("truncated RIFF payload")
    end = min(len(data), 8 + riff_size)  # trailing garbage must not decode

    avih = strh = strf = None
    frame_payloads: list[tuple[int, int]] = []
    for tag, kind, start, size in _walk(data, 12, end):
        if tag == b"LIST" and kind == b"hdrl":
            for t2, k2, s2, z2 in _walk(data, start, start + size):
                if t2 == b"avih":
                    if avih is not None:
                        raise AviFormatError("duplicate avih chunk")
                    avih = data[s2 : s2 + z2]
                elif t2 == b"LIST" and k2 == b"strl":
                    for t3, _k3, s3, z3 in _walk(data, s2, s2 + z2):
                        if t3 == b"strh":
                            if strh is not None:
                                raise AviFormatError("multiple streams unsupported")
                            strh = data[s3 : s3 + z3]
                        elif t3 == b"strf":
                            if strf is not None:
                                raise AviFormatError("duplicate strf chunk")
                            strf = data[s3 : s3 + z3]
        elif tag == b"LIST" and kind == b"movi":
            for t2, _k2, s2, z2 in _walk(data, start, start + size):
                if t2 in (b"00db", b"00dc"):
                    frame_payloads.append((s2, z2))
    if avih is None or strh is None or strf is None:
        raise AviFormatError("missing avih/strh/strf header chunk")
    if len(avih) < 40 or len(strh) < 48 or len(strf) < 40:
        raise AviFormatError("header chunk too short")
    if strh[:4] != b"vids":
        raise AviFormatError(f"not a video stream: {strh[:4]!r}")
    scale, rate = struct.unpack("<II", strh[20:28])
    if scale < 1 or rate < scale:
        raise AviFormatError("inconsistent strh scale/rate")
    _bisize, w, h, _planes, bits, compression = struct.unpack("<IiiHHI", strf[:20])
    if bits != 24 or compression != 0:
        raise AviFormatError(
            f"only uncompressed RGB24 DIB supported (got bits={bits}, "
            f"compression={compression}); MJPEG/H.264 need ffmpeg"
        )
    if w < 1 or h == 0:
        raise AviFormatError("bad frame dimensions")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if not frame_payloads:
        raise AviFormatError("no frame chunks in movi list")
    # every frame's byte count is checked BEFORE allocating: the header's
    # w/h alone must not size the output tensor
    for i, (_s, z) in enumerate(frame_payloads):
        if z != stride * h:
            raise AviFormatError(f"frame {i}: {z} bytes, expected {stride * h}")
    out = np.empty((len(frame_payloads), h, w, 3), dtype=np.uint8)
    for i, (s, z) in enumerate(frame_payloads):
        rows = np.frombuffer(data[s : s + z], dtype=np.uint8).reshape(h, stride)
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        if bottom_up:
            bgr = bgr[::-1]
        out[i] = bgr[:, :, ::-1]
    return out, rate // scale


def avi_frame_stats(data: bytes) -> list[dict]:
    """Decode + per-frame summary: integer-exact pixel sums plus
    frame_md5 = md5 over the LOWERCASE-HEX string of the canonical
    row-major RGB bytes (not the raw bytes: DuckDB's md5 is
    VARCHAR-only, so the hex-string form is the one an oracle can
    replay closed-form from the synthesis pixel formula — still a
    full-codec gate, since the hex derives from the DECODED pixels)."""
    import hashlib

    frames, fps = decode_avi(data)
    n, h, w, _ = frames.shape
    out = []
    for idx in range(n):
        f = frames[idx]
        out.append(
            {
                "frame_idx": idx,
                "fps": int(fps),
                "width": int(w),
                "height": int(h),
                "pix_sum": int(f.astype(np.int64).sum()),
                "frame_md5": hashlib.md5(f.tobytes().hex().encode()).hexdigest(),
            }
        )
    return out
