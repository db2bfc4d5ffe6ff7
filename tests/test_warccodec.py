"""WARC/1.0 codec: byte-exact roundtrip + strict walker validation.

Reference framing: the crawler's text-file sink (pipeline.py:71-74)
scaled to the Common Crawl segment format; the walker's offsets are the
CDX-index contract the warc_roundtrip oracle replays closed-form.
"""

from __future__ import annotations

import hashlib

import pytest

from thuvienphapluat_crawler_spark.sources.warccodec import (
    WARC_DATE,
    WarcFormatError,
    decode_warc,
    encode_record,
    encode_warc,
    record_id_for,
)

RECORDS = [
    ("https://docs.example.test/1", b"hello world"),
    ("https://docs.example.test/22", b""),  # empty payload is legal
    ("https://docs.example.test/333", b"x" * 1000),
]


def test_roundtrip_headers_payloads_offsets():
    blob = encode_warc(RECORDS)
    out = decode_warc(blob)
    assert len(out) == 3
    running = 0
    for (uri, payload), (off, hdrs, got) in zip(RECORDS, out):
        assert off == running
        assert got == payload
        assert hdrs["WARC-Target-URI"] == uri
        assert hdrs["WARC-Type"] == "response"
        assert hdrs["WARC-Date"] == WARC_DATE
        assert hdrs["WARC-Record-ID"] == record_id_for(uri)
        assert int(hdrs["Content-Length"]) == len(payload)
        running += len(encode_record(uri, payload))
    assert running == len(blob)


def test_offset_is_reparseable_record_start():
    blob = encode_warc(RECORDS)
    for off, hdrs, payload in decode_warc(blob):
        # a CDX consumer seeks to the offset and parses ONE record
        (off2, hdrs2, payload2), *_ = decode_warc(blob[off:])
        assert (off2, hdrs2, payload2) == (0, hdrs, payload)


def test_binary_payload_with_crlf_inside():
    # Content-Length framing must carry payloads containing \r\n\r\n
    tricky = b"a\r\n\r\nWARC/1.0\r\nb"
    blob = encode_warc([("https://h/x", tricky)])
    [(_, _, payload)] = decode_warc(blob)
    assert payload == tricky


def test_truncated_payload_raises():
    blob = encode_warc(RECORDS)
    with pytest.raises(WarcFormatError, match="truncated|trailer"):
        decode_warc(blob[:-10])


def test_bad_version_line_raises():
    with pytest.raises(WarcFormatError, match="version"):
        decode_warc(b"WARC/9.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n")


def test_missing_content_length_raises():
    bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n\r\n\r\n"
    with pytest.raises(WarcFormatError, match="Content-Length"):
        decode_warc(bad)


def test_duplicate_header_raises():
    bad = (
        b"WARC/1.0\r\nContent-Length: 0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    )
    with pytest.raises(WarcFormatError, match="duplicate"):
        decode_warc(bad)


def test_missing_trailer_raises():
    rec = encode_record("https://h/y", b"abc")
    with pytest.raises(WarcFormatError, match="trailer|truncated"):
        decode_warc(rec[:-4] + b"XXXX")


def test_record_id_is_content_derived():
    uri = "https://docs.example.test/7"
    assert record_id_for(uri) == f"<urn:md5:{hashlib.md5(uri.encode()).hexdigest()}>"


def test_fuzz_damaged_warc_raises_only_warc_format_error(mutants):
    """Seeded damage to a valid WARC file either decodes or raises
    WarcFormatError — never UnicodeDecodeError, ValueError or IndexError."""
    outcomes = {"decoded": 0, "WarcFormatError": 0}
    for data in mutants(encode_warc(RECORDS), seed=9):
        try:
            decode_warc(data)
        except WarcFormatError:
            outcomes["WarcFormatError"] += 1
        else:
            outcomes["decoded"] += 1
    assert all(outcomes.values()), outcomes
