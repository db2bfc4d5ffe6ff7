from __future__ import annotations

import hashlib

import pytest

from thuvienphapluat_crawler_spark.multimodal import (
    FEATURE_DIM,
    decode_stub,
    extract_features,
    media_from_documents,
    sample_frames,
    synth_media,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, media_from_documents(spark, SF)).cache()


def test_media_blobs_are_deterministic_and_typed(spark, media):
    rows = media.limit(5).collect()
    assert rows, "no media items"
    for r in rows:
        assert isinstance(r.content, (bytes, bytearray))
        assert len(r.content) == 4096
        assert bytes(r.content[:4]) == b"FAKE"
        assert r.kind in ("image", "audio", "video")
    # same (doc_id, media_ref) → same bytes on re-generation
    again = {(x.doc_id, x.media_ref): bytes(x.content) for x in media.limit(5).collect()}
    for r in rows:
        assert again[(r.doc_id, r.media_ref)] == bytes(r.content)


def test_feature_extraction_contract(spark, media):
    feats = extract_features(media)
    rows = feats.limit(10).collect()
    for r in rows:
        assert r.format == "fake"
        assert r.n_bytes == 4096
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.features)
        seed = hashlib.md5(f"{r.doc_id}|{r.media_ref}".encode()).digest()
        assert r.width == 64 + seed[0]
        assert r.height == 64 + seed[1]


def test_frame_sampling_shape(spark, media):
    frames = sample_frames(media)
    per_item = frames.groupBy("doc_id", "media_ref").count().collect()
    assert all(r["count"] == 2 for r in per_item)  # 8 frames, every 4th
    idxs = {r.frame_idx for r in frames.select("frame_idx").distinct().collect()}
    assert idxs == {0, 4}


def test_png_payload_decodes_for_real_in_every_mode():
    import numpy as np

    from thuvienphapluat_crawler_spark.sources.pngcodec import encode_png

    blob = encode_png(np.zeros((5, 9, 3), dtype=np.uint8))
    assert decode_stub(blob) == ("png", 9, 5)


def test_url_encode_segment_matches_python_quote(spark):
    from urllib.parse import quote

    from pyspark.sql import functions as F
    from thuvienphapluat_crawler_spark.operators.spans import MEDIA_SLUGS, url_encode_segment

    vals = [f"{s} {i}" for i, s in enumerate(MEDIA_SLUGS)] + ["a b đường 12.pdf"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.e for r in df.select("s", url_encode_segment(F.col("s")).alias("e")).collect()}
    for v in vals:
        # the reference quotes whole keys with safe='/' (upload_pdf_to_s3.py:79);
        # url_encode_segment encodes one path SEGMENT, i.e. quote(seg, safe='')
        assert got[v] == quote(v, safe=""), f"encode mismatch for {v!r}"


def test_route_media_sentinels_are_rows(spark):
    from thuvienphapluat_crawler_spark.multimodal import (
        media_from_documents,
        route_media,
        synth_media,
    )

    media = synth_media(spark, media_from_documents(spark, "/root/testdata/sf0.01"))
    routed = route_media(media).collect()
    by_route = {}
    for r in routed:
        by_route.setdefault(r.route, []).append(r)
    # all three tiers exercised
    assert set(by_route) == {"text_layer", "table_plumber", "vlm_ocr"}
    vlm = by_route["vlm_ocr"]
    errors = [r for r in vlm if r.status == "error"]
    # error sentinels are ROWS (never exceptions), with exhausted retries
    assert errors and all(r.attempts == 3 and r.out_text.startswith("[OCR ERROR") for r in errors)
    # VLM requests carry an unchunked base64 payload of the full blob
    ok = [r for r in vlm if r.status == "ok"]
    assert ok and all(r.payload_b64_len == 5464 for r in ok)
    # non-VLM tiers never build a payload
    assert all(r.payload_b64_len is None for r in by_route["text_layer"] + by_route["table_plumber"])


def test_real_codec_media_features(spark):
    """r05: image items are spec-valid PNGs, audio items spec-valid PCM
    WAVs; extract_features reports dims straight from the real decoders
    and they must equal the synthesis formulas."""
    media = synth_media(spark, media_from_documents(spark, SF), real_codecs=True).cache()
    rows = extract_features(media).collect()
    kinds = {r.kind for r in rows}
    assert {"image", "audio", "video"} <= kinds
    for r in rows:
        seed = hashlib.md5(f"{r.doc_id}|{r.media_ref}".encode()).digest()
        s0, s1 = seed[0], seed[1]
        if r.kind == "image":
            assert r.format == "png"
            assert (r.width, r.height) == (8 + s0 % 8, 6 + s1 % 4)
        elif r.kind == "audio":
            assert r.format == "wav"
            assert (r.width, r.height) == (64 + s0 % 64, 1 + s1 % 2)
        else:
            assert r.format == "avi"
            assert (r.width, r.height) == (8 + s0 % 5, 6 + s1 % 3)
    # magics prove the blobs really are the claimed containers
    for r in media.collect():
        b = bytes(r.content)
        if r.kind == "image":
            assert b[:8] == b"\x89PNG\r\n\x1a\n"
        elif r.kind == "audio":
            assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
        else:
            assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    media.unpersist()


def test_real_avi_frames_sampled_from_decoded_video(spark):
    """r06: video items are spec-valid uncompressed-DIB AVIs; the frame
    sampler walks ACTUAL decoded frames (every 2nd), with frame_bytes =
    w*h*3 of the decoded canonical RGB — not byte chunks of the blob."""
    media = synth_media(
        spark, media_from_documents(spark, SF), real_codecs=True
    ).filter("kind = 'video'").cache()
    frames = sample_frames(media, every_k=2).collect()
    assert frames, "no video items at this SF"
    by_item = {}
    for r in frames:
        by_item.setdefault((r.doc_id, r.media_ref), []).append(r)
    for (doc_id, ref), rs in by_item.items():
        seed = hashlib.md5(f"{doc_id}|{ref}".encode()).digest()
        s0, s1 = seed[0], seed[1]
        w, h, nf = 8 + s0 % 5, 6 + s1 % 3, 3 + s0 % 4
        assert sorted(r.frame_idx for r in rs) == list(range(0, nf, 2))
        assert all(r.frame_bytes == w * h * 3 for r in rs)
        assert len({r.frame_md5 for r in rs}) == len(rs)  # frames differ (t term)
    media.unpersist()
