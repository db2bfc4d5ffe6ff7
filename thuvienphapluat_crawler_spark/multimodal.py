"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference routes media through external decoders (PyMuPDF page→PNG
ocr/ocr_pdf.py:37-45, pdfplumber tables, soffice DOC conversion); those
libraries are not in this container. PNG, PCM WAV and uncompressed AVI
decode for real (sources/); every other format gets a deterministic
fake decode, while everything Spark-side is real and tested: the
binary schema, the Arrow batch shape through mapInPandas, partition-size
control for fat binary rows, and the feature/metadata contracts.

Scale design: binary payloads never cross a shuffle — features and
metadata are extracted in the scan-side mapInPandas pass and only the
narrow (doc_id, media_ref, features, meta) rows shuffle afterwards.
`spark.sql.files.maxPartitionBytes` governs scan partitioning for the
binaryFile source; for a media table the same is achieved by writing
media parquet with a small row-group target.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rowmap import flat_map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),  # 'image' | 'audio' | 'video'
        T.StructField("content", T.BinaryType()),
    ]
)

FEATURE_DIM = 8

# size of every fake-decoded blob; route_media's payload oracle replays it
FAKE_BLOB_BYTES = 4096

FEATURES_SCHEMA = (
    "doc_id string, media_ref string, kind string, n_bytes long, "
    "format string, width int, height int, features array<double>"
)

FRAME_SCHEMA = "doc_id string, media_ref string, frame_idx int, frame_bytes long, frame_md5 string"


def synth_media(
    spark: SparkSession, docs: DataFrame, real_codecs: bool = False, order: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic media blobs derived from (doc_id, media_ref).

    Default: a fake header (format tag + dims) followed by md5-stretched
    bytes — the fixed-size opaque stand-in for the S3 PDFs/PNGs of
    upload_pdf_to_s3.py (blob length is closed-form, which the base64
    payload contract of route_media relies on).

    real_codecs=True (r05; video r06): image items become spec-valid
    PNGs (sources/pngcodec), audio items spec-valid PCM WAVs
    (sources/wavcodec), and video items spec-valid uncompressed-DIB
    AVIs (sources/avicodec) — all with seed-derived dims/params and
    pixel/sample formulas an oracle can replay. The remaining ffmpeg
    boundary is COMPRESSED video (MJPEG/H.264), not the container.

    With `order`, the rows come sorted by it (flat_map_rows' `order`);
    a later per-row pass or projection keeps that order."""
    from .sources.avicodec import encode_avi
    from .sources.pngcodec import encode_png
    from .sources.wavcodec import encode_wav

    def item(doc_id, ref, kind):
        seed = hashlib.md5(f"{doc_id}|{ref}".encode()).digest()
        s0, s1 = seed[0], seed[1]
        if real_codecs and kind == "image":
            w, h = 8 + s0 % 8, 6 + s1 % 4
            i = np.arange(h)[:, None]
            j = np.arange(w)[None, :]
            img = np.stack(
                [
                    (s0 + 3 * i + 7 * j) % 256,
                    (s1 + 5 * i + j) % 256,
                    (s0 + s1 + i + 11 * j) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            blob = encode_png(img)
        elif real_codecs and kind == "audio":
            n, ch = 64 + s0 % 64, 1 + s1 % 2
            i = np.arange(n, dtype=np.int64)[:, None]
            c = np.arange(ch, dtype=np.int64)[None, :]
            blob = encode_wav(((i * (s0 + 1) + 7 * c) % 2001) - 1000, 8000)
        elif real_codecs and kind == "video":
            w, h, n_fr = 8 + s0 % 5, 6 + s1 % 3, 3 + s0 % 4
            t = np.arange(n_fr)[:, None, None, None]
            i = np.arange(h)[None, :, None, None]
            j = np.arange(w)[None, None, :, None]
            c = np.arange(3)[None, None, None, :]
            vid = ((s0 * (c + 1) + 2 * t + 3 * i + 7 * j + 5 * c + s1) % 256).astype(
                np.uint8
            )
            blob = encode_avi(vid, 10)
        else:
            header = b"FAKE" + bytes([s0, s1]) + kind[:1].encode()
            body = (seed * (FAKE_BLOB_BYTES // 16 + 1))[: FAKE_BLOB_BYTES - len(header)]
            blob = header + body
        yield doc_id, ref, kind, blob

    return flat_map_rows(docs.select("doc_id", "media_ref", "kind"), item, MEDIA_SCHEMA, order)


def decode_stub(content: bytes) -> tuple[str, int, int]:
    """Decode step → (format, width, height).

    PNG payloads are decoded FOR REAL (sources/pngcodec — stdlib
    zlib+CRC codec, r03), and so are PCM WAVs since r05
    (sources/wavcodec; width=n_frames, height=n_channels — the audio
    shape in the image-shaped metadata contract) and uncompressed-DIB
    AVIs (sources/avicodec). The remaining formats (JPEG via PIL, video
    via ffmpeg, PDF rasterization via PyMuPDF — not installed in this
    container) get the deterministic fake below."""
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        from .sources.pngcodec import decode_png

        img = decode_png(content)
        return "png", int(img.shape[1]), int(img.shape[0])
    if len(content) >= 12 and content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        from .sources.wavcodec import decode_wav

        arr, _rate = decode_wav(content)
        return "wav", int(arr.shape[0]), int(arr.shape[1])
    if len(content) >= 12 and content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        from .sources.avicodec import decode_avi

        frames, _fps = decode_avi(content)
        return "avi", int(frames.shape[2]), int(frames.shape[1])
    if content[:4] == b"FAKE":
        return "fake", 64 + content[4], 64 + content[5]
    return "unknown", 0, 0


def extract_features(media: DataFrame) -> DataFrame:
    """Media table → per-item metadata + FEATURE_DIM-dim embedding.
    Arrow-batched; binary stays inside the scan-side pass (never shuffled)."""

    def feats(doc_id, ref, kind, content):
        fmt, w, h = decode_stub(bytes(content))
        digest = hashlib.md5(bytes(content)).digest()
        vec = (np.frombuffer(digest[:FEATURE_DIM], dtype=np.uint8) / 255.0).astype(np.float64)
        yield doc_id, ref, kind, len(content), fmt, w, h, list(vec)

    return flat_map_rows(
        media.select("doc_id", "media_ref", "kind", "content"), feats, FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, frame_size: int = 512, every_k: int = 4) -> DataFrame:
    """Video frame sampling, keep every k-th frame (the reference picks
    golden sample pages the same way — ocr/sample_ocr_5pages.py:104-107).

    RIFF/AVI blobs decode FOR REAL (sources/avicodec, r06): frame_idx
    walks actual decoded frames, frame_bytes is the canonical RGB
    payload size, frame_md5 = md5 over the lowercase hex of the decoded
    pixels (the DuckDB-replayable form — see avi_frame_stats). Non-AVI
    blobs keep the byte-chunk sampler (compressed codecs = the ffmpeg
    boundary). Binary never leaves the scan-side pass either way."""
    from .sources.avicodec import decode_avi

    def frames(doc_id, ref, content):
        b = bytes(content)
        if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI ":
            vid, _fps = decode_avi(b)
            for idx in range(0, vid.shape[0], every_k):
                raw = vid[idx].tobytes()
                yield doc_id, ref, idx, len(raw), hashlib.md5(raw.hex().encode()).hexdigest()
        else:
            n_frames = (len(b) + frame_size - 1) // frame_size
            for idx in range(0, n_frames, every_k):
                chunk = b[idx * frame_size : (idx + 1) * frame_size]
                yield doc_id, ref, idx, len(chunk), hashlib.md5(chunk).hexdigest()

    return flat_map_rows(media.select("doc_id", "media_ref", "content"), frames, FRAME_SCHEMA)


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media worklist from the documents table's span model: one media
    item per interleaved media span (kind cycles image/audio/video)."""
    from .operators.spans import explode_to_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the test-SF file is one row group → one scan task; the Python codec
    # synthesis downstream runs in this stage, so spread it across cores
    # (no-op-sized shuffle of narrow rows at warehouse scale)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    spans = explode_to_spans(docs).filter(F.col("kind") == "media")
    # kind cycles with doc_id + offset: offset alone only ever takes values
    # {4, 9} on this corpus (≤2 media spans/doc), which left 'video' a kind
    # that never occurred — folding doc_id in exercises all three branches
    return spans.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "media_ref",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id") + F.col("offset"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
    )


def route_media(media: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """OCR tier routing + retry/sentinel semantics (SURVEY §4 'tiered
    strategy selection'): a when/otherwise routing column picks

      text_layer    — page has an extractable text layer → cheap tier
                      (test_ocr_quality.py:38-44, the no-OCR baseline)
      table_plumber — bordered table detected (page has ruling lines) →
                      pdfplumber tier (extract_tables.py:68-74)
      vlm_ocr       — borderless/no text layer → remote VLM with 3
                      bounded retries and an error SENTINEL row, never
                      an exception (ocr_pdf.py:48-74); the request
                      payload is base64(content) (ocr_pdf.py:50)

    Routing signals derive from the item identity hash (the synthetic
    stand-ins for 'page.get_text() != \"\"' and 'len(page.lines) > 0');
    the base64 payload is computed JVM-side over the real binary column
    and only its length/head leave the scan stage."""
    md = F.md5(F.concat(F.col("doc_id"), F.lit("|"), F.col("media_ref")))
    has_text = F.conv(F.substring(md, 5, 2), 16, 10).cast("int") % 4 == 0
    n_lines = F.conv(F.substring(md, 7, 2), 16, 10).cast("int") % 3
    route = (
        F.when(has_text, "text_layer")
        .when(n_lines > 0, "table_plumber")
        .otherwise("vlm_ocr")
    )
    h0 = F.conv(F.substring(md, 1, 1), 16, 10).cast("int")
    is_vlm = ~has_text & (n_lines == 0)
    status = F.when(is_vlm & (h0 == 0), "error").otherwise("ok")
    attempts = (
        F.when(~is_vlm, 1).when(h0 == 0, 3).when(h0.isin(1, 2), 2).otherwise(1)
    )
    # Spark's base64 is MIME-chunked (CRLF every 76 chars); the VLM
    # payload (and the oracle's to_base64) is the unchunked form
    b64 = F.regexp_replace(F.base64(F.col("content")), "[\\r\\n]", "")
    return media.select(
        "doc_id",
        "media_ref",
        "kind",
        route.alias("route"),
        status.alias("status"),
        attempts.cast("int").alias("attempts"),
        F.when(is_vlm, F.length(b64)).cast("bigint").alias("payload_b64_len"),
        F.when(is_vlm, F.substring(b64, 1, 16)).alias("payload_b64_head"),
        F.when(is_vlm & (h0 == 0), F.lit("[OCR ERROR: max retries]"))
        .when(is_vlm, F.lit("vlm-ocr text"))
        .when(has_text, F.lit("text-layer text"))
        .otherwise(F.lit("| bordered | table |"))
        .alias("out_text"),
        *passthrough,  # caller metrics ride along the same scan-side pass
    )
