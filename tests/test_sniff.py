"""Magic-byte sniffer (sources/sniff.py): every codec + edge cases."""

from __future__ import annotations

import numpy as np

from thuvienphapluat_crawler_spark.sources.sniff import sniff_format


def test_all_real_codecs_round_trip_through_sniffer():
    from thuvienphapluat_crawler_spark.sources.avicodec import encode_avi
    from thuvienphapluat_crawler_spark.sources.pdfdoc import build_pdf
    from thuvienphapluat_crawler_spark.sources.pngcodec import encode_png
    from thuvienphapluat_crawler_spark.sources.sitemap import encode_urlset
    from thuvienphapluat_crawler_spark.sources.warccodec import encode_record
    from thuvienphapluat_crawler_spark.sources.wavcodec import encode_wav
    from thuvienphapluat_crawler_spark.sources.workbook import build_xlsx

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    vid = np.zeros((2, 4, 4, 3), dtype=np.uint8)
    wav = np.zeros((8, 1), dtype=np.int64)
    cases = [
        (build_pdf([["x"]]), ("pdf", 1)),
        (encode_png(img), ("png", 1)),
        (encode_wav(wav, 8000), ("wav", 2)),
        (encode_avi(vid, 10), ("avi", 2)),
        (encode_record("https://h/1", b"x"), ("warc", 1)),
        (build_xlsx({"S": [["a"]]}), ("xlsx", 2)),
        (encode_urlset([("https://h/1", "2026-01-01")]).encode(), ("xml", 1)),
    ]
    for blob, expected in cases:
        assert sniff_format(blob) == expected, expected


def test_riff_with_unknown_subtype():
    assert sniff_format(b"RIFF\x04\x00\x00\x00WEBP") == ("riff", 2)


def test_plain_zip_vs_docx():
    import io
    import zipfile

    for names, expected in [
        (["a.txt"], "zip"),
        (["[Content_Types].xml", "word/document.xml"], "docx"),
        (["[Content_Types].xml", "other/part.xml"], "ooxml"),
    ]:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for n in names:
                z.writestr(n, "x")
        assert sniff_format(buf.getvalue())[0] == expected


def test_text_and_binary_junk():
    assert sniff_format("xin chào".encode()) == ("text", 1)
    assert sniff_format(b"\xff\xfe\xfd\x00junk") == ("unknown", 0)
    assert sniff_format(b"  <?xml version='1.0'?><r/>") == ("xml", 1)


def test_truncated_riff_is_not_misclassified():
    # 'RIFF' with fewer than 12 bytes cannot prove a subtype
    assert sniff_format(b"RIFF\x00\x00")[0] != "wav"


def test_fuzz_damaged_blobs_never_raise(mutants):
    """Seeded damage to every real codec's output still sniffs to a
    (format, confidence) pair: the sniffer never raises."""
    from thuvienphapluat_crawler_spark.sources.pngcodec import encode_png
    from thuvienphapluat_crawler_spark.sources.warccodec import encode_record
    from thuvienphapluat_crawler_spark.sources.wavcodec import encode_wav
    from thuvienphapluat_crawler_spark.sources.workbook import build_xlsx

    blobs = [
        encode_png(np.zeros((4, 4, 3), dtype=np.uint8)),
        encode_wav(np.zeros((8, 1), dtype=np.int64), 8000),
        encode_record("https://h/1", b"x"),
        build_xlsx({"S": [["a"]]}),
    ]
    for seed, blob in enumerate(blobs, start=11):
        for data in mutants(blob, seed=seed):
            kind, conf = sniff_format(data)
            assert isinstance(kind, str) and isinstance(conf, int), (kind, conf)
