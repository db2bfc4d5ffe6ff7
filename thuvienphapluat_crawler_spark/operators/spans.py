"""Interleaved text+media span model (the input_hint payload).

A document is an ordered sequence of spans
    struct<kind:string, text:string, media_ref:string, offset:int>
mirroring the reference's interleaving of prose, markdown tables and
page images / PDF attachments (reference: ocr/ocr_pdf.py:168-171,
ocr/extract_tables.py:80-93, upload_pdf_to_s3.py:79-80).

Construction is deterministic and pure-Catalyst: split → sequence →
explode → union → array re-assembly with sort_array on offset (never
trust collect_list order — SURVEY §7 hard-part (e)).

Layout: every WORDS_PER_SPAN words becomes one text span; after every
MEDIA_EVERY text spans a media span is interleaved whose media_ref is
an S3-style permanent URL (reference: upload_pdf_to_s3.py:79-80).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WORDS_PER_SPAN = 12
MEDIA_EVERY = 4
MEDIA_URL_PREFIX = "https://tvpl-media.s3.ap-southeast-1.amazonaws.com"

# Vietnamese document-type slugs for the media key's path segment — the
# part of the S3 key that actually needs quoting (the reference quotes
# its keys: upload_pdf_to_s3.py:79 `quote(s3_key, safe='/')`).
MEDIA_SLUGS = ["Luật", "Nghị định", "Thông tư", "Quyết định", "Nghị quyết"]


def url_encode_segment(col: F.Column) -> F.Column:
    """Percent-encode one S3 path segment exactly like Python's
    quote(..., safe='/') on segment text (upload_pdf_to_s3.py:79):
    Spark's url_encode is form-encoding (space→'+'), so '+' is mapped
    back to '%20'. Identical for any text without literal '+'/'*'/'~'."""
    return F.replace(F.url_encode(col), F.lit("+"), F.lit("%20"))

def explode_to_spans(docs: DataFrame, doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents(doc_id, text) → one row per span (doc_id, offset, kind, text, media_ref).

    Text span i sits at offset i + i/MEDIA_EVERY; the j-th media span at
    offset j*(MEDIA_EVERY+1)-1 — a deterministic interleaving so the
    span order is reproducible under any task schedule.
    """
    words = F.split(F.col(text_col), " ")
    n_text = F.ceil(F.size(words) / F.lit(float(WORDS_PER_SPAN))).cast("int")
    base = docs.select(F.col(doc_col).alias("doc_id"), words.alias("_ws"), n_text.alias("_nt"))

    text_spans = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("_nt") - 1)).alias("_i"),
        "_ws",
    ).select(
        "doc_id",
        (F.col("_i") + F.floor(F.col("_i") / MEDIA_EVERY)).cast("int").alias("offset"),
        F.lit("text").alias("kind"),
        F.array_join(F.slice(F.col("_ws"), F.col("_i") * WORDS_PER_SPAN + 1, WORDS_PER_SPAN), " ").alias("text"),
        F.lit("").alias("media_ref"),
    )

    media_spans = (
        base.filter(F.col("_nt") >= MEDIA_EVERY)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.floor(F.col("_nt") / MEDIA_EVERY).cast("int"))).alias("_j"),
        )
        .select(
            "doc_id",
            (F.col("_j") * (MEDIA_EVERY + 1) - 1).cast("int").alias("offset"),
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(
                F.lit(MEDIA_URL_PREFIX + "/"),
                url_encode_segment(
                    F.concat(
                        F.element_at(
                            F.array(*[F.lit(s) for s in MEDIA_SLUGS]),
                            (F.col("doc_id") % 5 + 1).cast("int"),
                        ),
                        F.lit(" "),
                        F.col("doc_id").cast("string"),
                    )
                ),
                F.lit("/page_"),
                F.col("_j").cast("string"),
                F.lit(".pdf"),
            ).alias("media_ref"),
        )
    )
    return text_spans.unionByName(media_spans)


def assemble_spans(span_rows: DataFrame) -> DataFrame:
    """(doc_id, offset, kind, text, media_ref) rows → documents(doc_id, spans)
    with spans sorted by offset (the input_hint schema)."""
    return span_rows.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("kind", "text", "media_ref", "offset"))
        ).alias("_unsorted")
    ).select(
        "doc_id",
        F.expr("array_sort(_unsorted, (a, b) -> a.offset - b.offset)").alias("spans"),
    )


def spans_to_rows(docs_with_spans: DataFrame) -> DataFrame:
    """Inverse of assemble_spans via posexplode (SURVEY §2.10: UDTF-free)."""
    return docs_with_spans.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
