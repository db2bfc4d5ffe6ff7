"""Vietnamese legal-text operators as column expressions plus the line merge.

Reproduces the reference's text semantics (NOT its code):
  - paragraph-start predicate battery   (reference: pipeline.py:262-298)
  - sentence-end / Điều-title-end flush (reference: pipeline.py:308-311)
  - ordered regex postprocess fold      (reference: pipeline.py:325-384)
  - line→paragraph merge state machine  (reference: pipeline.py:256-322)

The merge comes in two forms that give the same paragraphs. Over line
rows it is a window sessionization (lag + cumsum of new-paragraph flags
→ groupBy paragraph id; merge_lines_to_paragraphs). Where one page's or
document's lines are already in hand it is the buffer machine
(merge_buffer_machine), which reads lines the way Spark's Java regexes
do, so the two forms agree on every line.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Vietnamese uppercase letters (for heading patterns); Java-regex safe.
_VUP = "A-ZĐÁÀẢÃẠĂẮẰẲẴẶÂẤẦẨẪẬÉÈẺẼẸÊẾỀỂỄỆÍÌỈĨỊÓÒỎÕỌÔỐỒỔỖỘƠỚỜỞỠỢÚÙỦŨỤƯỨỪỬỮỰÝỲỶỸỴ"

# The reference's 25-pattern new-paragraph battery (pipeline.py:262-288),
# verbatim semantics, compiled to one alternation. A line STARTS a new
# paragraph iff it matches. (Portable across Java regex and RE2 — no
# lookarounds — so the DuckDB oracle replays the identical pattern.)
NEW_PARAGRAPH_PATTERNS: list[str] = [
    r"^Chương\s+[IVXLCDM]+",
    r"^Mục\s+\d+",
    r"^Điều\s+\d+",
    r"^\d+\.\s",
    r"^[a-zđ]\)\s",
    r"^-\s",
    r"^PHỤ LỤC",
    r"^NGHỊ ĐỊNH",
    r"^Căn cứ",
    r"^Theo đề nghị",
    r"^Nơi nhận:",
    r"^TM\.",
    r"^CỘNG HÒA",
    r"^CHÍNH PHỦ",
    r"^Số:",
    r"^Hà Nội,",
    r"^Biểu số",
    r"^BẢNG",
    r"^TT$",
    r"^I\.\s",
    r"^II\.\s",
    r"^III\.\s",
    r"^IV\.\s",
    r"^V\.\s",
    r"^VI\.\s",
]
NEW_PARAGRAPH_PATTERN = "|".join(NEW_PARAGRAPH_PATTERNS)

SENTENCE_END_PATTERN = r"[.;:?!]$"                   # pipeline.py:311
# buffer-flush rule: the ACCUMULATED buffer is re.search'd against this
# (pipeline.py:291,308) — not just the previous line
DIEU_TITLE_END_PATTERN = r"Điều\s+\d+\.\s+[^\n]+$"
LINE_STRIP_PATTERN = r"^\s+|\s+$"                     # line.strip(), pipeline.py:294
TOOLTIP_NOISE = "Click vào để xem nội dung"          # pipeline.py:148


def is_new_paragraph(line: Column) -> Column:
    return line.rlike(NEW_PARAGRAPH_PATTERN)


def ends_sentence(line: Column) -> Column:
    return line.rlike(SENTENCE_END_PATTERN)


def is_dieu_title(line: Column) -> Column:
    return line.rlike(DIEU_TITLE_END_PATTERN)


# ---------------------------------------------------------------------------
# The full doc_name-parameterized postprocess fold (reference:
# pipeline.py:325-384). ORDER-SENSITIVE — applied as one fixed fold.
# Character classes are the reference's Vietnamese upper/lowercase sets
# (pipeline.py:368-372), kept byte-identical so titles match the same way.
# ---------------------------------------------------------------------------

# Vietnamese lowercase letters (pipeline.py:368 lowercase class)
_VLO = "a-zđàáảãạăắằẳẵặâấầẩẫậèéẻẽẹêếềểễệìíỉĩịòóỏõọôốồổỗộơớờởỡợùúủũụưứừửữựỳýỷỹỵ"
# title tail: "Điều N." + spaces + Uppercase + lowercase word (pipeline.py:367-368)
_DIEU_TITLE_BODY = rf"Điều\s+\d+\.[ \t]+[{_VUP}][{_VLO}]+"
# quote class: ASCII " plus curly “ ” (pipeline.py:360,368,374)
_QUOTES = '"“”'

CLICK_NOTE = "[Click vào để xem nội dung]"  # pipeline.py:342-343

# regex metachars to escape when a doc_name is interpolated into a
# pattern (the engine's analogue of re.escape, pipeline.py:374,376;
# escaping only true metachars keeps the pattern valid in both Java
# regex and RE2 — escape-rule differences on safe chars don't change
# what the pattern matches)
_META = r"([.^$|?*+()\[\]{}\\])"


def regex_escape(col: Column) -> Column:
    """Escape regex metacharacters in a column value (re.escape analogue)."""
    return F.regexp_replace(col, _META, r"\\$1")


def replacement_escape(col: Column) -> Column:
    r"""Escape \ and $ so a column value is literal inside a Java-regex
    replacement string."""
    out = F.regexp_replace(col, r"\\", r"\\\\")
    return F.regexp_replace(out, r"\$", r"\\\$")


def postprocess_fold(content: Column, doc_name: Column) -> Column:
    """The reference's ordered 14-step regex rewrite (pipeline.py:339-382),
    parameterized by doc_name, as a chained regexp_replace fold — pure
    Catalyst expressions (whole-stage codegen'd), no Python in the path.

    Steps, in the reference's order:
       1 lone-dot line removal                      (pipeline.py:339)
       2 click-note strip (with/without space)      (pipeline.py:342-343)
       3 khoản split after ']' (newline form)       (pipeline.py:346)
       4 khoản split after ']' (inline form)        (pipeline.py:347)
       5 doc_name prefix before Chương              (pipeline.py:350)
       6 doc_name prefix before Mục                 (pipeline.py:353)
       7 lone-quote join onto following Điều        (pipeline.py:360)
       8 break + prefix mid-line Điều titles        (pipeline.py:368)
       9 prefix line-start Điều titles              (pipeline.py:370)
      10 join split "Điều N.\\nTitle" + prefix       (pipeline.py:372)
      11 de-prefix quoted (cited) Điều              (pipeline.py:374)
      12 blank line before doc_name. Điều           (pipeline.py:376)
      13 collapse 3+ newlines                       (pipeline.py:379)
      14 strip leading newlines                     (pipeline.py:382)
    """
    dn_pat = regex_escape(doc_name)          # doc_name as a literal pattern
    dn_rep = replacement_escape(doc_name)    # doc_name as a literal replacement
    c = content
    c = F.regexp_replace(c, r"\n\.\n", "\n")                                   # 1
    c = F.replace(c, F.lit(" " + CLICK_NOTE), F.lit(""))                       # 2a
    c = F.replace(c, F.lit(CLICK_NOTE), F.lit(""))                             # 2b
    c = F.regexp_replace(c, r"\]\s+(\d+\.)\s*\n", "]\n$1\n")                   # 3
    c = F.regexp_replace(c, r"\]\s+(\d+\.)\s+", "]\n$1 ")                      # 4
    c = F.regexp_replace(c, r"(Chương\s+[IVXLCDM]+)", F.concat(F.lit("\n"), dn_rep, F.lit(". $1")))  # 5
    c = F.regexp_replace(c, r"(Mục\s+\d+\.)", F.concat(F.lit("\n"), dn_rep, F.lit(". $1")))          # 6
    c = F.regexp_replace(c, rf"[{_QUOTES}]\s*\n+\s*(Điều)", '"$1')             # 7
    c = F.regexp_replace(
        c,
        rf"([^\n{_QUOTES}])({_DIEU_TITLE_BODY})",
        F.concat(F.lit("$1\n\n"), dn_rep, F.lit(". $2")),
    )                                                                          # 8
    c = F.regexp_replace(
        c, rf"(?m)^({_DIEU_TITLE_BODY})", F.concat(dn_rep, F.lit(". $1"))
    )                                                                          # 9
    c = F.regexp_replace(
        c, rf"(?m)^(Điều\s+\d+\.)\n([{_VUP}])", F.concat(dn_rep, F.lit(". $1 $2"))
    )                                                                          # 10
    c = F.regexp_replace(
        c, F.concat(F.lit(f"[{_QUOTES}]"), dn_pat, F.lit(r"\. (Điều)")), F.lit('"$1')
    )                                                                          # 11
    c = F.regexp_replace(
        c, F.concat(F.lit(r"\n("), dn_pat, F.lit(r"\. Điều)")), F.lit("\n\n$1")
    )                                                                          # 12
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")                                 # 13
    return F.regexp_replace(c, r"^\n+", "")                                    # 14


def merge_lines_to_paragraphs(
    lines: DataFrame,
    doc_col: str = "doc_id",
    offset_col: str = "offset",
    line_col: str = "line",
) -> DataFrame:
    """Line→paragraph merge as window sessionization — the SCALABLE
    approximation of the reference's buffer machine.

    The reference walks lines with a mutable buffer, flushing when the
    buffer ends a sentence / completes an Điều title, and starting a new
    paragraph on structural markers (pipeline.py:256-322). This variant
    tests the flush predicates against the PREVIOUS LINE instead of the
    accumulated buffer (the reference re.search's the buffer — an
    inherently sequential rule; `merge_lines_exact` below reproduces it
    bit-for-bit via a grouped-map UDF). The two differ only when an
    "Điều N. <title>" marker enters a paragraph mid-buffer without
    ending its line. Re-expressed:

      new_para(line i) = is_new_paragraph(i) OR flush-after(i-1)
      para_id          = cumulative sum of new_para over doc order
      paragraph        = concat_ws(' ', lines in para_id order)

    All Catalyst built-ins: one shuffle on doc_id, then window + groupBy
    reuse the same partitioning (no second shuffle).
    """
    w = Window.partitionBy(doc_col).orderBy(offset_col)
    prev = F.lag(line_col).over(w)
    flush_after_prev = (
        prev.isNull()
        | ends_sentence(prev)
        | is_dieu_title(prev)
    )
    starts = is_new_paragraph(F.col(line_col)) | flush_after_prev
    stripped = F.regexp_replace(F.col(line_col), LINE_STRIP_PATTERN, "")
    with_pid = (
        lines.withColumn(line_col, stripped)
        .filter(F.col(line_col) != "")                # empty-line filter (pipeline.py:295)
        .withColumn("_new_para", starts.cast("int"))
        .withColumn("para_id", F.sum("_new_para").over(w))
    )
    return (
        with_pid.groupBy(doc_col, "para_id")
        .agg(
            F.min(offset_col).alias("para_offset"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col(offset_col).alias("o"), F.col(line_col).alias("l")))
                    ),
                    lambda s: s["l"],
                ),
            ).alias("paragraph"),
        )
        .drop("para_id")
    )


# ---------------------------------------------------------------------------
# Exact merge machine — the reference's buffer semantics
# (pipeline.py:293-322), one document's lines at a time: the per-page
# HTML extract runs it directly, merge_lines_exact per document.
# ---------------------------------------------------------------------------

MERGED_SCHEMA = "doc_id string, para_offset int, paragraph string"

# Java's `$` (non-MULTILINE): the end of input, or before one final line
# terminator (\r\n, \n, \r, \x85, \u2028 or \u2029)
_JAVA_END = r"(?=(?:\r\n|(?<!\r)\n|[\r\x85\u2028\u2029])?\Z)"


def java_regex(pattern: str) -> re.Pattern:
    """`pattern` compiled to match as Spark's rlike / regexp_replace match
    it: `\\d` and `\\s` are ASCII ([0-9], [ \\t\\n\\x0B\\f\\r]) and `$` is
    Java's. Every `$` in `pattern` must be an end anchor."""
    return re.compile(pattern.replace("$", _JAVA_END), re.ASCII)


_NEW_PARA, _DIEU_END, _SENT_END, _LINE_STRIP = map(
    java_regex,
    (NEW_PARAGRAPH_PATTERN, DIEU_TITLE_END_PATTERN, SENTENCE_END_PATTERN, LINE_STRIP_PATTERN),
)


def merge_buffer_machine(lines: list[str]) -> list[tuple[int, str]]:
    """The reference's line→paragraph fold (pipeline.py:293-322): a
    mutable buffer that (a) flushes before any structural-marker line,
    (b) flushes after itself when it ends a sentence or when the
    ACCUMULATED buffer matches the Điều-title pattern (re.search — an
    'Điều N. <title>' anywhere in the buffer with a non-empty tail
    triggers the flush, not just the previous line).

    Returns (index of the paragraph's first line, paragraph) pairs.
    Lines are stripped and matched with java_regex, so the result equals
    merge_lines_to_paragraphs on the same lines."""
    result: list[tuple[int, str]] = []
    buffer, start = "", 0
    for i, line in enumerate(lines):
        line = _LINE_STRIP.sub("", line)
        if not line:
            continue
        if buffer and not (
            _NEW_PARA.search(line) or _DIEU_END.search(buffer) or _SENT_END.search(buffer)
        ):
            buffer = buffer + " " + line
            continue
        if buffer:
            result.append((start, buffer))
        buffer, start = line, i
    if buffer:
        result.append((start, buffer))
    return result


def merge_lines_exact(
    lines: DataFrame,
    doc_col: str = "doc_id",
    offset_col: str = "offset",
    line_col: str = "line",
) -> DataFrame:
    """Exact line→paragraph merge — the reference's buffer machine per
    document, batch-amortized.

    A grouped map (applyInPandas) pays one Arrow round-trip PER DOCUMENT
    (~5ms each → minutes at millions of tiny docs). Instead: hash-
    partition by doc, sort within partitions on (doc, offset) so each
    document is CONTIGUOUS, then stream mapInPandas batches, carrying
    the possibly-split last document across batch boundaries — constant
    memory, thousands of documents per Arrow batch."""
    import pandas as pd
    from collections.abc import Iterator

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        out: list[tuple] = []
        for doc, g in pdf.groupby(doc_col, sort=False):
            paras = merge_buffer_machine(list(g[line_col]))
            out.extend((str(doc), i, p) for i, (_, p) in enumerate(paras))
        return pd.DataFrame(out, columns=["doc_id", "para_offset", "paragraph"])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in it:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf[doc_col].iloc[-1]
            tail = pdf[doc_col] == last
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield process(head)
        if carry is not None and len(carry):
            yield process(carry)

    ordered = lines.repartition(doc_col).sortWithinPartitions(doc_col, offset_col)
    return ordered.mapInPandas(run, MERGED_SCHEMA)


# ---------------------------------------------------------------------------
# Vietnamese diacritics folding

# Every precomposed Vietnamese letter (NFC), grouped by its ASCII base —
# the reference corpus is Vietnamese legal text (doc names like
# 'Quyết định 3500/QĐ-BYT', the Điều patterns this module already
# matches), and search keys / slugs / filename sanitization
# (pipeline.py:71-74) need the tone-and-breathing-stripped form.
_VI_BASE = {
    "a": "àáảãạăằắẳẵặâầấẩẫậ",
    "d": "đ",
    "e": "èéẻẽẹêềếểễệ",
    "i": "ìíỉĩị",
    "o": "òóỏõọôồốổỗộơờớởỡợ",
    "u": "ùúủũụưừứửữự",
    "y": "ỳýỷỹỵ",
}
VI_SRC = "".join(c + c.upper() for c in _VI_BASE.values())
VI_DST = "".join(b * len(c) + b.upper() * len(c) for b, c in _VI_BASE.items())
assert len(VI_SRC) == len(VI_DST) == 134


def vi_fold(col: Column) -> Column:
    """Fold Vietnamese diacritics to ASCII base letters ('Điều' →
    'Dieu') via one char-map translate — scan-side, codegen-friendly,
    and dialect-portable (Spark translate ≡ Postgres/DuckDB translate:
    positional char map, unmatched chars pass through)."""
    return F.translate(col, VI_SRC, VI_DST)


def vi_char_count(col: Column) -> Column:
    """How many Vietnamese-specific letters the text contains (the
    language-evidence counter: translate with an empty 'to' string
    DELETES every mapped char; the length delta counts them)."""
    return (F.length(col) - F.length(F.translate(col, VI_SRC, ""))).cast("bigint")
