from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.functions import text as TX

LINES = [
    "Căn cứ Luật Tổ chức Chính phủ;",
    "Điều 1. Phạm vi điều chỉnh",
    "Nghị định này quy định",
    "về quản lý dữ liệu.",
    "1. Khoản một nói về",
    "phạm vi áp dụng.",
    "a) điểm a của khoản;",
    "- gạch đầu dòng.",
]

# what the reference's buffer machine produces (flush on sentence end /
# Điều-title; merge continuation lines) — pipeline.py:293-322
EXPECTED = [
    "Căn cứ Luật Tổ chức Chính phủ;",
    "Điều 1. Phạm vi điều chỉnh",
    "Nghị định này quy định về quản lý dữ liệu.",
    "1. Khoản một nói về phạm vi áp dụng.",
    "a) điểm a của khoản;",
    "- gạch đầu dòng.",
]


def test_merge_lines_to_paragraphs(spark):
    df = spark.createDataFrame(
        [("d1", i, line) for i, line in enumerate(LINES)], "doc_id string, offset int, line string"
    )
    out = (
        TX.merge_lines_to_paragraphs(df)
        .orderBy("para_offset")
        .select("paragraph")
        .collect()
    )
    assert [r.paragraph for r in out] == EXPECTED


def test_merge_buffer_machine_reference_fixture():
    # each paragraph comes with the index of its first line
    assert TX.merge_buffer_machine(LINES) == list(zip([0, 1, 2, 4, 6, 7], EXPECTED))


def _paragraphs(lines: list[str]) -> list[str]:
    return [p for _, p in TX.merge_buffer_machine(lines)]


# --- window sessionization ≡ reference buffer machine ----------------------
#
# The reference re.search's the ACCUMULATED buffer for the Điều-title flush
# (pipeline.py:308) while the window form tests only the previous line.
# These are provably equivalent for ' '-joined buffers: any buffer match
# must end inside the last line (the $ anchor), and a match that starts in
# an earlier line still leaves the "Điều \d+\." head either wholly inside
# the last line (then the last line matches alone) or ending a previous
# line with '.', which already triggered the sentence-end flush. The
# property test below hammers that argument with adversarial line soups.

_WORDS = [
    "Điều", "5.", "Điều 7. Phạm", "vi", "nội dung", "quy định.", "xem",
    "tại Điều 9.", "a)", "tiếp;", "Chương I", "1. Khoản", "và", "“trích”",
]


def _window_merge_replay(lines: list[str]) -> list[str]:
    """Pure-Python replay of merge_lines_to_paragraphs' lag/cumsum rule."""
    new_para = re.compile(TX.NEW_PARAGRAPH_PATTERN)
    sent = re.compile(TX.SENTENCE_END_PATTERN)
    dieu = re.compile(TX.DIEU_TITLE_END_PATTERN)
    kept = [l for l in (x.strip() for x in lines) if l]
    paras: list[list[str]] = []
    for i, line in enumerate(kept):
        prev = kept[i - 1] if i else None
        flush_after_prev = prev is None or sent.search(prev) or dieu.search(prev)
        if new_para.search(line) or flush_after_prev:
            paras.append([line])
        else:
            paras[-1].append(line)
    return [" ".join(p) for p in paras]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_WORDS).map(str), min_size=0, max_size=12))
def test_window_merge_equals_buffer_machine(lines):
    assert _window_merge_replay(lines) == _paragraphs(lines)


def test_merge_exact_equals_window_on_spark(spark):
    # adversarial doc: markers mid-line, 'Điều N.' at line ends, split
    # titles, empty lines
    lines = [
        "xem quy định tại",
        "kèm Điều 5. Phạm",
        "vi mới",
        "",
        "nội dung thường Điều 6.",
        "tiếp theo của câu",
        "Điều 7. Đối tượng",
        "áp dụng tiếp",
    ]
    df = spark.createDataFrame(
        [("d", i, l) for i, l in enumerate(lines)], "doc_id string, offset int, line string"
    )
    win = [
        r.paragraph
        for r in TX.merge_lines_to_paragraphs(df).orderBy("para_offset").collect()
    ]
    exact = [
        r.paragraph
        for r in TX.merge_lines_exact(df).orderBy("para_offset").collect()
    ]
    assert win == exact == _paragraphs(lines)


def test_buffer_machine_reads_lines_as_spark_does(spark):
    # Spark's regexes are Java's: \s is [ \t\n\x0B\f\r] (NBSP and U+3000
    # are text, not whitespace), \d is [0-9] (٣ is no digit) and `$` also
    # matches before one final line terminator such as U+2028
    lines = [
        "\xa0Căn cứ luật;\xa0",
        "Điều ٣. Phạm vi",
        "tiếp",
        "\tdòng tab;\x0b",
        "\x0cnối\r",
        "\u3000Căn cứ khác\u3000",
        "tiếp theo. \u2028",
        "sau dấu chấm",
        "TT\u2028",
        "Điều\xa05. Tiêu đề",
        "đuôi",
    ]
    df = spark.createDataFrame(
        [("d", i, l) for i, l in enumerate(lines)], "doc_id string, offset int, line string"
    )
    win = [
        (r.para_offset, r.paragraph)
        for r in TX.merge_lines_to_paragraphs(df).orderBy("para_offset").collect()
    ]
    assert TX.merge_buffer_machine(lines) == win


# --- postprocess fold vs a verbatim port of the reference ------------------

# Faithful port of the reference fold (pipeline.py:325-384) used ONLY as a
# test oracle; the engine's Spark fold must reproduce it byte-for-byte.
_UP = "A-ZĐÀÁẢÃẠĂẮẰẲẴẶÂẤẦẨẪẬÈÉẺẼẸÊẾỀỂỄỆÌÍỈĨỊÒÓỎÕỌÔỐỒỔỖỘƠỚỜỞỠỢÙÚỦŨỤƯỨỪỬỮỰỲÝỶỸỴ"
_LO = "a-zđàáảãạăắằẳẵặâấầẩẫậèéẻẽẹêếềểễệìíỉĩịòóỏõọôốồổỗộơớờởỡợùúủũụưứừửữựỳýỷỹỵ"


def reference_postprocess(content: str, doc_name: str) -> str:
    content = re.sub(r"\n\.\n", "\n", content)
    content = content.replace(" [Click vào để xem nội dung]", "")
    content = content.replace("[Click vào để xem nội dung]", "")
    content = re.sub(r"\]\s+(\d+\.)\s*\n", r"]\n\1\n", content)
    content = re.sub(r"\]\s+(\d+\.)\s+", r"]\n\1 ", content)
    content = re.sub(r"(Chương\s+[IVXLCDM]+)", rf"\n{doc_name}. \1", content)
    content = re.sub(r"(Mục\s+\d+\.)", rf"\n{doc_name}. \1", content)
    content = re.sub(r'["“”]\s*\n+\s*(Điều)', r'"\1', content)
    content = re.sub(
        rf'([^\n"“”])(Điều\s+\d+\.[ \t]+[{_UP}][{_LO}]+)', rf"\1\n\n{doc_name}. \2", content
    )
    content = re.sub(
        rf"^(Điều\s+\d+\.[ \t]+[{_UP}][{_LO}]+)", rf"{doc_name}. \1", content, flags=re.MULTILINE
    )
    content = re.sub(
        rf"^(Điều\s+\d+\.)\n([{_UP}])", rf"{doc_name}. \1 \2", content, flags=re.MULTILINE
    )
    content = re.sub(r'["“”]' + re.escape(doc_name) + r"\. (Điều)", r'"\1', content)
    content = re.sub(r"\n(" + re.escape(doc_name) + r"\. Điều)", r"\n\n\1", content)
    content = re.sub(r"\n{3,}", r"\n\n", content)
    return content.lstrip("\n")


FIXTURE = (
    "\n\nCHÍNH PHỦ\nSố: 12/2020\n.\n"
    "Căn cứ Luật Tổ chức Chính phủ [Click vào để xem nội dung] ngày 19;\n"
    "Chương I\nQUY ĐỊNH CHUNG\n"
    "Điều 1. Phạm vi điều chỉnh\n"
    "nội dung thân bài xem thêm Điều 2. Đối tượng áp dụng\n"
    "Điều 3.\nNội dung quản lý dữ liệu\n"
    "“\nĐiều 4. Trích dẫn được giữ nguyên văn\n"
    "Mục 1. Quy định chung\n"
    "được quy định tại khoản 2 Điều 5.\n"
    "[căn cứ] 2. Khoản bị dính vào ngoặc\n"
    "nội dung [Click vào để xem nội dung]\n"
    "“{dn}. Điều 9 dẫn chiếu\n"
    "thân bài cuối\n\n\n\nhết"
)

DOC_NAMES = [
    "Nghị định 15/2020/NĐ-CP",
    "Thông tư 3.2021.TT-BYT",  # dots → exercises regex escaping of doc_name
    "Luật số 9/2019/QH14",
]


def test_postprocess_fold_matches_reference_port(spark):
    rows = [(dn, FIXTURE.format(dn=dn)) for dn in DOC_NAMES]
    df = spark.createDataFrame(rows, "dn string, content string")
    got = {
        r.dn: r.out
        for r in df.select(
            "dn", TX.postprocess_fold(F.col("content"), F.col("dn")).alias("out")
        ).collect()
    }
    for dn, content in rows:
        expected = reference_postprocess(content, dn)
        assert got[dn] == expected, f"fold diverges for {dn!r}"
        # the fold actually did its work
        assert "[Click" not in got[dn]
        assert f"{dn}. Điều 1. Phạm vi điều chỉnh" in got[dn]  # step 9
        assert f"\n\n{dn}. Điều 2. Đối tượng áp dụng" in got[dn]  # steps 8+12
        assert f"{dn}. Điều 3. Nội dung quản lý" in got[dn]  # step 10
        assert '"Điều 4. Trích dẫn' in got[dn]  # step 7 + quote exclusion
        assert f"{dn}. Điều 4" not in got[dn]
        assert '"Điều 9 dẫn chiếu' in got[dn]  # step 11 de-prefix
        assert "]\n2. Khoản bị dính" in got[dn]  # step 4
        assert "\n\n\n" not in got[dn]  # step 13
        assert not got[dn].startswith("\n")  # step 14


def test_new_paragraph_patterns(spark):
    # positives/negatives straight from the reference battery
    # (pipeline.py:262-288): KT. and QUYẾT ĐỊNH are NOT in the list
    positives = [
        "Chương I Quy định", "Mục 1 ...", "Điều 5. X", "Điều 12 tiếp",
        "2. nội dung", "b) điểm", "- ý", "PHỤ LỤC I", "Căn cứ luật",
        "Theo đề nghị của Bộ trưởng", "Số: 12/2021", "Nơi nhận: các bộ",
        "TM. CHÍNH PHỦ", "CỘNG HÒA XÃ HỘI", "CHÍNH PHỦ", "Hà Nội, ngày 1",
        "Biểu số 01", "BẢNG TỔNG HỢP", "TT", "III. Phần ba", "VI. Phần sáu",
    ]
    negatives = [
        "nội dung thường", "tiếp tục câu trước", "của Chính phủ",
        "KT. BỘ TRƯỞNG", "QUYẾT ĐỊNH:", "TT x", "2.x không có cách",
        "VII. ngoài battery",
    ]
    df = spark.createDataFrame([(s,) for s in positives + negatives], "line string")
    rows = df.select("line", TX.is_new_paragraph(F.col("line")).alias("m")).collect()
    res = {r.line: r.m for r in rows}
    for s in positives:
        assert res[s], f"should match: {s}"
    for s in negatives:
        assert not res[s], f"should NOT match: {s}"


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=60))
def test_rolling_kgram_hash_equals_naive(s):
    # property: the O(n) rolling update (push c_i, evict c_{i-K}) equals
    # hashing every window from scratch — checked in pure Python with the
    # same (B, M, K); the Spark expr is gated by the docs_rolling_fp oracle.
    from thuvienphapluat_crawler_spark.operators.textstats import ROLL_B, ROLL_K, ROLL_M

    naive = [
        sum(ord(c) * pow(ROLL_B, ROLL_K - 1 - j, ROLL_M) for j, c in enumerate(s[i : i + ROLL_K]))
        % ROLL_M
        for i in range(len(s) - ROLL_K + 1)
    ]
    win, rolled = 0, []
    BK = pow(ROLL_B, ROLL_K, ROLL_M)
    for i, c in enumerate(s):
        win = (win * ROLL_B + ord(c) - (ord(s[i - ROLL_K]) * BK if i >= ROLL_K else 0)) % ROLL_M
        if i >= ROLL_K - 1:
            rolled.append(win)
    assert rolled == naive


def test_rolling_fp_spark_matches_python(spark):
    from thuvienphapluat_crawler_spark.operators import textstats as X

    texts = ["the quick brown fox jumps", "aaaaaaaaaa", "short", "x (1) \\ y [2] z!", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    got = {
        r.doc_id: (r.h, r.mn)
        for r in df.withColumn("_codes", X.char_codes("text"))
        .select(
            "doc_id",
            X.rolling_hash_full("_codes").alias("h"),
            X.min_kgram_rolling("_codes").alias("mn"),
        )
        .collect()
    }
    for i, s in enumerate(texts):
        h = 0
        for c in s:
            h = (h * X.ROLL_B + ord(c)) % X.ROLL_M
        wins = []
        win = 0
        BK = pow(X.ROLL_B, X.ROLL_K, X.ROLL_M)
        for j, c in enumerate(s):
            win = (win * X.ROLL_B + ord(c) - (ord(s[j - X.ROLL_K]) * BK if j >= X.ROLL_K else 0)) % X.ROLL_M
            if j >= X.ROLL_K - 1:
                wins.append(win)
        assert got[i] == (h, min(wins) if wins else None), s


# ---------------------------------------------------------------------------
# Vietnamese diacritics folding (r06)


def test_vi_fold_legal_phrases(spark):
    from thuvienphapluat_crawler_spark.functions.text import vi_char_count, vi_fold
    from pyspark.sql import functions as F

    rows = [
        (1, "Quyết định 3500/QĐ-BYT"),
        (2, "Điều ước quốc tế và Nghị định hướng dẫn"),
        (3, "plain ascii stays untouched"),
        (4, "ĐẦY ĐỦ CHỮ HOA"),
    ]
    df = spark.createDataFrame(rows, "id long, t string").select(
        "id", vi_fold(F.col("t")).alias("f"), vi_char_count(F.col("t")).alias("n")
    )
    out = {r.id: (r.f, r.n) for r in df.collect()}
    assert out[1] == ("Quyet dinh 3500/QD-BYT", 4)  # ế ị đ Đ
    assert out[2] == ("Dieu uoc quoc te va Nghi dinh huong dan", 13)
    assert out[3] == ("plain ascii stays untouched", 0)
    assert out[4] == ("DAY DU CHU HOA", 5)  # Đ Ầ Đ Ủ Ữ


def test_vi_fold_covers_every_mapped_char(spark):
    from thuvienphapluat_crawler_spark.functions.text import VI_DST, VI_SRC, vi_fold
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(VI_SRC,)], "t string").select(
        vi_fold(F.col("t")).alias("f")
    )
    assert df.collect()[0].f == VI_DST
