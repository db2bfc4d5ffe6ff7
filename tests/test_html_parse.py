from __future__ import annotations

from thuvienphapluat_crawler_spark.sources import synthetic_web as SW
from thuvienphapluat_crawler_spark.sources.html_parse import (
    extract_documents,
    extract_page,
    parse_page,
)


def _urls(n=30):
    world = SW.World(n_hosts=4, base_size=40)
    return [SW.make_url(h, i) for h in range(4) for i in range(min(n // 4, world.host_sizes[h]))]


def test_parser_excludes_nav_noise():
    rows = parse_page(SW.page_html(SW.make_url(0, 1)))
    # content stream (node/element rows) excludes everything outside
    # content1; the menu div surfaces only as an unreferenced page div
    texts = " ".join(r[2] for r in rows if r[0] in ("node", "element"))
    assert "NAV NOISE" not in texts
    kinds = {r[0] for r in rows}
    assert kinds == {"node", "element", "tooltip", "note"}


def test_html_extract_matches_sequential_oracle(spark):
    urls = _urls(32)
    df = spark.createDataFrame(
        [(u, SW.page_html(u)) for u in urls], "doc_id string, html string"
    )
    out = extract_documents(df).collect()
    got: dict[str, list[tuple[int, str]]] = {}
    for r in out:
        got.setdefault(r.doc_id, []).append((r.para_offset, r.paragraph))
    assert set(got) == set(urls)
    for u in urls:
        paras = [p for _, p in sorted(got[u])]
        expected = SW.expected_page_paragraphs(u)
        assert paras == expected, f"extract diverges for {u}\n{paras}\nvs\n{expected}"


def test_tooltip_precedence_and_noise(spark):
    # atmm wins over onmouseover; noise tooltip appends nothing
    html = (
        '<div class="content1">\n'
        'đầu dòng <a atmm=".real" onmouseover="x(\'.noise\')">kép</a> hết.\n'
        'tiếp <span onmouseover="LS_lqhlTootip(\'.noise\')">mờ</span> dòng.\n'
        "</div>"
        '<div class="real">nội dung thật</div>'
        '<div class="noise">Click vào để xem nội dung</div>'
    )
    df = spark.createDataFrame([("d", html)], "doc_id string, html string")
    paras = [r.paragraph for r in extract_documents(df).orderBy("para_offset").collect()]
    assert paras == ["đầu dòng kép [nội dung thật] hết.", "tiếp mờ dòng."]


def test_crawl_engine_html_mode_matches_sequential_oracle(spark, tmp_path):
    """The engine with content='html' runs the REAL DOM extract inside the
    epoch loop; every fetched doc's spans must equal the generator-
    inversion oracle, and crawl order must be identical to spans mode."""
    from thuvienphapluat_crawler_spark.plans.frontier import CrawlEngine
    from thuvienphapluat_crawler_spark.sources.synthetic_web import World

    world = World(n_hosts=2, base_size=24, links_per_page=3, budget_per_host=5, max_epochs=2)
    html_eng = CrawlEngine(spark, world, str(tmp_path / "html"), n_buckets=4, content="html")
    html_eng.run()
    span_eng = CrawlEngine(spark, world, str(tmp_path / "spans"), n_buckets=4)
    span_eng.run()

    log_of = lambda e: sorted(
        (r.epoch, r.host, r.rank, r.canonical_url, r.status) for r in e.crawl_log().collect()
    )
    assert log_of(html_eng) == log_of(span_eng), "fetch scheduling must not depend on content mode"

    doc_ids = lambda e: {r.canonical_url: r.doc_id for r in e.docs().collect()}
    assert doc_ids(html_eng) == doc_ids(span_eng)
    docs = {r.canonical_url: r.spans for r in html_eng.docs().collect()}
    oks = [r.canonical_url for r in html_eng.crawl_log().collect() if r.status == "ok"]
    assert set(docs) == set(oks)
    for url, spans in docs.items():
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in spans]
        expected = [
            ("text", p, "", i) for i, p in enumerate(SW.expected_page_paragraphs(url))
        ]
        assert got == expected, f"html-mode spans diverge for {url}"


def _page(content: str, tail: str = "") -> str:
    """A page whose content1 div holds `content`, followed by the
    page-level tooltip / note divs in `tail`."""
    return f'<div class="content1">{content}</div>{tail}'


def test_extract_page_tooltip_join():
    # J1 (crawler.py:113): a matched element gets ' [tooltip]'; a noise
    # tooltip (pipeline.py:148) or no tooltip leaves it unchanged
    html = _page(
        '<a atmm=".tt-a">Điều 5 của Luật X</a>.\n'
        '<a atmm=".tt-b">khoản 2</a>.\n'
        '<a atmm=".tt-c">không có tooltip</a>.\n',
        '<div class="tt-a">Luật X năm 2020</div>'
        '<div class="tt-b">Click vào để xem nội dung</div>',
    )
    assert extract_page(html) == [
        (0, "Điều 5 của Luật X [Luật X năm 2020]."),
        (1, "khoản 2."),
        (2, "không có tooltip."),
    ]


def test_extract_page_footnote_join():
    # J2 (pipeline.py:177-181): a matched note REPLACES the element text
    # with '\n{main} [{source}]', or '\n{main}' without a source part;
    # the leading newline makes line 0 empty, so the paragraph is at 1
    def noted(body: str, note_id: str = "note_7") -> str:
        return _page(
            '<huongdan id="span-note_7">xem chú thích</huongdan>',
            f'<div id="{note_id}">{body}</div>',
        )

    assert extract_page(noted("Nội dung chú thích|~|Nguồn: Công báo")) == [
        (1, "Nội dung chú thích [Nguồn: Công báo]")
    ]
    assert extract_page(noted("Chỉ có nội dung")) == [(1, "Chỉ có nội dung")]
    assert extract_page(noted("main|~|  ")) == [(1, "main")]
    # unmatched: a note for another id, or an element with no id
    assert extract_page(noted("khác", note_id="note_8")) == [(0, "xem chú thích")]
    assert extract_page(_page('<a atmm=".k">bình thường</a>')) == [(0, "bình thường")]


def test_extract_page_key_and_duplicate_rules():
    # an atmm made only of dots is an empty key: it matches nothing and
    # does not fall back to onmouseover
    dots = _page(
        'x <a atmm="..." onmouseover="LS_lqhlTootip(\'.k\')">y</a>', '<div class="k">tip</div>'
    )
    assert extract_page(dots) == [(0, "x y")]
    # k tooltip divs of one class append k texts, sorted
    tips = _page('<a atmm=".k">el</a>', '<div class="k">t-b</div><div class="k">t-a</div>')
    assert extract_page(tips) == [(0, "el [t-a]el [t-b]")]
    # k tooltips times m notes of one id give k*m texts, sorted
    both = _page(
        '<huongdan id="span-note_1" atmm=".k">hd</huongdan>',
        '<div class="k">t1</div><div class="k">t2</div>'
        '<div id="note_1">n2</div><div id="note_1">n1|~|s1</div>',
    )
    assert extract_page(both) == [(1, "n1 [s1] n1 [s1] n2 n2")]
    # a blank note keeps the element text, once per matching note
    blank = _page('<huongdan id="span-note_2">giữ</huongdan>', '<div id="note_2">   </div>')
    assert extract_page(blank) == [(0, "giữ")]
    blank_and_real = _page(
        '<huongdan id="span-note_3">dup</huongdan>',
        '<div id="note_3"> </div><div id="note_3">real</div>',
    )
    assert extract_page(blank_and_real) == [(1, "realdup")]


def test_extract_page_bold_inside_hover_or_note_is_element_text():
    # the reference replaces hover and note elements before it walks <b>
    # (pipeline.py:235-249): a <b> inside one keeps its place in that
    # element's text, emits no row and gets no Điều normalization
    html = _page(
        '<a atmm=".k">văn bản <b>in đậm</b> cuối</a>.\n'
        '<huongdan id="span-note_7">xem <b>Điều 2.  X</b> thêm</huongdan>\n'
        "<b>Điều 3.  Y</b>\n",
        '<div class="k">tip</div>',
    )
    assert extract_page(html) == [
        (0, "văn bản in đậm cuối [tip]."),
        (1, "xem Điều 2.  X thêm"),
        (2, "Điều 3. Y"),
    ]


def test_extract_documents_one_stage_no_row_for_empty_page(spark):
    pages = spark.createDataFrame(
        [("p", _page("một.\nhai.")), ("empty", "<p>không có content1</p>")],
        "doc_id string, html string",
    )
    out = extract_documents(pages)
    assert sorted(out.collect()) == [("p", 0, "một."), ("p", 1, "hai.")]
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
