"""HTML → elements → enriched text: the real parse/extract stage.

Reproduces the reference's DOM flow (crawler.py:83-142, pipeline.py:
129-255) without BeautifulSoup, one page at a time as the reference
does (stdlib html.parser; extract_page):

  content1 selector filter        → only nodes inside <div class="content1">
                                    (pipeline.py:229-232, P2)
  hover predicate                 → elements with atmm OR onmouseover ~
                                    /lqhlTootip/i (pipeline.py:192-193, P3)
  tooltip key extraction          → atmm without its edge dots, or (atmm
                                    absent) the onmouseover regex
                                    ['"]\\.([^'"]+)['"] (crawler.py:97-103)
  tooltip append (J1)             → ' [text]' per matching tooltip div,
                                    noise filtered (pipeline.py:145-149)
  footnote replacement (J2)       → huongdan id 'span-note_X' → div#note_X,
                                    '|~|' split into (content, source),
                                    '\\n{main} [{source}]' replacement
                                    (pipeline.py:154-184)
  Điều-heading normalization      → <b>Điều N. ...</b> whitespace-collapsed
                                    + newline marker after (pipeline.py:237-255)
  flatten → lines → paragraphs    → get_text analogue: text nodes joined in
                                    document order, split on newlines, merged
                                    by the A1 buffer machine (text.py)

The parser emits rows (one per text node / hover element / footnote /
page-level tooltip or note div); extract_page resolves J1 and J2 over
that one page's rows and merges its lines. Its string rules are
Spark's (Java regex through text.java_regex, a trim of U+0020 only), so
a page gives the same paragraphs as the window-form merge over its
lines. extract_documents runs it per page inside one flat_map_rows
stage: no row leaves its page's partition.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame

from ..functions.text import MERGED_SCHEMA, TOOLTIP_NOISE, java_regex, merge_buffer_machine
from ..rowmap import flat_map_rows

_DIEU_B = re.compile(r"^Điều\s+\d+\.")
_HOVER_ONMOUSE = re.compile(r"lqhlTootip", re.I)
# the reference's tooltip-class extraction regex, crawler.py:101
_TOOLTIP_CLASS = re.compile(r"['\"]\.([^'\"]+)['\"]")
_EDGE_DOTS = java_regex(r"^\.+|\.+$")


class _PageParser(HTMLParser):
    """Single-pass page parse: content1 text-node stream + hover/footnote
    elements + page-level tooltip/note divs."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple] = []  # (kind, tag, text, atmm, onmouseover, id, class)
        self._content_depth = 0  # >0 while inside div.content1
        self._div_depth_at_entry = 0
        self._div_depth = 0
        self._el_stack: list[dict] = []  # open hover/huongdan/b elements, each with its text
        self._page_div: dict | None = None  # open page-level div (tooltip/note)
        self._page_text: list[str] = []

    # -- helpers -----------------------------------------------------------

    def _in_content(self) -> bool:
        return self._content_depth > 0

    def _emit(self, kind: str, tag: str, text: str, attrs: dict | None = None) -> None:
        a = attrs or {}
        self.rows.append(
            (kind, tag, text, a.get("atmm"), a.get("onmouseover"), a.get("id"), a.get("class"))
        )

    # -- HTMLParser hooks ---------------------------------------------------

    def handle_starttag(self, tag: str, attrs_list) -> None:
        attrs = dict(attrs_list)
        if tag == "div":
            self._div_depth += 1
            cls = attrs.get("class", "") or ""
            if "content1" in cls.split():
                self._content_depth = 1
                self._div_depth_at_entry = self._div_depth
                return
            if not self._in_content() and (attrs.get("class") or attrs.get("id")):
                # page-level tooltip/note container (reference: soup.find at
                # page scope, crawler.py:109 / pipeline.py:168)
                self._page_div = attrs
                self._page_text = []
            return
        if not self._in_content():
            return
        is_hover = attrs.get("atmm") is not None or (
            attrs.get("onmouseover") and _HOVER_ONMOUSE.search(attrs["onmouseover"])
        )
        is_note = tag == "huongdan" and (attrs.get("id") or "").startswith("span-note_")
        if is_hover or is_note or tag == "b":
            self._el_stack.append({"tag": tag, "attrs": attrs, "text": []})

    def handle_endtag(self, tag: str) -> None:
        if tag == "div":
            if self._in_content() and self._div_depth == self._div_depth_at_entry:
                self._content_depth = 0
            elif self._page_div is not None:
                kind = "note" if self._page_div.get("id") else "tooltip"
                self._emit(kind, "div", "".join(self._page_text).strip(), self._page_div)
                self._page_div = None
            self._div_depth -= 1
            return
        if self._el_stack and self._el_stack[-1]["tag"] == tag:
            el = self._el_stack.pop()
            text = "".join(el["text"])
            if tag != "b":
                self._emit("element", tag, text, el["attrs"])
            elif any(e["tag"] != "b" for e in self._el_stack):
                # the reference replaces hover and note elements before it
                # walks <b> (pipeline.py:235-249): a <b> inside one is only
                # part of that element's text
                self._el_stack[-1]["text"].append(text)
            elif _DIEU_B.match(text.strip()):
                # normalize inner whitespace + newline marker after the
                # heading (pipeline.py:243-249,255)
                self._emit("node", "b_dieu", " ".join(text.split()) + "\n")
            else:
                self._emit("node", "b", text)

    def handle_data(self, data: str) -> None:
        if self._el_stack:
            self._el_stack[-1]["text"].append(data)
        elif self._in_content():
            self._emit("node", "", data)
        elif self._page_div is not None:
            self._page_text.append(data)


def parse_page(html: str) -> list[tuple]:
    p = _PageParser()
    p.feed(html)
    p.close()
    return p.rows


def _tooltip_key(atmm: str | None, onmouseover: str | None) -> str | None:
    """J1 key (crawler.py:97-103): atmm without its edge dots; only a
    missing atmm falls back to the onmouseover class regex. An empty key
    matches no tooltip: a tooltip div's class is never empty."""
    if atmm is not None:
        return _EDGE_DOTS.sub("", atmm)
    m = _TOOLTIP_CLASS.search(onmouseover or "")
    return m.group(1) if m else None


def _footnote(text: str, note: str) -> str:
    """J2 replacement (pipeline.py:168-182): '\\n{main} [{source}]', or
    '\\n{main}' when the note has no source part; a blank note keeps the
    element text. Trims strip U+0020 only, as Spark's trim does."""
    if not note.strip(" "):
        return text
    main, *rest = (part.strip(" ") for part in note.split("|~|"))
    return f"\n{main} [{rest[0]}]" if rest and rest[0] else f"\n{main}"


def extract_page(html: str) -> list[tuple[int, str]]:
    """One page's extract (pipeline.py:216-322) as (para_offset,
    paragraph) pairs, para_offset being the index of the paragraph's
    first line. Each element's text is replaced by one text per matching
    tooltip (J1, noise dropped) times one per matching note (J2), sorted;
    the page's texts are joined in document order, split on newlines and
    merged by merge_buffer_machine."""
    rows = parse_page(html)
    tooltips: dict[str, list[str]] = {}
    notes: dict[str, list[str]] = {}
    for kind, _, text, _, _, element_id, css_class in rows:
        if kind == "tooltip" and text != TOOLTIP_NOISE:
            tooltips.setdefault(css_class, []).append(text)
        elif kind == "note":
            notes.setdefault(element_id, []).append(text)
    stream: list[str] = []
    for kind, _, text, atmm, onmouseover, element_id, _ in rows:
        if kind == "node":
            stream.append(text)
        elif kind == "element":
            tips = tooltips.get(_tooltip_key(atmm, onmouseover), ())
            texts = [f"{text} [{t}]" for t in tips] or [text]
            found = notes.get((element_id or "").removeprefix("span-"), ())
            texts = [_footnote(t, n) for t in texts for n in found] or texts
            stream.extend(sorted(texts))
    return merge_buffer_machine("".join(stream).split("\n"))


def extract_documents(pages: DataFrame, order: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, html) pages → (doc_id, para_offset, paragraph) rows, the
    reference's extract_content + line merge: extract_page per page in
    one flat_map_rows stage, so no row leaves its page's partition. A
    page without paragraphs yields no row. With `order`, the rows come
    sorted by it (flat_map_rows' `order`)."""

    def page_paragraphs(doc_id, html):
        for offset, paragraph in extract_page(html):
            yield str(doc_id), offset, paragraph

    return flat_map_rows(pages, page_paragraphs, MERGED_SCHEMA, order)
