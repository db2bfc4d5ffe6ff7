"""HTML → elements → enriched text: the real parse/extract stage.

Reproduces the reference's DOM flow (crawler.py:83-142, pipeline.py:
129-255) without BeautifulSoup (stdlib html.parser inside an
Arrow-batched mapInPandas stage):

  content1 selector filter        → only nodes inside <div class="content1">
                                    (pipeline.py:229-232, P2)
  hover predicate                 → elements with atmm OR onmouseover ~
                                    /lqhlTootip/i (pipeline.py:192-193, P3)
  tooltip key extraction          → atmm.strip('.') or the onmouseover
                                    regex ['"]\\.([^'"]+)['"]
                                    (crawler.py:97-103) — done as COLUMN
                                    expressions, not in the parser
  tooltip join (J1)               → broadcast left join + ' [text]' append,
                                    noise filtered (pipeline.py:145-149)
  footnote join (J2)              → huongdan id 'span-note_X' ⟕ div#note_X,
                                    '|~|' split into (content, source),
                                    '\\n{main} [{source}]' replacement
                                    (pipeline.py:154-184)
  Điều-heading normalization      → <b>Điều N. ...</b> whitespace-collapsed
                                    + newline marker after (pipeline.py:237-255)
  flatten → lines → paragraphs    → get_text analogue: text nodes joined in
                                    document order, split on newlines, merged
                                    by the A1 buffer machine (text.py)

The parser emits ROWS (one per text node / hover element / footnote /
page-level tooltip or note div); everything downstream is DataFrame
joins and window ops — the parse is the only Python, and it is batched.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import merge_lines_to_paragraphs
from ..rowmap import flat_map_rows

NODE_SCHEMA = (
    "doc_id string, offset int, node_kind string, tag string, text string, "
    "atmm string, onmouseover string, element_id string, css_class string"
)

_DIEU_B = re.compile(r"^Điều\s+\d+\.")
_HOVER_ONMOUSE = re.compile(r"lqhlTootip", re.I)
# the reference's tooltip-class extraction regex, crawler.py:101
TOOLTIP_CLASS_RE = r"['\"]\.([^'\"]+)['\"]"


class _PageParser(HTMLParser):
    """Single-pass page parse: content1 text-node stream + hover/footnote
    elements + page-level tooltip/note divs."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple] = []  # (kind, tag, text, atmm, onmouseover, id, class)
        self._content_depth = 0  # >0 while inside div.content1
        self._div_depth_at_entry = 0
        self._div_depth = 0
        self._el_stack: list[dict] = []  # open hover/huongdan/b elements
        self._el_text: list[str] = []
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
            self._el_stack.append({"tag": tag, "attrs": attrs})
            self._el_text = []

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
            text = "".join(self._el_text)
            if tag == "b":
                if _DIEU_B.match(text.strip()):
                    # normalize inner whitespace + newline marker after the
                    # heading (pipeline.py:243-249,255)
                    self._emit("node", "b_dieu", " ".join(text.split()) + "\n")
                else:
                    self._emit("node", "b", text)
            elif tag == "huongdan":
                self._emit("element", tag, text, el["attrs"])
            else:
                self._emit("element", tag, text, el["attrs"])
            self._el_text = []

    def handle_data(self, data: str) -> None:
        if self._el_stack:
            self._el_text.append(data)
        elif self._in_content():
            self._emit("node", "", data)
        elif self._page_div is not None:
            self._page_text.append(data)


def parse_page(html: str) -> list[tuple]:
    p = _PageParser()
    p.feed(html)
    p.close()
    return p.rows


def parse_pages(df: DataFrame, id_col: str = "doc_id", html_col: str = "html") -> DataFrame:
    """(doc_id, html) → node/element/tooltip/note rows with a document-order
    offset: parse_page per page inside one flat_map_rows stage; no
    per-row Python UDFs."""

    def page_rows(doc_id, html):
        for off, row in enumerate(parse_page(html)):
            yield str(doc_id), off, *row

    return flat_map_rows(df.select(F.col(id_col), F.col(html_col)), page_rows, NODE_SCHEMA)


def tooltip_class_col(atmm: Column, onmouseover: Column) -> Column:
    """The J1 key extraction as column expressions (crawler.py:97-103):
    atmm stripped of leading dots, else the onmouseover class regex."""
    from_atmm = F.when(
        atmm.isNotNull(), F.regexp_replace(atmm, r"^\.+|\.+$", "")
    )
    from_onmouse = F.when(
        onmouseover.isNotNull(), F.regexp_extract(onmouseover, TOOLTIP_CLASS_RE, 1)
    )
    out = F.coalesce(from_atmm, from_onmouse)
    return F.when(out == "", F.lit(None)).otherwise(out)


def extract_documents(parsed: DataFrame) -> DataFrame:
    """Parsed node rows → (doc_id, para_offset, paragraph): the reference's
    extract_content + line merge (pipeline.py:216-322), all DataFrame ops.

    Joins are broadcast (tooltip/note dims are small per batch); the only
    shuffles are the per-doc text re-assembly and the merge window — both
    keyed on doc_id, so Spark reuses one partitioning."""
    from ..operators.enrich import footnote_join, tooltip_join

    # four branches (nodes/elements/tooltips/notes) consume the parse —
    # materialize it once or Catalyst duplicates the MapInPandas subtree
    # per branch (4× parse cost, observed in .explain). At warehouse
    # scale this is a staged table write instead.
    parsed = parsed.localCheckpoint()
    nodes = parsed.filter(F.col("node_kind") == "node").select(
        "doc_id", "offset", "text"
    )
    elements = parsed.filter(F.col("node_kind") == "element").select(
        "doc_id", "offset", "text",
        tooltip_class_col(F.col("atmm"), F.col("onmouseover")).alias("tooltip_class"),
        F.col("element_id"),
    )
    tooltips = parsed.filter(F.col("node_kind") == "tooltip").select(
        "doc_id", F.col("css_class").alias("tooltip_class"), F.col("text").alias("tooltip_text")
    )
    notes = parsed.filter(F.col("node_kind") == "note").select(
        "doc_id", F.col("element_id").alias("note_id"), F.col("text").alias("note_text")
    )

    # the canonical J1 + J2 operators (operators/enrich.py) — hover
    # append first, footnote replacement second, matching the reference's
    # processing order (pipeline.py:187-213)
    enriched = footnote_join(tooltip_join(elements, tooltips), notes).select(
        "doc_id", "offset", "text"
    )

    # flatten in document order (get_text analogue), split to lines, merge
    stream = nodes.unionByName(enriched)
    doc_text = stream.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct("offset", "text"))),
                lambda s: s["text"],
            ),
        ).alias("doc_text")
    )
    lines = doc_text.select(
        "doc_id", F.posexplode(F.split("doc_text", "\n")).alias("offset", "line")
    )
    return merge_lines_to_paragraphs(lines)
