"""Deterministic synthetic web — the network stand-in for the crawl engine.

The sandbox has no network (and the reference's Playwright/requests fetch
is a per-URL external call anyway — crawler.py:50-80, 161-170), so the
fetch stage is a pure function of the canonical URL: content, outlinks,
and fetch outcome all derive from md5(url). Both the Spark engine
(inside its applyInPandas fetch stage) and the single-threaded oracle
call THESE functions, so span-sequence equality is meaningful.

World shape: N hosts with Zipf-skewed URL-space sizes (hot-host skew is
the thing the partitioning strategy must survive), 5 document categories
with crawl priorities, ~10% cross-host links, ~6% permanent fetch errors
with deterministic retry counts (reference retry semantics:
ocr/ocr_pdf.py:48-74 — bounded attempts, error-as-data sentinel).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

CATEGORIES = ["Luat", "Nghi-dinh", "Thong-tu", "Quyet-dinh", "Nghi-quyet"]

VOCAB = (
    "dieu khoan luat nghi dinh thong tu quyet chinh phu bo truong quy "
    "hieu luc thi hanh ban hanh sua doi bo sung pham vi doi tuong ap dung"
).split()

WORDS_PER_PAGE = 36
WORDS_PER_SPAN = 12
MEDIA_EVERY = 4  # media span after every 4 text spans (input_hint interleaving)
MEDIA_URL_PREFIX = "https://tvpl-media.s3.ap-southeast-1.amazonaws.com"


@dataclass(frozen=True)
class World:
    """Deterministic world parameters. host_sizes is Zipf-skewed so one
    host dominates — the skew case salted politeness partitioning must
    handle."""

    n_hosts: int = 8
    base_size: int = 400
    zipf_s: float = 1.2
    links_per_page: int = 4
    budget_per_host: int = 20
    max_epochs: int = 5
    host_sizes: tuple[int, ...] = field(default=(), compare=False)

    def __post_init__(self):
        sizes = tuple(max(3, int(self.base_size / (i + 1) ** self.zipf_s)) for i in range(self.n_hosts))
        object.__setattr__(self, "host_sizes", sizes)


def host_name(h: int) -> str:
    return f"host{h:03d}.example.vn"


def make_url(h: int, n: int) -> str:
    return f"https://{host_name(h)}/van-ban/{CATEGORIES[n % 5]}/doc-{n}.aspx"


def url_fp(url: str) -> str:
    """Portable URL fingerprint (md5 hex) — the deterministic total-order
    tiebreak for frontier ranking; identical in Spark (F.md5) and Python."""
    return hashlib.md5(url.encode("utf-8")).hexdigest()


def parse_url_parts(url: str) -> tuple[int, str, int]:
    """url → (host_index, category, doc_num)."""
    rest = url.split("https://host", 1)[1]
    h = int(rest[:3])
    _, _, tail = rest.partition("/van-ban/")
    category, _, doc = tail.partition("/doc-")
    return h, category, int(doc.split(".aspx")[0])


def category_priority(category: str) -> int:
    return CATEGORIES.index(category) if category in CATEGORIES else 9


def crawl_delay(h: int) -> float:
    """Per-host crawl delay (robots dimension): 1-3 s, deterministic."""
    return 1.0 + (h % 3)


def host_cookie_header(h: int) -> str:
    """Cookie header the fetch stage sends for a host (the reference
    injects file-loaded cookies into every fetch — crawler.py:62-70,
    pipeline.py:114-117). Deterministic: every third host is
    cookie-less; the rest carry a session + lang pair, mirroring the
    Netscape-file fields the S1 scan parses (crawler.py:31-38)."""
    if h % 3 == 2:
        return ""
    return f"session=tvpl{h:03d}; lang=vi"


ROBOTS_AGENT = "tvpl-crawler"


def host_robots_txt(h: int) -> str:
    """Per-host robots.txt TEXT (north_rule: politeness enforces
    "crawl-delay and robots.txt rules"). Crawl-delay == crawl_delay(h) —
    one source of truth, the engine reads it FROM this text in robots
    mode. Deterministic rules: h%3==0 blocks the Nghi-quyet category,
    h%3==1 blocks doc numbers ending in 7 (wildcard + '$' anchor),
    h%3==2 has no path rules. A decoy group and a '*' fallback exercise
    RFC 9309 group selection end-to-end."""
    lines = [
        f"# robots.txt for {host_name(h)}",
        "User-agent: other-bot",
        "Disallow: /",
        "",
        f"User-agent: {ROBOTS_AGENT}",
        f"Crawl-delay: {crawl_delay(h):g}",
    ]
    if h % 3 == 0:
        lines.append("Disallow: /van-ban/Nghi-quyet/")
    elif h % 3 == 1:
        lines.append("Disallow: /van-ban/*/doc-*7.aspx$")
    lines += ["", "User-agent: *", "Disallow: /van-ban/"]
    return "\n".join(lines)


def robots_allowed(url: str) -> bool:
    """Oracle-side robots decision for a synthetic-world URL (the engine
    evaluates the same rules distributed via robots.apply_robots; the
    two paths are cross-checked by tests/test_robots.py)."""
    from .robots import decide, parse_robots

    h, _, _ = parse_url_parts(url)
    path = "/" + url.split("/", 3)[3]
    rules = parse_robots(host_robots_txt(h), ROBOTS_AGENT)["rules"]
    return decide(rules, path)[0]


def fetch_attempts(url: str) -> tuple[str, int]:
    """Deterministic fetch outcome: ('ok'|'error', attempts_used).
    digit 0 → permanent error after 3 attempts (error sentinel, never an
    exception); digits 1-2 → transient, succeeds on attempt 2; else ok
    first try. Mirrors ocr_pdf.py:48-74 retry semantics."""
    d = int(url_fp(url)[0], 16)
    if d == 0:
        return "error", 3
    if d in (1, 2):
        return "ok", 2
    return "ok", 1


def page_words(url: str) -> list[str]:
    """Page text: WORDS_PER_PAGE vocab words derived from stretched md5."""
    h = url_fp(url)
    out = []
    blocks = (WORDS_PER_PAGE * 2 + 31) // 32
    stretched = "".join(hashlib.md5((h + str(b)).encode()).hexdigest() for b in range(blocks))
    for i in range(WORDS_PER_PAGE):
        out.append(VOCAB[int(stretched[2 * i : 2 * i + 2], 16) % len(VOCAB)])
    return out


def page_spans(url: str) -> list[tuple[str, str, str, int]]:
    """Interleaved (kind, text, media_ref, offset) spans for a fetched page
    — the input_hint payload; same layout as operators/spans.py."""
    h_idx, _, doc_num = parse_url_parts(url)
    words = page_words(url)
    n_text = (len(words) + WORDS_PER_SPAN - 1) // WORDS_PER_SPAN
    spans = []
    for i in range(n_text):
        offset = i + i // MEDIA_EVERY
        text = " ".join(words[i * WORDS_PER_SPAN : (i + 1) * WORDS_PER_SPAN])
        spans.append(("text", text, "", offset))
    for j in range(1, n_text // MEDIA_EVERY + 1):
        ref = f"{MEDIA_URL_PREFIX}/host{h_idx:03d}/doc-{doc_num}/page_{j}.pdf"
        spans.append(("media", "", ref, j * (MEDIA_EVERY + 1) - 1))
    return sorted(spans, key=lambda s: s[3])


def page_outlinks(url: str, world: World) -> list[str]:
    """Outlinks: links_per_page targets; ~10% cross-host, doc number from
    hash nibbles mod target host's URL-space size."""
    h_idx, _, _ = parse_url_parts(url)
    fp = url_fp(url)
    links = []
    for i in range(world.links_per_page):
        seg = hashlib.md5((fp + f"link{i}").encode()).hexdigest()
        d = int(seg[:8], 16)
        if world.n_hosts > 1 and d % 10 == 0:
            target_host = (h_idx + 1 + d % (world.n_hosts - 1)) % world.n_hosts
        else:
            target_host = h_idx
        doc_num = d % world.host_sizes[target_host]
        links.append(make_url(target_host, doc_num))
    return links


def seed_urls(world: World, per_host: int = 2) -> list[str]:
    """Deterministic seed list: first `per_host` doc numbers of each host."""
    return [make_url(h, n) for h in range(world.n_hosts) for n in range(min(per_host, world.host_sizes[h]))]


def page_html(url: str) -> str:
    """Deterministic page HTML for the fetch stand-in — the raw-DOM twin
    of page_spans. Contains every extract-stage feature the reference
    handles (crawler.py:83-142, pipeline.py:129-255): a content1 div,
    nav noise outside it, a <b>Điều N.</b> heading with an embedded
    newline, hover elements keyed via atmm AND via the onmouseover
    regex (plus one with both — atmm must win), a noise tooltip, and a
    '|~|' footnote."""
    h_idx, _, doc_num = parse_url_parts(url)
    words = page_words(url)

    def w(a: int, b: int) -> str:
        return " ".join(words[a:b])

    tt = f"tt-{doc_num % 7}"
    lq = f"lqhlTootip-{doc_num}"
    note = f"note_khoan_{doc_num % 5}"
    return (
        '<html><body>\n<div class="menu">NAV NOISE MUST NOT APPEAR</div>\n'
        '<div class="content1">\n'
        f"Căn cứ {w(0, 4)};\n"
        f"<b>Điều 1.\n{w(4, 7)} chỉnh</b>\n"
        f'{w(7, 10)} <a atmm=".{tt}">văn bản liên quan</a> hết câu.\n'
        f"{w(10, 13)} <span onmouseover=\"LS_Tootip_Type_Bookmark('.{lq}')\">chú giải</span> và "
        f'<a atmm=".{tt}" onmouseover="LS_Tootip_Type_Bookmark(\'.{lq}\')">liên kết kép</a>.\n'
        f'<huongdan id="span-{note}">Bổ sung</huongdan>\n'
        "</div>\n"
        f'<div class="{tt}">giải thích {w(13, 16)}</div>\n'
        f'<div class="{lq}">Click vào để xem nội dung</div>\n'
        f'<div id="{note}">bổ sung {w(16, 19)}|~|Điểm a Khoản {doc_num % 9}</div>\n'
        "</body></html>"
    )


def expected_page_paragraphs(url: str) -> list[str]:
    """Sequential oracle for the HTML extract path: the paragraphs the
    reference flow produces for page_html(url), computed straight from
    the generator's fragments — the parser+joins+merge must invert the
    generator to match this (no HTML parsing here)."""
    _, _, doc_num = parse_url_parts(url)
    words = page_words(url)

    def w(a: int, b: int) -> str:
        return " ".join(words[a:b])

    tooltip = f"giải thích {w(13, 16)}".strip()
    main = f"bổ sung {w(16, 19)}".strip()
    return [
        f"Căn cứ {w(0, 4)};",
        " ".join(f"Điều 1. {w(4, 7)} chỉnh".split()),
        f"{w(7, 10)} văn bản liên quan [{tooltip}] hết câu.".strip(),
        f"{w(10, 13)} chú giải và liên kết kép [{tooltip}].".strip(),
        f"{main} [Điểm a Khoản {doc_num % 9}]",
    ]
