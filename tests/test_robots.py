"""robots.txt parsing + frontier application (sources/robots.py).

North-rule politeness: crawl-delay and robots rules; RFC 9309 semantics
(group selection, wildcard rules, longest-match, tie → Allow).
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.sources.robots import (
    _pattern_to_regex,
    apply_robots,
    decide,
    parse_robots,
    rules_from_robots_txt,
)

ROBOTS = """\
# comment line
User-agent: other-bot
Disallow: /

User-agent: TVPL-Crawler
Crawl-delay: 2.5
Disallow: /van-ban/Thong-tu/
Disallow: /van-ban/Luat/doc-*1.aspx$
Allow: /van-ban/Thong-tu/doc-3
Disallow:

User-agent: *
Disallow: /van-ban/
"""


def test_group_selection_specific_beats_star_and_decoy():
    got = parse_robots(ROBOTS, "TVPL-Crawler/1.0 (+https://example.vn)")
    assert got["crawl_delay"] == 2.5
    assert ("/", False) not in got["rules"]          # decoy group not selected
    assert ("/van-ban/", False) not in got["rules"]  # '*' group not selected
    assert len(got["rules"]) == 3                    # empty Disallow dropped


def test_star_fallback_when_agent_unknown():
    got = parse_robots(ROBOTS, "SomeOtherBot/2.0")
    assert got["rules"] == [("/van-ban/", False)]
    assert got["crawl_delay"] is None


@pytest.mark.parametrize("swap", [False, True])
def test_empty_user_agent_names_no_agent(swap):
    # "" is a substring of every agent string: counted as an agent, it tied
    # '*' and file order picked the group
    empty, star = "User-agent:\nDisallow: /\n", "User-agent: *\nAllow: /\n"
    txt = f"{star}\n{empty}" if swap else f"{empty}\n{star}"
    assert parse_robots(txt, "TVPL-Crawler")["rules"] == [("/", True)]


@pytest.mark.parametrize("val", ["inf", "Infinity", "1e999", "nan", "-3"])
def test_non_finite_or_negative_crawl_delay_ignored(val):
    got = parse_robots(f"User-agent: *\nCrawl-delay: {val}\nDisallow: /x\n", "bot")
    assert got["crawl_delay"] is None
    assert got["rules"] == [("/x", False)]


@pytest.mark.parametrize("val, want", [("0", 0.0), ("2.5", 2.5)])
def test_finite_crawl_delay_kept(val, want):
    assert parse_robots(f"User-agent: *\nCrawl-delay: {val}\n", "bot")["crawl_delay"] == want


def test_fuzz_parse_robots_shapes(mutants):
    for blob in mutants(ROBOTS.encode(), seed=9):
        got = parse_robots(blob.decode("utf-8", errors="replace"), "TVPL-Crawler/1.0")
        assert isinstance(got["rules"], list) and isinstance(got["sitemaps"], list)
        assert all(isinstance(p, str) and isinstance(a, bool) for p, a in got["rules"])
        delay = got["crawl_delay"]
        assert delay is None or (isinstance(delay, float) and math.isfinite(delay) and delay >= 0)
        assert all(isinstance(u, str) for u in got["sitemaps"])
        for pattern, _ in got["rules"]:
            re.compile(_pattern_to_regex(pattern))


def test_no_group_at_all():
    assert parse_robots("Disallow: /x\n", "any") == {
        "rules": [],
        "crawl_delay": None,
        "sitemaps": [],
    }


def test_decide_longest_match_allow_override():
    rules = parse_robots(ROBOTS, "tvpl-crawler")["rules"]
    assert decide(rules, "/van-ban/Thong-tu/doc-3x.aspx") == (True, "/van-ban/Thong-tu/doc-3")
    assert decide(rules, "/van-ban/Thong-tu/doc-7.aspx") == (False, "/van-ban/Thong-tu/")
    assert decide(rules, "/van-ban/Luat/doc-41.aspx") == (False, "/van-ban/Luat/doc-*1.aspx$")
    assert decide(rules, "/van-ban/Luat/doc-41.aspx.html") == (True, None)  # $ anchor
    assert decide(rules, "/anything-else") == (True, None)


def test_tie_goes_to_allow():
    rules = [("/a/bb", False), ("/a/bb", True)]
    assert decide(rules, "/a/bbc") == (True, "/a/bb")


def test_pattern_regex_translation():
    assert _pattern_to_regex("/a*b$") == "^/a.*b$"
    assert _pattern_to_regex("/plain") == "^/plain"
    assert _pattern_to_regex("/dot.aspx") == r"^/dot\.aspx"


def test_spark_apply_matches_python_decide(spark):
    paths = [
        "/van-ban/Thong-tu/doc-3x.aspx",
        "/van-ban/Thong-tu/doc-7.aspx",
        "/van-ban/Luat/doc-41.aspx",
        "/van-ban/Luat/doc-41.aspx.html",
        "/van-ban/Nghi-dinh/doc-2.aspx",
    ]
    frontier = spark.createDataFrame(
        [(i, "h0", p) for i, p in enumerate(paths)], "doc_id int, host string, path string"
    )
    robots = spark.createDataFrame([("h0", ROBOTS)], "host string, robots_txt string")
    rules = rules_from_robots_txt(robots, agent="tvpl-crawler")
    got = {
        r.path: (r.allowed, r.matched_rule, r.crawl_delay)
        for r in apply_robots(frontier, rules).collect()
    }
    py_rules = parse_robots(ROBOTS, "tvpl-crawler")["rules"]
    for p in paths:
        allowed, pattern = decide(py_rules, p)
        assert got[p] == (allowed, pattern, 2.5), p


def test_host_without_rules_is_all_allowed(spark):
    frontier = spark.createDataFrame([(0, "h9", "/x")], "doc_id int, host string, path string")
    robots = spark.createDataFrame(
        [("h9", "User-agent: tvpl-crawler\nCrawl-delay: 1\n")], "host string, robots_txt string"
    )
    rules = rules_from_robots_txt(robots, agent="tvpl-crawler")
    row = apply_robots(frontier, rules).collect()[0]
    assert (row.allowed, row.matched_rule, row.crawl_delay) == (True, None, 1.0)


# ---------------------------------------------------------------------------
# Sitemap directive (r06): file-level, group-independent


def test_sitemap_lines_collected_file_level():
    from thuvienphapluat_crawler_spark.sources.robots import parse_robots

    txt = (
        "Sitemap: https://h/s1.xml\n"
        "User-agent: bot\n"
        "Disallow: /x\n"
        "Sitemap: https://h/s2.xml\n"
    )
    parsed = parse_robots(txt, agent="bot")
    assert parsed["sitemaps"] == ["https://h/s1.xml", "https://h/s2.xml"]
    assert parsed["rules"] == [("/x", False)]


def test_sitemap_between_ua_and_rules_does_not_split_group():
    from thuvienphapluat_crawler_spark.sources.robots import parse_robots

    txt = (
        "User-agent: tvpl\n"
        "Sitemap: https://h/s.xml\n"   # must NOT terminate the group header
        "Crawl-delay: 2\n"
        "Disallow: /a\n"
        "Allow: /a/b\n"
    )
    parsed = parse_robots(txt, agent="tvpl-crawler")
    assert parsed["crawl_delay"] == 2.0
    assert parsed["rules"] == [("/a", False), ("/a/b", True)]
    assert parsed["sitemaps"] == ["https://h/s.xml"]


def test_sitemap_does_not_merge_adjacent_groups():
    from thuvienphapluat_crawler_spark.sources.robots import parse_robots

    # after group-1's rules, a Sitemap line then a UA line: the UA line
    # still starts a FRESH group (the sitemap is no group content)
    txt = (
        "User-agent: a\nDisallow: /only-a\n"
        "Sitemap: https://h/s.xml\n"
        "User-agent: b\nDisallow: /only-b\n"
    )
    assert parse_robots(txt, agent="b")["rules"] == [("/only-b", False)]
    assert parse_robots(txt, agent="a")["rules"] == [("/only-a", False)]


def test_sitemaps_empty_when_absent():
    from thuvienphapluat_crawler_spark.sources.robots import parse_robots

    assert parse_robots("User-agent: *\nDisallow: /\n", agent="x")["sitemaps"] == []
