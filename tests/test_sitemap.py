"""Sitemap XML codec (sources/sitemap.py): roundtrip + strict parse."""

from __future__ import annotations

import pytest

from thuvienphapluat_crawler_spark.sources.sitemap import (
    SitemapFormatError,
    encode_sitemapindex,
    encode_urlset,
    parse_sitemap,
)


def test_urlset_roundtrip():
    entries = [
        ("https://h0.example.test/doc/1", "2026-01-02"),
        ("https://h0.example.test/doc/2", "2026-01-03"),
    ]
    kind, parsed = parse_sitemap(encode_urlset(entries))
    assert kind == "urlset"
    assert parsed == entries


def test_index_roundtrip():
    locs = [f"https://h0.example.test/sitemap-{i}.xml" for i in range(3)]
    kind, parsed = parse_sitemap(encode_sitemapindex(locs))
    assert kind == "index"
    assert [loc for loc, lastmod in parsed] == locs
    assert all(lastmod is None for _, lastmod in parsed)


def test_malformed_xml_raises():
    with pytest.raises(SitemapFormatError, match="malformed"):
        parse_sitemap("<urlset><url><loc>x</loc>")


def test_wrong_root_raises():
    with pytest.raises(SitemapFormatError, match="root"):
        parse_sitemap("<rss/>")


def test_wrong_namespace_is_not_a_sitemap():
    with pytest.raises(SitemapFormatError, match="root"):
        parse_sitemap('<urlset xmlns="http://wrong.ns"><url><loc>x</loc></url></urlset>')


def test_entry_without_loc_raises():
    xml = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><lastmod>2026-01-01</lastmod></url></urlset>"
    )
    with pytest.raises(SitemapFormatError, match="loc"):
        parse_sitemap(xml)


def test_lastmod_optional_in_urlset():
    xml = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://h/d</loc></url></urlset>"
    )
    kind, parsed = parse_sitemap(xml)
    assert parsed == [("https://h/d", None)]


def test_fuzz_damaged_sitemap_raises_only_sitemap_format_error(mutants):
    """Seeded damage to a valid urlset, decoded as a fetched body would be
    (errors="replace"), either parses or raises SitemapFormatError —
    never a bare ParseError, ValueError or AttributeError."""
    blob = encode_urlset([(f"https://h0.example.test/doc/{i}", "2026-01-02") for i in range(4)]).encode()
    outcomes = {"parsed": 0, "SitemapFormatError": 0}
    for data in mutants(blob, seed=10):
        try:
            parse_sitemap(data.decode("utf-8", errors="replace"))
        except SitemapFormatError:
            outcomes["SitemapFormatError"] += 1
        else:
            outcomes["parsed"] += 1
    assert all(outcomes.values()), outcomes
