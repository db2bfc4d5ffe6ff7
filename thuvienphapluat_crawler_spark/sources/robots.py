"""robots.txt rules for the politeness scheduler (north_rule: "per-host
politeness scheduler that ... enforce[s] crawl-delay and robots.txt rules";
SURVEY §1.4 / §2.9 politeness. The reference crawls one known-friendly host
and hard-codes its delays — crawler.py sleeps — so the PARSER here follows
the public RFC 9309 semantics rather than any reference code).

parse_robots implements the subset a crawler actually needs:
  - record groups keyed by User-agent (consecutive UA lines share a group),
    most-specific agent match wins, '*' as fallback (RFC 9309 §2.2.1)
  - Allow/Disallow path rules with '*' wildcards and a '$' end anchor,
    longest-pattern-wins, tie → Allow (RFC 9309 §2.2.2)
  - Crawl-delay (de-facto extension) per group, finite and ≥ 0 only
  - comments (#), blank-line tolerance, empty Disallow = allow-all

Rule evaluation is NOT done here row-by-row: rules_from_robots_txt turns
parsed rules into a tiny (host, pattern, rx, allow, specificity,
crawl_delay) dimension that queries broadcast-join against the frontier
and evaluate with regexp_like — the 10^10-row side never leaves the JVM.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rowmap import flat_map_rows


def _pattern_to_regex(pattern: str) -> str:
    """Robots path pattern → anchored regex: '*' = any run, trailing '$'
    = end-of-path; everything else literal (RFC 9309 §2.2.3)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    rx = ".*".join(re.escape(part) for part in pattern.split("*"))
    return "^" + rx + ("$" if anchored else "")


def parse_robots(text: str, agent: str) -> dict:
    """{'rules': [(pattern, allow: bool)], 'crawl_delay': float | None,
    'sitemaps': [url, ...]} — rules/delay for the group that best
    matches `agent` (longest agent-token substring match,
    case-insensitive; '*' fallback; no group → empty); sitemaps are
    FILE-level (the Sitemap directive is independent of any user-agent
    group per sitemaps.org/RFC 9309 §2.2.2 "other records", and must
    neither start nor terminate a group).
    """
    groups: list[dict] = []  # {'agents': [...], 'rules': [...], 'delay': ...}
    sitemaps: list[str] = []
    cur: dict | None = None
    after_rules = True  # a UA line after rules starts a NEW group
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "sitemap":
            # collected before any group-state handling: a Sitemap line
            # between a UA line and its rules must not split the group
            if val:
                sitemaps.append(val)
        elif key == "user-agent":
            if cur is None or after_rules:
                cur = {"agents": [], "rules": [], "delay": None}
                groups.append(cur)
                after_rules = False
            if val:  # RFC 9309 has no empty product token: it names no agent
                cur["agents"].append(val.lower())
        elif cur is not None:
            after_rules = True
            if key in ("allow", "disallow"):
                if val:  # empty Disallow: == allow everything (no rule)
                    cur["rules"].append((val, key == "allow"))
            elif key == "crawl-delay":
                try:
                    delay = float(val)
                except ValueError:
                    continue
                if math.isfinite(delay) and delay >= 0:  # ignore inf, nan, negatives
                    cur["delay"] = delay

    agent_lc = agent.lower()
    best, best_len = None, -1
    for g in groups:
        for a in g["agents"]:
            if a == "*":
                if best_len < 0:
                    best, best_len = g, 0
            elif a in agent_lc and len(a) > best_len:
                best, best_len = g, len(a)
    if best is None:
        return {"rules": [], "crawl_delay": None, "sitemaps": sitemaps}
    return {
        "rules": list(best["rules"]),
        "crawl_delay": best["delay"],
        "sitemaps": sitemaps,
    }


def decide(rules: list[tuple[str, bool]], path: str) -> tuple[bool, str | None]:
    """(allowed, matched_pattern) — longest pattern wins, tie → Allow,
    no match → allowed. The driver-side twin of the DataFrame evaluation
    (used by tests and the DuckDB-oracle replay)."""
    best: tuple[int, int, str] | None = None
    winner: tuple[bool, str | None] = (True, None)
    for pattern, allow in rules:
        if re.match(_pattern_to_regex(pattern), path):
            key = (len(pattern), int(allow), pattern)
            if best is None or key > best:
                best, winner = key, (allow, pattern)
    return winner


RULE_SCHEMA = (
    "host string, crawl_delay double, pattern string, rx string, "
    "allow boolean, specificity int"
)


def rules_from_robots_txt(df: DataFrame, agent: str) -> DataFrame:
    """(host, robots_txt) → one row per applicable rule for `agent`,
    regex-compiled; hosts whose group has no path rules still emit one
    NULL-pattern row so crawl_delay survives. Tiny output — meant to be
    broadcast against the frontier."""

    def rules(host, text):
        parsed = parse_robots(str(text), agent)
        delay = parsed["crawl_delay"]
        if not parsed["rules"]:
            yield host, delay, None, None, None, None
        for pattern, allow in parsed["rules"]:
            yield host, delay, pattern, _pattern_to_regex(pattern), allow, len(pattern)

    return flat_map_rows(df.select("host", "robots_txt"), rules, RULE_SCHEMA)


def sitemaps_from_robots_txt(df: DataFrame) -> DataFrame:
    """(host, robots_txt) → (host, sm_pos, sitemap_url): every Sitemap
    directive in file order, through the real parser (group-independent
    collection). The discovery entrypoint feeding sources/sitemap.py —
    tiny output, per-host, broadcastable like the rules."""

    def sitemaps(host, text):
        parsed = parse_robots(str(text), agent="-")
        for i, url in enumerate(parsed["sitemaps"]):
            yield host, i, url

    return flat_map_rows(
        df.select("host", "robots_txt"), sitemaps, "host string, sm_pos long, sitemap_url string"
    )


def apply_robots(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """frontier(host, path, …) ⋈ broadcast(rules) → + (allowed,
    matched_rule, crawl_delay). Longest-pattern-wins / tie→Allow as a
    max_by over (specificity, allow, pattern) — one broadcast join and
    one partial-aggregated groupBy; the frontier side is never collected
    or re-shuffled beyond the doc key."""
    matches = (
        frontier.join(F.broadcast(rules), "host", "left")
        .withColumn(
            "_hit",
            F.col("pattern").isNotNull() & F.regexp_like(F.col("path"), F.col("rx")),
        )
    )
    key = F.struct(
        F.col("specificity"), F.col("allow").cast("int").alias("a"), F.col("pattern")
    )
    hit = F.when(F.col("_hit"), key)
    grp = [c for c in frontier.columns]
    return (
        matches.groupBy(*grp)
        .agg(
            F.max_by(F.col("allow"), hit).alias("_win_allow"),
            F.max_by(F.col("pattern"), hit).alias("_win_pattern"),
            F.max("crawl_delay").alias("crawl_delay"),
            F.max(F.col("_hit").cast("int")).alias("_any"),
        )
        .select(
            *grp,
            F.when(F.col("_any") == 1, F.col("_win_allow"))
            .otherwise(F.lit(True))
            .alias("allowed"),
            F.when(F.col("_any") == 1, F.col("_win_pattern")).alias("matched_rule"),
            "crawl_delay",
        )
    )
