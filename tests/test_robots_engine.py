"""Robots mode of the crawl engine (north_rule: politeness enforces
"crawl-delay and robots.txt rules").

robots=True parses each host's robots.txt TEXT into a broadcast rule dim,
filters disallowed URLs out of every epoch's batch BEFORE ranking, and
takes the fetch-stage crawl-delay FROM the parsed Crawl-delay line. The
sequential oracle replays the same semantics via robots.decide.
"""

from __future__ import annotations

import pytest

from thuvienphapluat_crawler_spark.plans import crawl_oracle
from thuvienphapluat_crawler_spark.plans.frontier import FRONTIER_SCHEMA, CrawlEngine
from thuvienphapluat_crawler_spark.sources import synthetic_web as SW

# budget/epochs chosen so the rules BITE: the plain crawl fetches 5 URLs
# robots mode blocks (verified in-test), not just never-reached ones
WORLD = SW.World(n_hosts=4, base_size=40, links_per_page=3, budget_per_host=10, max_epochs=3)


def log_rows(engine: CrawlEngine):
    return sorted(
        (r.epoch, r.host, r.rank, r.canonical_url, r.fetch_slot, r.status, r.attempts, r.cookie_header)
        for r in engine.crawl_log().collect()
    )


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh_robots"))
    engine = CrawlEngine(spark, WORLD, root, n_buckets=4, robots=True)
    engine.run()
    oracle = crawl_oracle.crawl(WORLD, robots=True)
    return engine, oracle


def test_crawl_order_matches_robots_oracle(run):
    engine, oracle = run
    assert log_rows(engine) == sorted(oracle.log)


def test_disallowed_urls_never_fetched(run):
    engine, _ = run
    fetched = [r.canonical_url for r in engine.crawl_log().collect()]
    assert fetched, "robots mode fetched nothing — world/rules mismatch"
    blocked = [u for u in fetched if not SW.robots_allowed(u)]
    assert blocked == []
    # the rules actually bite: the no-robots oracle fetches strictly more
    plain = crawl_oracle.crawl(WORLD)
    assert len(plain.log) > len(fetched)


def test_fetch_slots_use_robots_crawl_delay(run):
    engine, _ = run
    from thuvienphapluat_crawler_spark.sources.robots import parse_robots

    for r in engine.crawl_log().collect():
        h = int(r.host[4:7])
        delay = parse_robots(SW.host_robots_txt(h), SW.ROBOTS_AGENT)["crawl_delay"]
        assert r.fetch_slot == (r.rank - 1) * delay


def test_blocked_urls_stay_in_seen_set(run):
    # disallowed URLs are discovered (seen) but never fetched — parity
    # with the oracle's frontier bookkeeping
    engine, oracle = run
    got = {r.canonical_url for r in engine.seen().collect()}
    assert got == oracle.seen
    assert any(not SW.robots_allowed(u) for u in got), "world has no blocked URL — weak test"


def test_robots_lineage_counts_blocked(run):
    engine, _ = run
    lineage = engine.wh.read_manifest().get("lineage", {})
    blocked = [v.get("n_robots_blocked", 0) for v in lineage.values()]
    assert any(b > 0 for b in blocked)


def test_robots_lineage_blocked_is_pending_disallowed(run):
    # blocked URLs are never logged, so they stay pending and every epoch
    # counts them again
    engine, _ = run
    frontier = engine.wh.read(engine.spark, "frontier", FRONTIER_SCHEMA).collect()
    lineage = engine.wh.read_manifest()["lineage"]
    for e, v in lineage.items():
        if e == "0":
            continue
        want = sum(
            1 for r in frontier if r.discovered_epoch <= int(e) and not SW.robots_allowed(r.canonical_url)
        )
        assert v["n_robots_blocked"] == want, e


def test_missing_crawl_delay_falls_back(spark, tmp_path, monkeypatch):
    # RFC 9309 makes Crawl-delay optional. A host whose robots.txt lacks the
    # line must fall back to the default per-host delay (engine AND oracle),
    # never NaN fetch slots.
    orig = SW.host_robots_txt

    def no_delay(h: int) -> str:
        return "\n".join(
            ln for ln in orig(h).splitlines() if not ln.startswith("Crawl-delay")
        )

    monkeypatch.setattr(SW, "host_robots_txt", no_delay)
    monkeypatch.setattr(crawl_oracle.SW, "host_robots_txt", no_delay)
    world = SW.World(n_hosts=3, base_size=12, links_per_page=2, budget_per_host=5, max_epochs=2)
    engine = CrawlEngine(spark, world, str(tmp_path / "wh_nodelay"), n_buckets=2, robots=True)
    engine.run()
    got = log_rows(engine)
    oracle = crawl_oracle.crawl(world, robots=True)
    assert got == sorted(oracle.log)
    assert got, "crawl fetched nothing"
    for _, host, rank, _, slot, _, _, _ in got:
        d = SW.crawl_delay(int(host[4:7]))
        assert slot == (rank - 1) * d  # default delay, not NaN
