"""Single-threaded reference oracle for the crawl engine.

Implements the exact crawl semantics sequentially (the shape of the
reference's own loop: one URL at a time, pipeline.py:387-435), using the
same synthetic-web content functions. Tests assert the Spark engine's
crawl order, URL-seen set, and per-document span sequences equal this
oracle's, row for row — the SURVEY §5 "reference-oracle test" strategy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..sources import synthetic_web as SW


@dataclass
class OracleResult:
    # (epoch, host, rank, url, fetch_slot, status, attempts, cookie_header)
    # in crawl order
    log: list[tuple] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    # url -> ordered span tuples (kind, text, media_ref, offset)
    docs: dict[str, list[tuple]] = field(default_factory=dict)


def crawl(
    world: SW.World,
    seeds_per_host: int = 2,
    max_epochs: int | None = None,
    robots: bool = False,
) -> OracleResult:
    max_epochs = world.max_epochs if max_epochs is None else max_epochs
    res = OracleResult()

    # frontier entries: url -> (depth, discovered_epoch); fetched set
    seeds = SW.seed_urls(world, seeds_per_host)
    frontier: dict[str, tuple[int, int]] = {u: (0, 0) for u in seeds}
    res.seen = set(seeds)
    fetched: set[str] = set()

    for epoch in range(1, max_epochs + 1):
        pending = [
            (u, d, de)
            for u, (d, de) in frontier.items()
            if u not in fetched and de <= epoch and (not robots or SW.robots_allowed(u))
        ]
        if not pending:
            break
        by_host: dict[str, list[tuple[str, int]]] = {}
        for u, d, _ in pending:
            h_idx, cat, _n = SW.parse_url_parts(u)
            by_host.setdefault(f"host{h_idx:03d}.example.vn", []).append((u, d))

        discovered: dict[str, int] = {}  # url -> min src depth this epoch
        any_fetch = False
        for host in sorted(by_host):
            entries = by_host[host]
            entries.sort(key=lambda t: (SW.category_priority(SW.parse_url_parts(t[0])[1]), t[1], SW.url_fp(t[0])))
            h_idx = int(host[4:7])
            if robots:  # delay read FROM the robots.txt text, as the engine does
                from ..sources.robots import parse_robots

                delay = parse_robots(SW.host_robots_txt(h_idx), SW.ROBOTS_AGENT)["crawl_delay"]
                if delay is None:  # robots.txt without a Crawl-delay line:
                    delay = SW.crawl_delay(h_idx)  # same fallback as engine
            else:
                delay = SW.crawl_delay(h_idx)
            cookie = SW.host_cookie_header(h_idx)
            for rank, (u, d) in enumerate(entries[: world.budget_per_host], start=1):
                status, attempts = SW.fetch_attempts(u)
                res.log.append((epoch, host, rank, u, (rank - 1) * delay, status, attempts, cookie))
                fetched.add(u)
                any_fetch = True
                if status != "ok":
                    continue
                res.docs[u] = SW.page_spans(u)
                for out in SW.page_outlinks(u, world):
                    nd = d + 1
                    if out not in discovered or nd < discovered[out]:
                        discovered[out] = nd
        if not any_fetch:
            break
        for out, nd in discovered.items():
            if out not in res.seen:
                res.seen.add(out)
                frontier[out] = (nd, epoch + 1)
    return res
