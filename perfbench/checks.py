"""Output checks, run outside the timed region.

Crawl epochs are checked against the single-threaded oracle
(`plans/crawl_oracle.py`) on the same world: crawl order, seen set and
per-document spans. Corpus stages are checked by reading their sink back
and comparing it with the stage's DuckDB oracle SQL on the same input,
normalized the way `tools/verify_oracle.py` normalizes.
"""

from __future__ import annotations

import importlib.util
import os
from collections import defaultdict

from thuvienphapluat_crawler_spark.plans import crawl_oracle


def check_crawl(engine, world, seeds_per_host: int, epochs: list[int]) -> dict[int, str]:
    """Per committed epoch: '' if its outputs equal the oracle's, else
    what differs. A seen-set difference is charged to the last epoch."""
    oracle = crawl_oracle.crawl(world, seeds_per_host=seeds_per_host, max_epochs=max(epochs))
    want_log: dict[int, list] = defaultdict(list)
    epoch_of_url = {}
    for row in oracle.log:
        want_log[row[0]].append(row)
        epoch_of_url[row[3]] = row[0]
    want_docs: dict[int, dict] = defaultdict(dict)
    for url, spans in oracle.docs.items():
        want_docs[epoch_of_url[url]][url] = [tuple(s) for s in spans]

    log = engine.crawl_log().toPandas()
    got_log: dict[int, list] = defaultdict(list)
    for r in log.itertuples(index=False):
        got_log[int(r.epoch)].append(
            (int(r.epoch), r.host, int(r.rank), r.canonical_url, float(r.fetch_slot), r.status, int(r.attempts), r.cookie_header)
        )
    got_docs: dict[int, dict] = defaultdict(dict)
    for r in engine.docs().toPandas().itertuples(index=False):
        got_docs[int(r.epoch)][r.canonical_url] = [
            (s["kind"], s["text"], s["media_ref"], int(s["offset"])) for s in r.spans
        ]
    seen = set(engine.seen().toPandas()["canonical_url"])

    out = {}
    for e in epochs:
        problems = []
        if sorted(got_log[e]) != sorted(want_log[e]):
            problems.append(f"crawl order differs ({len(got_log[e])} rows vs {len(want_log[e])})")
        if got_docs[e] != want_docs[e]:
            problems.append(f"document spans differ ({len(got_docs[e])} docs vs {len(want_docs[e])})")
        out[e] = "; ".join(problems)
    if seen != oracle.seen:
        last = max(epochs)
        msg = f"seen set differs ({len(seen)} vs {len(oracle.seen)} urls)"
        out[last] = f"{out[last]}; {msg}" if out[last] else msg
    return out


def _verify_oracle_module(repo_root: str):
    path = os.path.join(repo_root, "tools", "verify_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_verify_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class StageChecker:
    """Compares a corpus stage's sink with its oracle SQL on DuckDB."""

    def __init__(self, repo_root: str, sf_dir: str):
        import duckdb

        from thuvienphapluat_crawler_spark.queries import get_oracles

        self.normalize = _verify_oracle_module(repo_root).normalize
        self.oracles = get_oracles()
        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, spark, name: str, sink: str) -> str:
        """'' if the sink equals the oracle's result, else what differs."""
        try:
            got = spark.read.parquet(sink).toPandas()
            want = self.con.execute(self.oracles[name]).df()
        except Exception as exc:  # a check that cannot run fails its stage
            return f"check raised {exc!r}"[:500]
        if len(got) != len(want):
            return f"rows {len(got)} vs oracle {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
        a, b = self.normalize(got), self.normalize(want)
        if not a.equals(b):
            return f"{int((a != b).to_numpy().sum())} of {a.size} cells differ"
        return ""
