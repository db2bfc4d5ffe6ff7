"""Link-graph PageRank for crawl prioritization, integer-exact.

Reference framing: the reference crawls one known host in listing order
(crawler.py walks category pages); a web-scale frontier ranks by link
authority — PageRank / OPIC ordering is the classic crawl-priority
signal [Cho, Garcia-Molina, Page, "Efficient Crawling Through URL
Ordering", WWW 1998] — and frontier_rank's (category_priority, depth)
key gains an authority term from exactly this table.

INTEGER-exact by construction (the repo's oracle-parity contract):
float64 summation order differs between Spark's partial aggregates and
DuckDB's serial scan, so PR mass is held in micro-units (bigint,
SCALE = 1e6) and every operation is order-free integer arithmetic:

    pr_0(v)     = SCALE // N
    contrib(u→v) = (pr_t(u) * DAMP_PM) // (1_000_000 * outdeg(u))
    pr_{t+1}(v) = (SCALE * (1_000_000 - DAMP_PM)) // (1_000_000 * N)
                  + Σ contrib(u→v)

with DAMP_PM = 850_000 (d = 0.85 in parts-per-million). Floor-division
leaks a few micro-units of mass per edge (bounded by E micro-units per
iteration) — the standard price for cross-engine bit-equality, stated
rather than hidden. Dangling nodes (outdeg 0) drop their mass, the
common simplification; at web scale you add the dangling-sum
redistribution term, one extra scalar aggregate per iteration.

Scale shape: per iteration, ONE join keyed on src (edges ⋈ ranks,
broadcast outdeg folded into the same key) and ONE groupBy(dst) with
map-side partial sums — the textbook distributed PageRank step; ranks
localCheckpoint per iteration so the plan does not grow with t (the
same iterative-plan discipline as dedup.connected_components). Fixed
iteration count keeps the oracle replayable (k unrolled SQL CTEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rowmap import materialize

SCALE = 1_000_000
DAMP_PM = 850_000  # d = 0.85 in ppm


def pagerank_int(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """(node, pr) after `iters` integer-exact PageRank iterations.
    `nodes` fixes the vertex set (isolated vertices keep the base
    mass); `edges` rows are (src, dst) with duplicates meaningful
    (parallel links add parallel contributions, matching the SQL
    replay)."""
    nodes, counts = materialize(nodes.select(F.col(node).alias("node")), n_nodes=F.count(F.lit(1)))
    n_nodes = counts["n_nodes"]
    if n_nodes == 0:
        return nodes.select("node", F.lit(0).cast("bigint").alias("pr"))
    base = (SCALE * (1_000_000 - DAMP_PM)) // (1_000_000 * n_nodes)
    outdeg = edges.groupBy(src).agg(F.count("*").alias("od"))
    ranks = nodes.select("node", F.lit(SCALE // n_nodes).cast("bigint").alias("pr"))
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(outdeg, src)
            .select(
                F.col(dst).alias("node"),
                # integer `div`, never float-divide-then-cast (Spark
                # truncates, DuckDB rounds — the repo-wide parity trap)
                F.expr(f"(pr * {DAMP_PM}) div (1000000 * od)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("bigint").alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks
