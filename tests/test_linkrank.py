"""Integer-exact PageRank (operators/linkrank.py), hand-computed cases."""

from __future__ import annotations

from thuvienphapluat_crawler_spark.operators.linkrank import SCALE, pagerank_int


def _graph(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    return edf, ndf


def test_cycle_is_stationary(spark):
    # 3-cycle: the uniform vector is the fixpoint, and integer floors
    # happen to be exact here: 50000 + (333333*850000)//1000000 = 333333
    edges, nodes = _graph(spark, [0, 1, 2], [(0, 1), (1, 2), (2, 0)])
    out = {r.node: r.pr for r in pagerank_int(edges, nodes, iters=3).collect()}
    assert out == {0: 333333, 1: 333333, 2: 333333}


def test_star_two_iterations_hand_computed(spark):
    # 0 -> 1, 0 -> 2 (outdeg 2). pr0 = 333333, base = 50000.
    # iter1: contrib = (333333*850000)//2000000 = 141666
    # iter2: contrib = (50000*850000)//2000000 = 21250
    edges, nodes = _graph(spark, [0, 1, 2], [(0, 1), (0, 2)])
    out = {r.node: r.pr for r in pagerank_int(edges, nodes, iters=2).collect()}
    assert out[0] == 50000  # no in-links: base only
    assert out[1] == out[2] == 50000 + 21250


def test_isolated_node_keeps_base_mass(spark):
    edges, nodes = _graph(spark, [0, 1, 9], [(0, 1), (1, 0)])
    out = {r.node: r.pr for r in pagerank_int(edges, nodes, iters=3).collect()}
    assert out[9] == (SCALE * 150_000) // (1_000_000 * 3)


def test_parallel_edges_contribute_twice(spark):
    # two parallel 0->1 edges: outdeg(0)=2, each edge carries its share,
    # so node 1 receives BOTH shares (equivalent to one full-weight link)
    edges, nodes = _graph(spark, [0, 1], [(0, 1), (0, 1)])
    single_e, single_n = _graph(spark, [0, 1], [(0, 1)])
    par = {r.node: r.pr for r in pagerank_int(edges, nodes, iters=1).collect()}
    sgl = {r.node: r.pr for r in pagerank_int(single_e, single_n, iters=1).collect()}
    assert par[1] == sgl[1]  # 2 × half-share == 1 × full share (exact here)


def test_mass_is_bounded_by_total(spark):
    # floor-division only LEAKS mass, never creates it
    edges, nodes = _graph(
        spark, list(range(6)), [(i, (i * 3 + 1) % 6) for i in range(6)] + [(0, 3), (2, 5)]
    )
    total = sum(r.pr for r in pagerank_int(edges, nodes, iters=4).collect())
    assert total <= SCALE


def test_empty_nodes_give_empty_ranks(spark):
    edges, nodes = _graph(spark, [], [])
    out = pagerank_int(edges, nodes, iters=3)
    assert out.collect() == []
    assert out.columns == ["node", "pr"]
