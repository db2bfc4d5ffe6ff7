"""Distributed prefix-sum shard packing + connected-components operators."""

from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.operators.dedup import connected_components
from thuvienphapluat_crawler_spark.operators.shards import packed_shards


def test_packed_shards_matches_sequential_and_is_partition_invariant(spark):
    rows = [(i, 10 + (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")

    def collect_packed(n_parts):
        out = packed_shards(df, "doc_id", "w", budget=100, n_parts=n_parts)
        return {r.doc_id: (r.cum_before, r.shard_id) for r in out.collect()}

    # sequential truth
    cum, want = 0, {}
    for i, w in rows:
        want[i] = (cum, cum // 100)
        cum += w
    got1, got7 = collect_packed(1), collect_packed(7)
    assert got1 == want
    assert got7 == want  # invariant to partition count


def test_packed_shards_empty(spark):
    df = spark.createDataFrame([], "doc_id long, w long")
    assert packed_shards(df, "doc_id", "w", budget=10).count() == 0


def test_connected_components_multi_hop_chain(spark):
    # a 6-node path (diameter 5) forces multiple propagation rounds,
    # plus a separate triangle and an isolated edge
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert {got[n] for n in (1, 2, 3, 4, 5, 6)} == {1}
    assert {got[n] for n in (10, 11, 12)} == {10}
    assert got[20] == got[21] == 20


def test_connected_components_label_flows_against_edge_direction(spark):
    # min label must reach nodes regardless of src/dst orientation
    df = spark.createDataFrame([(5, 1), (5, 9)], "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == {1: 1, 5: 1, 9: 1}


def test_corpus_manifest_quality_and_dedup_semantics(spark):
    # planted exact copies (doc_id*4+2) must never survive; survivors'
    # shard ids must be non-decreasing in doc order
    from thuvienphapluat_crawler_spark.queries import QUERIES

    rows = QUERIES["corpus_manifest"](spark, "/root/testdata/sf0.001").collect()
    ids = [r.doc_id for r in rows]
    assert ids == sorted(ids)
    assert all(r.doc_id % 4 != 2 for r in rows)  # exact copy loses to the original
    shard_ids = [r.shard_id for r in rows]
    assert shard_ids == sorted(shard_ids)
    assert shard_ids[-1] > 0  # packing actually produced multiple shards


def test_connected_components_diameter_100_chain_converges_fast(spark):
    """Pointer jumping (r05): a 101-node path (diameter 100) must resolve
    in O(log d) rounds — max_rounds=10 would take 100 rounds under plain
    min-label propagation."""
    edges = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df, max_rounds=10).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 101


def test_connected_components_empty_edges(spark):
    out = connected_components(spark.createDataFrame([], "src long, dst long"))
    assert out.collect() == []
    assert out.columns == ["node", "comp"]


def test_connected_components_raises_on_exhausted_rounds(spark):
    """The silent-wrong path is gone: exhausting max_rounds before
    convergence raises instead of returning partial labels."""
    import pytest

    edges = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_rounds=1)
