"""Quantify the recall cost of the LSH hot-bucket cap (r02 verdict item:
'cap quality is asserted, not measured').

Planted corpus: distinct base docs each with a near-dup twin (the pairs
LSH must find), plus a boilerplate cluster large enough to overflow
LSH_MAX_BUCKET (the degenerate bucket the cap exists for). Measured:
  * twin recall WITH the cap == twin recall WITHOUT it (the cap's loss
    is confined to hot buckets — planted pairs live in small buckets),
  * the dropped buckets are exactly the boilerplate ones, and
    lsh_bucket_stats-style observability sees them,
  * boilerplate pairs ARE lost under the cap — the honest cost — and
    exact dedup (the stage that runs before LSH in a real pipeline)
    catches every one of them, so end-to-end dedup recall is unharmed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.operators import dedup as D

N_BASE = 30
N_BOILER = 3 * D.LSH_MAX_BUCKET  # 192 identical docs → every band bucket hot


def _corpus(spark):
    rows = []
    for i in range(N_BASE):
        words = " ".join(f"w{i}_{j}" for j in range(40))
        rows.append((f"base_{i:03d}", words))
        rows.append((f"twin_{i:03d}", words + f" extra{i}"))
    for i in range(N_BOILER):
        rows.append((f"boiler_{i:03d}", "phu luc bieu mau ban hanh kem theo quyet dinh"))
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.fixture(scope="module")
def pairs(spark):
    corpus = _corpus(spark)
    bands = D.minhash_bands(D.minhash_signatures(corpus)).localCheckpoint()
    capped = {
        (r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(bands, D.LSH_MAX_BUCKET).collect()
    }
    uncapped = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(bands, None).collect()}
    dropped = D.lsh_dropped_buckets(bands).collect()
    return corpus, capped, uncapped, dropped


def _twin_recall(found: set) -> float:
    hits = sum(
        1 for i in range(N_BASE) if (f"base_{i:03d}", f"twin_{i:03d}") in found
    )
    return hits / N_BASE


def test_cap_does_not_cost_twin_recall(pairs):
    """The planted near-dup pairs live in small buckets; the cap must not
    lose ANY pair the uncapped join finds."""
    _, capped, uncapped, _ = pairs
    assert _twin_recall(capped) == _twin_recall(uncapped)
    assert _twin_recall(uncapped) >= 0.85  # 2-band/8-row LSH at J≈0.97
    twin_pairs_un = {p for p in uncapped if p[0].startswith(("base", "twin"))}
    twin_pairs_cap = {p for p in capped if p[0].startswith(("base", "twin"))}
    assert twin_pairs_cap == twin_pairs_un


def test_cap_drops_exactly_the_boilerplate_buckets(pairs):
    _, capped, uncapped, dropped = pairs
    # observability: the dropped buckets exist and are the hot ones
    assert dropped and all(r.bucket_size == N_BOILER for r in dropped)
    # the capped join avoided the |B|² blowup …
    boiler_capped = {p for p in capped if p[0].startswith("boiler")}
    boiler_uncapped = {p for p in uncapped if p[0].startswith("boiler")}
    assert not boiler_capped
    assert len(boiler_uncapped) == N_BOILER * (N_BOILER - 1) // 2


def test_exact_dedup_catches_what_the_cap_dropped(pairs):
    """End-to-end recall story: the cap only ever drops buckets of
    (near-)identical docs, and the exact-dedup stage groups those for
    free — the boilerplate cluster collapses to ONE keeper."""
    corpus, _, _, _ = pairs
    groups = D.exact_dedup_groups(corpus).filter(F.col("dup_count") > 1).collect()
    assert any(g.dup_count == N_BOILER for g in groups)


def test_shingles_short_docs_yield_empty_array(spark):
    """r05 guard: texts with fewer than n tokens must produce an empty
    shingle array, not an ANSI slice error (sequence(1,0) descends)."""
    from thuvienphapluat_crawler_spark.operators.dedup import shingles
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", "one two three four five six"), ("b", "too short"), ("c", ""), ("d", "exactly five tokens right here")],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.sh for r in df.select("doc_id", shingles(F.col("text"), 5).alias("sh")).collect()}
    assert got["a"] == ["one two three four five", "two three four five six"]
    assert got["b"] == []
    assert got["c"] == []
    assert got["d"] == ["exactly five tokens right here"]


def test_jaccard_on_pairs_zero_intersection(spark):
    """A candidate pair whose hash sets share nothing still yields ONE row,
    with n_inter=0 and jaccard=0.0 (it is not dropped by the joins)."""
    sets = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [4, 5]), ("c", [1, 2, 9])], "doc_id string, hs array<long>"
    )
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], "doc_a string, doc_b string")
    got = {(r.doc_a, r.doc_b): r for r in D.jaccard_on_pairs(pairs, sets).collect()}
    assert set(got) == {("a", "b"), ("a", "c")}
    disjoint, overlap = got[("a", "b")], got[("a", "c")]
    assert (disjoint.n_inter, disjoint.n_a, disjoint.n_b, disjoint.jaccard) == (0, 3, 2, 0.0)
    assert (overlap.n_inter, overlap.jaccard) == (2, 0.5)
