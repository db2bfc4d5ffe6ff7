"""Similarity search over an embedding column (array<float>).

Two paths, one shared top-k tail (_topk_by_cosine):
  brute force — exact cosine top-k. The queries side is tiny (top-k for a
      handful of probes) → broadcast the queries, stream the corpus once:
      cost O(|corpus|·|queries|·dim) with NO shuffle of the corpus.
  LSH (random hyperplanes) — lsh_topk: sign-bit bucket per vector and
      per hyperplane table; candidates share a bucket with one of the
      query's probes in any table → exact cosine top-k over the
      candidates. One table, several tables and multi-probe are the same
      call with different tables / max_flips.

Cosine is computed with explicit fold arithmetic (dot/(√aa·√bb)) in
float64, summing in index order, so a SQL oracle (list_inner_product)
reproduces it bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LSH_PLANES = 8
LSH_DIM = 64

_rng = np.random.RandomState(7)
# fixed hyperplanes, embedded as literals (same constants go into the SQL oracle)
HYPERPLANES: list[list[float]] = [
    [round(float(v), 6) for v in _rng.randn(LSH_DIM)] for _ in range(LSH_PLANES)
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _topk_by_cosine(cand: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: exact cosine over (qid, qe, nid, ne) candidate
    pairs, rounded to 6 places, ranked per query by (sim desc, nid)."""
    sims = cand.withColumn("sim", F.round(cosine(F.col("qe"), F.col("ne")), 6))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"), F.col("rnk").alias("rank"))
    )


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the probe set against the corpus."""
    vecs = emb.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ne"))
    queries = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("qe"))
    )
    return _topk_by_cosine(vecs.join(F.broadcast(queries), F.col("nid") != F.col("qid")), k)


# ---------------------------------------------------------------------------
# LSH top-k over L sign-hyperplane tables. A single P-plane table has
# 2^P buckets; at 10^9 vectors each bucket still holds millions AND true
# neighbors split across bucket boundaries cost recall. L independent
# tables with fewer planes each: a candidate is anything sharing ANY
# table's bucket with the query — recall ≈ 1-(1-p^P)^L instead of p^P —
# and the per-table bucket key remains the join key (cost is the corpus
# exploded L-fold, one row per table bucket, + one broadcast bucket join,
# never O(n²)).
# Multi-probe (the Lv et al. VLDB'07 idea on sign-LSH) keeps the same
# index but lets each query also probe every bucket within Hamming
# distance max_flips of its own signature: near neighbors that fell a
# sign-bit or two across a boundary become candidates without building
# more tables; the extra cost is probe rows only (|Q|·L·Σ C(P,f), still
# broadcast).
# ---------------------------------------------------------------------------

LSH_TABLES = 4
LSH_PLANES_PER_TABLE = 6

# Plane-count picks the precision/recall point: FEW planes per table →
# big recall-oriented buckets (kNN candidates); MANY planes → tiny
# precision-oriented buckets where only near-identical vectors collide
# (near-dup detection). 6 planes over 6k vectors ≈ 94/bucket — fine for
# top-k search, quadratic poison for all-pairs near-dup verification.
NEARDUP_TABLES = 2
NEARDUP_PLANES_PER_TABLE = 12


def _make_hyperplanes(n_tables: int, n_planes: int, seed: int) -> list[list[list[float]]]:
    rng = np.random.RandomState(seed)
    return [
        [[round(float(v), 6) for v in rng.randn(LSH_DIM)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


HYPERPLANE_TABLES: list[list[list[float]]] = _make_hyperplanes(LSH_TABLES, LSH_PLANES_PER_TABLE, 1234)
NEARDUP_HYPERPLANES: list[list[list[float]]] = _make_hyperplanes(NEARDUP_TABLES, NEARDUP_PLANES_PER_TABLE, 4321)


def doubles_sql(xs: list[float]) -> str:
    """A SQL array<double> literal of `xs`: each value as its shortest
    round-trip repr with the D suffix, so the JVM parses the same doubles."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in xs) + ")"


def planes_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit p set iff <v, plane_p> > 0. The
    planes reach the JVM as one literal in one call, each with its bit
    value; each dot product folds in index order, as `_dot` does."""
    table = F.expr(
        "array("
        + ", ".join(f"named_struct('bit', {1 << p}, 'w', {doubles_sql(w)})" for p, w in enumerate(planes))
        + ")"
    )
    return F.aggregate(
        table, F.lit(0), lambda sig, plane: sig + F.when(_dot(vec, plane["w"]) > 0, plane["bit"]).otherwise(0)
    )


# Probe radius for emb_knn_multiprobe (and its oracle — the mask list is
# shared). r04 measured flip<=1: recall@5 0.25→0.68 at 1x index cost;
# r05 measured flip<=2 (22 probes/table, still tiny vs 5x more tables).
MULTIPROBE_MAX_FLIPS = 1


def probe_masks(n_planes: int, max_flips: int) -> list[int]:
    """All XOR masks of popcount <= max_flips over n_planes sign bits —
    the multi-probe perturbation set (bucket ids at Hamming distance
    <= max_flips from the query's own signature)."""
    from itertools import combinations

    return [
        sum(2**p for p in combo)
        for r in range(max_flips + 1)
        for combo in combinations(range(n_planes), r)
    ]


def lsh_candidates(
    emb: DataFrame,
    query_ids: list[int],
    tables: list[list[list[float]]],
    max_flips: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, qe, nid, ne) candidate pairs: every vector sharing a bucket
    with one of the query's probes in any table. Each vector explodes to
    one (nid, ne, t, b) row per table; the query probes (its own bucket,
    XOR-ed by the probe masks when max_flips > 0) are broadcast-joined on
    (t, b). A pair can only repeat across tables or probes, so the
    distinct runs only then."""
    vecs = emb.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("ne"))
    per_table = [
        F.struct(F.lit(t).alias("t"), planes_bucket(F.col("ne"), planes).alias("b"))
        for t, planes in enumerate(tables)
    ]
    buckets = vecs.select("nid", "ne", F.explode(F.array(*per_table)).alias("tb")).select(
        "nid", "ne", "tb.t", "tb.b"
    )
    masks = probe_masks(len(tables[0]), max_flips)
    probes = buckets.filter(F.col("nid").isin(query_ids)).select(
        F.col("nid").alias("qid"),
        F.col("ne").alias("qe"),
        "t",
        F.explode(F.array(*[F.col("b").bitwiseXOR(F.lit(m)) for m in masks])).alias("b"),
    )
    cand = (
        buckets.join(F.broadcast(probes), ["t", "b"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "qe", "nid", "ne")
    )
    return cand.distinct() if len(tables) > 1 or len(masks) > 1 else cand


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    tables: list[list[list[float]]],
    k: int = 5,
    max_flips: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine, but only over the LSH candidates
    of lsh_candidates. One table with max_flips=0 is the classic
    single-bucket search; several tables take the union of bucket mates;
    max_flips > 0 adds the multi-probe buckets on the same index."""
    return _topk_by_cosine(lsh_candidates(emb, query_ids, tables, max_flips, id_col, vec_col), k)
