"""Measure ANN recall@k vs the exact brute-force oracle (r02 verdict #8).

Runs single-table (8-plane) and multi-table (4×6-plane) LSH top-k against
exact cosine top-k for a deterministic probe set, prints recall@k and the
candidate-set sizes (the recall/cost tradeoff). Results are recorded in
PLANS.md.

Usage: python tools/ann_recall.py [sf_dir] [n_probes] [k]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from thuvienphapluat_crawler_spark.operators import similarity as S  # noqa: E402
from thuvienphapluat_crawler_spark.session import get_spark  # noqa: E402


def topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def recall(approx: dict[int, set[int]], exact: dict[int, set[int]], k: int) -> float:
    per = [len(approx.get(q, set()) & nb) / len(nb) for q, nb in exact.items()]
    return sum(per) / len(per)


def cand_avg(emb, probes: list[int], tables, max_flips: int = 0) -> float:
    """Average candidate-set size per query (the cost side of the
    recall/cost tradeoff): rows of lsh_topk's own candidate stage."""
    cand = S.lsh_candidates(emb, probes, tables, max_flips)
    rows = cand.groupBy("qid").count().agg(F.avg("count")).collect()
    return float(rows[0][0] or 0.0)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark(app_name="ann-recall")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    probes = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(n_probes).collect()]

    # exact top-k WITH similarity, so recall can be split by neighbor
    # strength: LSH is built for strong (high-cos) neighbors; on a
    # near-orthogonal pair every hash family degenerates to chance.
    vecs = emb.select(F.col("vec_id").alias("nid"), S.as_double(F.col("embedding")).alias("ne"))
    queries = vecs.filter(F.col("nid").isin(probes)).select(
        F.col("nid").alias("qid"), F.col("ne").alias("qe")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    exact_rows = (
        vecs.join(F.broadcast(queries), F.col("nid") != F.col("qid"))
        .withColumn("sim", F.round(S.cosine(F.col("qe"), F.col("ne")), 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "sim")
        .collect()
    )
    exact: dict[int, set[int]] = {}
    strong: dict[int, set[int]] = {}
    for r in exact_rows:
        exact.setdefault(r.qid, set()).add(r.nid)
        if r.sim >= 0.9:
            strong.setdefault(r.qid, set()).add(r.nid)

    tables = S.HYPERPLANE_TABLES
    single = topk_sets(S.lsh_topk(emb, probes, [S.HYPERPLANES], k=k))
    multi = topk_sets(S.lsh_topk(emb, probes, tables, k=k))
    multiprobe = topk_sets(S.lsh_topk(emb, probes, tables, k=k, max_flips=1))
    multiprobe2 = topk_sets(S.lsh_topk(emb, probes, tables, k=k, max_flips=2))

    single_b = vecs.withColumn("bucket", S.planes_bucket(F.col("ne"), S.HYPERPLANES))
    sizes1 = single_b.groupBy("bucket").count().agg(F.avg("count")).collect()[0][0]

    n_strong = sum(len(v) for v in strong.values())
    print(f"corpus={n} probes={len(probes)} k={k} sf_dir={sf_dir}")
    print(f"single-table ({S.LSH_PLANES} planes):   recall@{k} = {recall(single, exact, k):.3f}  "
          f"(avg bucket {sizes1:.0f} of {n})")
    print(f"multi-table ({S.LSH_TABLES}x{S.LSH_PLANES_PER_TABLE} planes): recall@{k} = "
          f"{recall(multi, exact, k):.3f}  (avg candidates {cand_avg(emb, probes, tables):.0f})")
    print(f"multi-probe (same index, flip<=1): recall@{k} = "
          f"{recall(multiprobe, exact, k):.3f}  (avg candidates {cand_avg(emb, probes, tables, 1):.0f})")
    print(f"multi-probe (same index, flip<=2): recall@{k} = "
          f"{recall(multiprobe2, exact, k):.3f}  (avg candidates {cand_avg(emb, probes, tables, 2):.0f})")
    if strong:
        print(f"strong neighbors (cos>=0.9, n={n_strong}): "
              f"single recall = {recall(single, strong, k):.3f}, "
              f"multi recall = {recall(multi, strong, k):.3f}, "
              f"multiprobe recall = {recall(multiprobe, strong, k):.3f}, "
              f"multiprobe2 recall = {recall(multiprobe2, strong, k):.3f}")
    else:
        print("strong neighbors (cos>=0.9): none among exact top-k for these probes")

    # IVF-Flat: seed centroids vs 1-step-Lloyd-trained centroids (r06
    # verdict ask #5) — the training step should tighten the lists and
    # hold or raise recall at the same nprobe budget.
    from thuvienphapluat_crawler_spark.operators import corpusops as CO

    ivf_seed = topk_sets(CO.ivf_topk(emb, probes, k=k, lloyd_steps=0))
    ivf_t1 = topk_sets(CO.ivf_topk(emb, probes, k=k, lloyd_steps=1))
    print(f"IVF-Flat (K={CO.IVF_K}, nprobe={CO.IVF_NPROBE}) seed centroids:    "
          f"recall@{k} = {recall(ivf_seed, exact, k):.3f}")
    print(f"IVF-Flat (K={CO.IVF_K}, nprobe={CO.IVF_NPROBE}) 1-step Lloyd:      "
          f"recall@{k} = {recall(ivf_t1, exact, k):.3f}")

    # Equal-candidate-budget control: a 20-table index reaches roughly the
    # multi-probe candidate count the expensive way (5x the index build +
    # memory).
    big_tables = S._make_hyperplanes(20, S.LSH_PLANES_PER_TABLE, 99)
    big = topk_sets(S.lsh_topk(emb, probes, big_tables, k=k))
    print(f"equal-budget control (20x{S.LSH_PLANES_PER_TABLE} tables): recall@{k} = "
          f"{recall(big, exact, k):.3f}  (avg candidates {cand_avg(emb, probes, big_tables):.0f})")
    spark.stop()


if __name__ == "__main__":
    main()
