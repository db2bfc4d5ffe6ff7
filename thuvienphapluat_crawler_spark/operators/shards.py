"""Token-budget shard packing for training-corpus manifests.

Assigning documents to fixed-token-budget output shards needs a GLOBAL
running token count in a deterministic order. The naive form —
`floor(cumsum over Window.orderBy(key) / budget)` — is a single-task
global sort, the exact anti-pattern a 100 TB manifest cannot run. The
distributed form is the classic two-phase prefix sum:

  1. `repartitionByRange(order key)` → globally ordered partition ranges
     (localCheckpoint'ed so every later pass reads the SAME partition
     boundaries — range sampling is not re-run);
  2. per-partition subtotal — one tiny agg, P rows to the driver;
  3. exclusive running offset per partition, broadcast back;
  4. within-partition cumsum (`Window.partitionBy(pid)`) + offset.

Driver state is P subtotals; every other step is partition-local. The
result is invariant to P. Requires a UNIQUE order key (ties could split
across a range boundary and make "before" ambiguous).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame, order: list[Column], weight: Column, n_parts: int | None = None
) -> DataFrame:
    """Adds `cum_before`: the global exclusive prefix sum of `weight` in
    `order` (a unique key) order, by the two-phase form above."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(n_parts, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin the sampled range boundaries across passes
    )
    subtotals = parts.groupBy("_pid").agg(F.sum(weight).alias("_w")).collect()
    acc = 0
    offsets = []
    for r in sorted(subtotals, key=lambda r: r["_pid"]):
        offsets.append((int(r["_pid"]), acc))
        acc += int(r["_w"])
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off bigint")
    w = Window.partitionBy("_pid").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return (
        parts.join(F.broadcast(off_df), "_pid")
        .withColumn("cum_before", (F.col("_off") + F.sum(weight).over(w) - weight).cast("bigint"))
        .drop("_pid", "_off")
    )


def packed_shards(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    n_parts: int | None = None,
) -> DataFrame:
    """Adds `cum_before` (global exclusive prefix sum of weight_col in
    order_col order) and `shard_id = floor(cum_before / budget)`."""
    return prefix_sum(df, [F.col(order_col)], F.col(weight_col), n_parts).withColumn(
        "shard_id", F.floor(F.col("cum_before") / budget).cast("int")
    )
