"""SparkSession factory with scale-aware defaults.

Local mode here is the test harness; the configs are chosen so the same
plans survive on a 1000-executor cluster: AQE on (runtime coalesce +
skew-join splitting), shuffle partitions sized to parallelism, Arrow
for every pandas-UDF boundary, UTC session time zone so results are
comparable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "thuvienphapluat_crawler_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
        # under every explode; predicate pushdown then re-inlines the FULL
        # generator-input expression (tokenize + higher-order shingle
        # lambdas, where subexpression elimination cannot reach) into a
        # scan-side Filter, evaluating it 2-3x per row before the exchange.
        # explode() already emits nothing for null/empty arrays, so the
        # inferred filter is semantically redundant; excluding the rule is
        # pure savings at every scale (measured 2-5x on the shingle-explode
        # queries; plans/r07 before/after).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
