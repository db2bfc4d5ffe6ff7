"""Recrawl scheduling: page change-rate estimation → fetch priority.

A continuous crawl must decide WHICH pages to refetch next. The
reference crawls once and stops (pipeline.py has no recrawl loop; its
progress ledger only resumes an interrupted pass) — at web scale the
frontier is fed by an estimator over observed page-change history: the
classic Cho & Garcia-Molina frequency estimator
["Estimating Frequency of Change", ACM TOIT 3(3), 2003]:

    r      = X / n            (X = observed changes over n revisit intervals)
    lambda = -ln(1 - r) / I   (I = mean revisit interval)

which corrects for changes MISSED between visits (a page that changed
in 9 of 10 intervals almost surely changed more than 9 times). The
X == n singularity (ln 0) uses the standard r = (n - 0.5) / n
continuity correction.

All interval arithmetic is integer microseconds (epoch_us both engines)
and the single float (lambda, per day) is rounded to 6dp before the
rank, ties broken on page id — the established float-parity contract.

Scale shape: one lag-window pass partitioned by page (each page's
history is tiny; parallelism follows page count) → one groupBy(page)
with map-side partial agg → scan-side estimator columns → one global
rank for the schedule, a range-partitioned prefix count
(`shards.prefix_sum`), never a one-task global sort; the estimator
itself stays two narrow shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .shards import prefix_sum

MICROS_PER_DAY = 86_400_000_000


def change_history(
    events: DataFrame,
    page_col: str = "page_id",
    ts_col: str = "ts",
    token_col: str = "content_token",
) -> DataFrame:
    """Per-page observation history: n_obs, n_changes (observations whose
    content token differs from the previous visit's), first/last visit
    in epoch micros. Input: one row per (re)visit with a content
    fingerprint token."""
    obs = events.select(
        F.col(page_col).alias("page_id"),
        # parquet timestamps arrive NTZ; the session tz is pinned UTC, so
        # the cast is a zero-shift relabel matching DuckDB's epoch_us
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(token_col).alias("tok"),
    ).withColumn("prev_tok", F.lag("tok").over(Window.partitionBy("page_id").orderBy("us")))
    return obs.groupBy("page_id").agg(
        F.count("*").alias("n_obs"),
        F.sum(
            F.when(
                F.col("prev_tok").isNotNull() & (F.col("tok") != F.col("prev_tok")), 1
            ).otherwise(0)
        ).alias("n_changes"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
    )


def freshness_schedule(history: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Cho & Garcia-Molina lambda per page + the recrawl priority rank
    (1 = refetch first). Pages with < 2 observations have no interval
    evidence: lambda NULL, ranked LAST (ties by page_id).

    Columns: page_id, n_obs, n_changes, n_intervals, span_us,
    change_bp (integer basis points of intervals that changed),
    lambda_per_day (rounded 6dp), priority.

    The global rank is DISTRIBUTED (r07): the order key
    (lambda desc_nulls_last, page_id asc) is total — page_id is unique
    per history row — so rank() degenerates to a global row_number,
    computed as `shards.prefix_sum` of weight 1 (the rows before) + 1:
    repartitionByRange on the order key → per-partition row counts
    (P scalars to the driver) → broadcast exclusive offsets →
    partition-local running count + offset. No SinglePartition exchange
    anywhere; recrawl scheduling is exactly the operator that runs over
    the full 10^10-page frontier, where a one-task global sort is the
    plan's scale-killer."""
    h = history.withColumn("n_intervals", F.col("n_obs") - 1).withColumn(
        "span_us", F.col("last_us") - F.col("first_us")
    )
    n = F.col("n_intervals").cast("double")
    # continuity correction at the X == n singularity
    r = F.when(F.col("n_changes") == F.col("n_intervals"), (n - 0.5) / n).otherwise(
        F.col("n_changes").cast("double") / n
    )
    mean_interval_days = (F.col("span_us").cast("double") / n) / MICROS_PER_DAY
    lam = F.when(
        (F.col("n_intervals") >= 1) & (F.col("span_us") > 0),
        F.round(-F.log(1.0 - r) / mean_interval_days, 6),
    )
    out = h.select(
        "page_id",
        "n_obs",
        "n_changes",
        "n_intervals",
        "span_us",
        # integer `div`, not float-divide-then-cast: CAST(double AS BIGINT)
        # truncates in Spark but rounds in DuckDB (the repo-wide bp contract)
        F.when(
            F.col("n_intervals") >= 1,
            F.expr("(n_changes * 10000) div n_intervals"),
        ).alias("change_bp"),
        lam.alias("lambda_per_day"),
    )
    order = [F.desc_nulls_last("lambda_per_day"), F.asc("page_id")]
    return (
        prefix_sum(out, order, F.lit(1), n_parts)
        .withColumn("priority", F.col("cum_before") + 1)
        .drop("cum_before")
    )
