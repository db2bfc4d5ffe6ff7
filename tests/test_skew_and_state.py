from __future__ import annotations

from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.operators.skew import salted_agg, salted_join

SF = "/root/testdata/sf0.001"


def test_salted_agg_equals_plain(spark):
    # Zipf-hot key: 90% of rows share host 'hot'
    df = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("h"), (F.col("id") % 7).cast("string"))).alias("host"),
        (F.col("id") % 100).cast("double").alias("v"),
        F.col("id"),
    )
    plain = {
        (r.host): (r.s, r.c, r.mn, r.mx)
        for r in df.groupBy("host")
        .agg(F.sum("v").alias("s"), F.count("v").alias("c"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r.host): (r.s, r.c, r.mn, r.mx)
        for r in salted_agg(
            df,
            ["host"],
            {"s": ("sum", "v"), "c": ("count", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
            salt_col="id",
            buckets=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    big = spark.range(0, 10_000).select(
        F.when(F.col("id") % 5 < 4, "hot").otherwise("cold").alias("k"),
        F.col("id"),
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, dim int")
    plain = big.join(small, "k").groupBy("k").agg(F.count("*").alias("n"), F.sum("dim").alias("d"))
    salted = salted_join(big, small, "k", salt_source="id", buckets=8).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("dim").alias("d")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_stateful_sessionize_matches_batch(spark):
    from thuvienphapluat_crawler_spark.streaming.sessionize import GAP_S, sessionize_stream

    emitted = sessionize_stream(spark, SF).collect()
    # batch oracle: same lag-gap sessionization
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{SF}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > GAP_S), 1).otherwise(0))
        .withColumn("sid", F.sum("new_sess").over(cum))
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
            (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias("duration_s"),
        )
    )
    batch_rows = sess.collect()
    # the stream emits every CLOSED session: batch result minus each
    # user's final (still-open) session
    last_per_user = {}
    for r in batch_rows:
        if r.user_id not in last_per_user or r.sid > last_per_user[r.user_id].sid:
            last_per_user[r.user_id] = r
    expected = {
        (r.user_id, r.session_start, r.n_events, r.session_value, r.duration_s)
        for r in batch_rows
        if r is not last_per_user[r.user_id]
    }
    got = {
        (r.user_id, r.session_start, r.n_events, r.session_value, r.duration_s) for r in emitted
    }
    assert got == expected
    assert len(got) > 0


def test_salted_agg_count_and_avg_with_nulls(spark):
    # 'count' must mean count(*) and 'avg' must skip NULLs — exactly like
    # the unsalted SQL aggregates (ADVICE r01: count(col) diverged on NULLs)
    df = spark.range(0, 5_000).select(
        F.when(F.col("id") % 3 == 0, "hot").otherwise("cold").alias("host"),
        F.when(F.col("id") % 5 == 0, None).otherwise((F.col("id") % 100).cast("double")).alias("v"),
        F.col("id"),
    )
    plain = {
        r.host: (r.c, round(r.a, 6), r.s)
        for r in df.groupBy("host")
        .agg(F.count(F.lit(1)).alias("c"), F.avg("v").alias("a"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r.host: (r.c, round(r.a, 6), r.s)
        for r in salted_agg(
            df,
            ["host"],
            {"c": ("count", "v"), "a": ("avg", "v"), "s": ("sum", "v")},
            salt_col="id",
            buckets=8,
        ).collect()
    }
    assert salted == plain

