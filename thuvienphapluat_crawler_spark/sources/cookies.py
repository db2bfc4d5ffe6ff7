"""Netscape cookies.txt scan (SURVEY §2.1 S1, §2.2 P1).

The reference parses the 7-column TSV imperatively (crawler.py:9-47);
here it's a declarative CSV scan + column projections — comment and
blank rows filtered, leading-dot domains stripped, `secure`/expiry
typed. The resulting dimension is tiny → broadcast into fetch tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_cookies(spark: SparkSession, path: str) -> DataFrame:
    raw = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    # Netscape format: domain, include_subdomains, path, secure, expires, name, value
    df = raw.toDF(*[f"_c{i}" for i in range(len(raw.columns))])
    for i in range(len(raw.columns), 7):  # pad short files
        df = df.withColumn(f"_c{i}", F.lit(None).cast("string"))
    return (
        df.filter(F.col("_c0").isNotNull() & (F.trim(F.col("_c0")) != ""))
        .select(
            F.regexp_replace(F.col("_c0"), r"^\.", "").alias("domain"),
            (F.upper(F.col("_c1")) == "TRUE").alias("include_subdomains"),
            F.col("_c2").alias("path"),
            (F.upper(F.col("_c3")) == "TRUE").alias("secure"),
            F.col("_c4").cast("long").alias("expires"),
            F.col("_c5").alias("name"),
            F.col("_c6").alias("value"),
        )
    )
