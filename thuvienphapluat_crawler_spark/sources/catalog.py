"""Metadata-catalog scan (SURVEY §2.1 S4): the documents.csv dimension.

Schema mirrors the reference catalog header (documents.csv:1):
file, document_number, document_type, issuing_authority, title,
issued_date (DD/MM/YYYY → DateType). Blank `file` rows dropped
(upload_documents.py:76-77). Small dimension → broadcast side of J3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_catalog(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.option("header", True).csv(path)
        .filter(F.col("file").isNotNull() & (F.trim(F.col("file")) != ""))
        .withColumn("issued_date", F.to_date("issued_date", "dd/MM/yyyy"))
    )


def catalog_file_join(catalog: DataFrame, files: DataFrame) -> DataFrame:
    """Catalog ⟕ available files on `file` (SURVEY §2.3 J3): status column
    splits uploads (semi) from skips (anti) in one pass."""
    avail = files.select(F.col("file"), F.lit(True).alias("_present"))
    return (
        catalog.join(F.broadcast(avail), "file", "left")
        .withColumn("status", F.when(F.col("_present"), "upload").otherwise("skipped"))
        .drop("_present")
    )
