"""The LSH hyperplanes and the MinHash coefficients reach the JVM as one
literal each; the signatures must stay bit-identical to a plain Python
fold in the same order over the sf0.01 embeddings and documents."""

from __future__ import annotations

import pytest
from conftest import SF_CORRECT as SF
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.operators import dedup as D
from thuvienphapluat_crawler_spark.operators import similarity as S


def _bucket(vec: list[float], planes: list[list[float]]) -> int:
    sig = 0
    for p, w in enumerate(planes):
        dot = 0.0
        for x, y in zip(vec, w):  # index order, as aggregate(zip_with(...)) folds
            dot += x * y
        sig += 1 << p if dot > 0 else 0
    return sig


@pytest.mark.parametrize(
    "name, tables",
    [("NEARDUP_HYPERPLANES", S.NEARDUP_HYPERPLANES), ("HYPERPLANE_TABLES", S.HYPERPLANE_TABLES)],
)
def test_planes_bucket_equals_python_fold(spark, name, tables):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", S.as_double(F.col("embedding")).alias("ne")
    )
    rows = emb.select(
        "vec_id", "ne", *[S.planes_bucket(F.col("ne"), planes).alias(f"b{t}") for t, planes in enumerate(tables)]
    ).collect()
    assert len(rows) > 100
    for r in rows:
        assert [r[f"b{t}"] for t in range(len(tables))] == [_bucket(r.ne, planes) for planes in tables], r.vec_id
    # every bucket bit fires somewhere, so no plane is silently dropped
    for t, planes in enumerate(tables):
        assert all(any(r[f"b{t}"] >> p & 1 for r in rows) for p in range(len(planes)))


def test_minhash_signatures_equal_python_fold(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sets = D.doc_hash_sets(docs)
    got = {r.doc_id: r for r in D.minhash_signatures(docs, hash_sets=sets).collect()}
    hs = {r.doc_id: r.hs for r in sets.collect()}
    assert len(got) == len(hs) > 100
    for doc_id, h in hs.items():
        want = [
            min(((x % D.MINHASH_P) * a + b) % D.MINHASH_P for x in h) if h else None
            for a, b in zip(D.MINHASH_A, D.MINHASH_B)
        ]
        assert [got[doc_id][f"sig{k}"] for k in range(D.MINHASH_K)] == want, doc_id
