"""flat_map_rows against its own definition: the Spark output must equal
`fn` applied serially to the collected input rows, across many small
Arrow batches; with `order`, it must equal the same pass followed by
`orderBy`, row for row, with `fn` called once per input row.
materialize against a separate count() per counter, in one Spark job."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.rowmap import flat_map_rows, materialize

IN_SCHEMA = "doc_id long, payload binary, tags array<string>, note string"
OUT_SCHEMA = "doc_id long, i int, chunk binary, tags array<string>, note string, score double"


def _expander():
    # nested, so Spark pickles it by value: workers cannot import this module
    def expand(doc_id, payload, tags, note):
        # docs 0-2 (the whole first 3-record batch) yield nothing; after
        # that 0, 1 or many rows per doc
        n = 0 if doc_id < 3 else (doc_id * 7) % 5
        for i in range(n):
            yield (
                doc_id,
                i,
                None if payload is None else bytes(payload[i:]),
                None if tags is None else [*tags, None if i % 2 else f"t{i}"],
                note,
                None if i == 1 else doc_id / (i + 1),
            )

    return expand


def _input_rows():
    rows = []
    for d in range(17):
        payload = None if d % 6 == 5 else bytes(range(d % 4, 8))
        tags = None if d % 5 == 4 else [f"a{d}", None][: 1 + d % 2]
        note = None if d % 3 == 0 else f"n{d}"
        rows.append((d, payload, tags, note))
    return rows


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


def test_flat_map_rows_matches_serial_loop(small_batches):
    df = small_batches.createDataFrame(_input_rows(), IN_SCHEMA).coalesce(1)
    expand = _expander()
    got = sorted(tuple(r) for r in flat_map_rows(df, expand, OUT_SCHEMA).collect())
    want = sorted(out for r in df.collect() for out in expand(*r))
    assert got == want
    counts = {d: sum(1 for r in want if r[0] == d) for d in range(17)}
    assert {0, 1}.issubset(counts.values()) and max(counts.values()) > 1


def test_flat_map_rows_no_output_rows(small_batches):
    df = small_batches.createDataFrame(_input_rows()[:3], IN_SCHEMA).coalesce(1)
    out = flat_map_rows(df, _expander(), OUT_SCHEMA)
    assert out.collect() == []
    assert out.schema == small_batches.createDataFrame([], OUT_SCHEMA).schema


SPAN_IN = "doc_id long, n int"
SPAN_OUT = "doc_id long, spans array<struct<kind:string,text:string,offset:int>>"


def _doc_rows():
    # one row per doc carrying a list of tuples: an empty list, a None
    # array, a struct with a None field, and many structs
    def doc_row(doc_id, n):
        if doc_id % 4 == 1:
            yield doc_id, None
        else:
            yield doc_id, [("text", None if i == 1 else f"s{doc_id}.{i}", i) for i in range(n)]

    return doc_row


def test_flat_map_rows_array_of_struct(small_batches):
    df = small_batches.createDataFrame([(d, d % 3 * 2) for d in range(11)], SPAN_IN).coalesce(1)
    doc_row = _doc_rows()
    got = sorted(
        (r.doc_id, None if r.spans is None else [tuple(s) for s in r.spans])
        for r in flat_map_rows(df, doc_row, SPAN_OUT).collect()
    )
    want = sorted(out for r in df.collect() for out in doc_row(*r))
    assert got == want
    arrays = [s for _, s in want]
    assert None in arrays and [] in arrays and any(s and s[1][1] is None for s in arrays)


def _hits(spark, n):
    return spark.range(n).select("id", (F.col("id") % 3 == 0).alias("hit"))


def test_materialize_rows_and_counters_match_separate_counts(spark):
    df = _hits(spark, 50)
    out, counts = materialize(df, n=F.count(F.lit(1)), hits=F.count_if("hit"))
    assert sorted(out.collect()) == sorted(df.collect())
    assert counts == {"n": df.count(), "hits": df.filter("hit").count()}


def test_materialize_empty_frame_counts_zero(spark):
    out, counts = materialize(_hits(spark, 0), n=F.count(F.lit(1)), hits=F.count_if("hit"))
    assert out.collect() == []
    assert counts == {"n": 0, "hits": 0}


def test_materialize_runs_one_job(spark):
    sc = spark.sparkContext
    group = f"materialize-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "materialize")
    try:
        materialize(_hits(spark, 50), n=F.count(F.lit(1)), hits=F.count_if("hit"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _spread_expander(calls):
    # nested, so Spark pickles it by value; `calls` counts invocations
    def expand(doc_id, seq, text):
        calls.add(1)
        # 0, 1 or many rows per input row; the key goes long -> string
        for i in range(seq % 4):
            yield str(doc_id), seq, i, f"{text}:{i}"

    return expand


SORTED_OUT = "doc_id string, seq long, i int, piece string"


def _spread_input(spark):
    # duplicate leading keys whose string order differs from their numeric
    # order (7 < 10 < 100 but "10" < "100" < "7"), over several partitions
    rows = [((s * 37) % 23 * 10 ** (s % 3), s, f"t{s}") for s in range(60)]
    return spark.createDataFrame(rows, "doc_id long, seq long, text string").repartition(3)


def test_flat_map_rows_order_equals_order_by(spark):
    df = _spread_input(spark)
    calls = spark.sparkContext.accumulator(0)
    order = ("doc_id", "seq", "i")
    got = flat_map_rows(df, _spread_expander(calls), SORTED_OUT, order=order).collect()
    want = flat_map_rows(df, _spread_expander(calls), SORTED_OUT).orderBy(*order).collect()
    assert got == want
    assert len({r.doc_id for r in got}) < len({r.seq for r in got})
    counts = {s: sum(1 for r in want if r.seq == s) for s in range(60)}
    assert {0, 1}.issubset(counts.values()) and max(counts.values()) > 1


def test_flat_map_rows_order_runs_fn_once_per_row(spark):
    df = _spread_input(spark)
    calls = spark.sparkContext.accumulator(0)
    out = flat_map_rows(df, _spread_expander(calls), SORTED_OUT, order=("doc_id", "seq", "i"))
    out.collect()
    assert calls.value == df.count()
