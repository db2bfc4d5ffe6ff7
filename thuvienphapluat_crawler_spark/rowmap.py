"""The per-row expand stage every reference loop maps to.

The reference walks pages, rows and files with plain `for` loops
(pipeline.py:387-435, ocr/ocr_pdf.py:158-195, format_xls.py:182-186).
Each becomes `flat_map_rows(df, fn, schema)`: `fn` is the loop body for
one input row, run inside one Arrow-batched mapInPandas, so per-row
Python never runs as a row UDF and binary payloads never cross a shuffle.
With `order`, the rows come sorted and `fn` still runs once per row (an
`orderBy` of the output would run it twice: to sample the range bounds,
then to shuffle).
`materialize` checkpoints a frame and counts its rows in the same job,
as the reference counts progress in the loop that writes it
(ocr/ocr_pdf.py:158-195).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType


def flat_map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: str | StructType,
    order: Sequence[str] = (),
) -> DataFrame:
    """`fn(*row)` for every row of `df`, its columns in `df`'s order; each
    tuple `fn` yields, in `schema` order, becomes one output row.

    Column names live only in `schema`: the batch frame is built by
    position, which Spark matches to `schema` for non-string labels. A
    batch with no output rows is a zero-column frame, which Spark takes
    as empty.

    With `order`, the output is `orderBy(*order)`'s rows in that order,
    and `fn` still runs once per input row. Every row `fn` yields must
    carry in `order[0]` the value of the input's first column cast to
    that column's type in `schema`: the input is range-partitioned on
    that cast (one partition per core, a count AQE keeps), and each
    partition's output is sorted by `order`."""
    if order:
        out_type = DataType.fromDDL(schema) if isinstance(schema, str) else schema
        key = F.col(df.columns[0]).cast(out_type[order[0]].dataType)
        df = df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, key)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            )

    out = df.mapInPandas(run, schema)
    return out.sortWithinPartitions(*order) if order else out


def materialize(df: DataFrame, **counters: Column) -> tuple[DataFrame, dict]:
    """Checkpoints `df` (localCheckpoint) and returns it with `{name: value}`
    of each aggregate in `counters`, observed on that one job. Count with
    `F.count(F.lit(1))` / `F.count_if(cond)`: over no rows `F.sum` is null."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(name) for name, c in counters.items())).localCheckpoint()
    return out, obs.get
