"""The per-row expand stage every reference loop maps to.

The reference walks pages, rows and files with plain `for` loops
(pipeline.py:387-435, ocr/ocr_pdf.py:158-195, format_xls.py:182-186).
Each becomes `flat_map_rows(df, fn, schema)`: `fn` is the loop body for
one input row, run inside one Arrow-batched mapInPandas, so per-row
Python never runs as a row UDF and binary payloads never cross a shuffle.
`materialize` checkpoints a frame and counts its rows in the same job,
as the reference counts progress in the loop that writes it
(ocr/ocr_pdf.py:158-195).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql.types import StructType


def flat_map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str | StructType
) -> DataFrame:
    """`fn(*row)` for every row of `df`, its columns in `df`'s order; each
    tuple `fn` yields, in `schema` order, becomes one output row.

    Column names live only in `schema`: the batch frame is built by
    position, which Spark matches to `schema` for non-string labels. A
    batch with no output rows is a zero-column frame, which Spark takes
    as empty."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            )

    return df.mapInPandas(run, schema)


def materialize(df: DataFrame, **counters: Column) -> tuple[DataFrame, dict]:
    """Checkpoints `df` (localCheckpoint) and returns it with `{name: value}`
    of each aggregate in `counters`, observed on that one job. Count with
    `F.count(F.lit(1))` / `F.count_if(cond)`: over no rows `F.sum` is null."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(name) for name, c in counters.items())).localCheckpoint()
    return out, obs.get
