"""The engine's one Arrow-batched Python stage.

Every operator that needs Python (HTML->text, the mention scan, media
decoders, executor-side synthesis) is a row function passed to `map_rows`;
the batch loop, the column naming and the `mapInPandas` call live here
once, so batching and schema handling cannot drift between operators.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame,
    in_cols: list[str],
    schema: StructType | str,
    make_row_fn: Callable[[], Callable[..., Iterable[tuple]]],
) -> DataFrame:
    """`df.select(*in_cols)` -> one narrow mapInPandas stage with `schema`.

    `make_row_fn()` runs once per task (per-task setup such as compiling
    the lexicon matcher belongs there) and returns `fn(*row_values)`, which
    maps one input row (values in `in_cols` order) to zero or more output
    tuples in schema order.  `schema` is a StructType or a DDL string."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = make_row_fn()
        for pdf in batches:
            rows: list[tuple] = []
            for values in pdf.itertuples(index=False, name=None):
                rows.extend(fn(*values))
            yield pd.DataFrame(rows, columns=names)

    return df.select(*in_cols).mapInPandas(run, schema=schema)
