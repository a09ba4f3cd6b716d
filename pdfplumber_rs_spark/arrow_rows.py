"""The one Arrow boundary of every `mapInArrow` kernel in the engine.

A kernel is written as a row function: it takes one input row's values
as keyword arguments named after the input columns and returns an
iterable of output rows (dicts in the output schema's shape) — none, one
or many. `rows_kernel` turns it into the `mapInArrow` callable: Arrow
batches in, Python rows through `fn`, Arrow batches out. Error handling
stays with each row function, so every kernel keeps its own lenient
policy (an error row, a skipped document, the pages already emitted).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema


def rows_kernel(fn: Callable[..., Iterable[dict]], schema,
                flush_rows: int | None = None
                ) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """mapInArrow callable applying `fn(**row)` to every input row.

    `schema` is the Spark StructType of the output (converted to Arrow
    once, here). One output batch per input batch (none when `fn` gave
    no rows), split every `flush_rows` rows when that is given so a
    batch of large rows stays bounded."""
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = batch.to_pydict()
            out: list[dict] = []
            for values in zip(*cols.values()):
                for row in fn(**dict(zip(cols, values))):
                    out.append(row)
                    if len(out) == flush_rows:
                        yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)
                        out = []
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return kernel
