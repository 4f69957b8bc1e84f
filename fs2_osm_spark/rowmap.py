"""One adapter for per-row Python kernels: ``map_rows``.

Domain work that cannot be Column math — image, audio and geometry passes,
the PBF entity decode (one frame file or encoded block in, its entities
out) — is a function of one input row. The adapter owns everything around
that function: the column selection, the Arrow batch loop, plain Python
values in and typed Arrow arrays out. A kernel is a generator over one
row's values.

Batch and column kernels (PIP, PQ/IVF encode, the synth generators) work
on whole Arrow columns and call ``mapInArrow``/``mapInPandas`` themselves.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_rows(
    df: DataFrame,
    cols: Sequence[str],
    fn: Callable[..., Iterable[tuple]],
    schema: T.StructType | str,
) -> DataFrame:
    """``df.select(*cols)`` -> ``fn(*values)`` per row -> rows of ``schema``.

    ``fn`` receives one row's values as plain Python objects (binary as
    ``bytes``, arrays as lists, nulls as None) and yields zero or more
    tuples in ``schema`` field order; a tuple of another width fails the
    task. Each input Arrow batch becomes one output batch built with the
    schema's Arrow types; a batch whose rows yield nothing emits nothing.
    One narrow ``mapInArrow`` stage."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                out
                for vals in zip(*(c.to_pylist() for c in batch.columns))
                for out in fn(*vals)
            ]
            if rows:
                arrays = [
                    pa.array(c, f.type)
                    for c, f in zip(zip(*rows, strict=True), arrow_schema, strict=True)
                ]
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return df.select(*cols).mapInArrow(run, schema)
