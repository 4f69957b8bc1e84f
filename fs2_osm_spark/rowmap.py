"""The two Arrow kernel adapters: ``map_rows`` and ``map_columns``.

Domain work that cannot be Column math — image, audio and geometry passes,
the PBF entity decode (one frame file or encoded block in, its entities
out) — is a function of one input row. ``map_rows`` owns everything around
that function: the column selection, the Arrow batch loop, plain Python
values in and typed Arrow arrays out. A kernel is a generator over one
row's values.

Vectorized numpy work that emits one value per input row (IVF assignment
and probing, PQ encoding, S2 cell ids) goes through ``map_columns``: the
kernel sees whole batch columns as numpy arrays, a vector column as one
matrix, and returns one array per output column.

Kernels that change the row count per batch (PIP, the cover builder, the
PBF writer, the synth generators) call ``mapInArrow``/``mapInPandas``
themselves.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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
            out = _rows_batch(batch, fn, arrow_schema)
            if out is not None:
                yield out

    return df.select(*cols).mapInArrow(run, schema)


# The batch bodies are module functions, not part of the ``run`` closures:
# cloudpickle ships a closure by value but a module function by reference,
# so a Python worker that unpickles either adapter's kernel imports this
# package, and with it ``install_lazy_zip_invalidation``.


def _rows_batch(
    batch: pa.RecordBatch, fn: Callable[..., Iterable[tuple]], arrow_schema: pa.Schema
) -> pa.RecordBatch | None:
    """One ``map_rows`` batch; None when its rows yield nothing."""
    rows = [out for vals in zip(*(c.to_pylist() for c in batch.columns)) for out in fn(*vals)]
    if not rows:
        return None
    arrays = [
        pa.array(c, f.type) for c, f in zip(zip(*rows, strict=True), arrow_schema, strict=True)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _column_array(col: pa.Array, name: str) -> np.ndarray:
    """One batch column as numpy: a list column as a (rows, width) float64
    matrix reshaped from its values buffer (no per-row boxing), any other
    column as a 1-D array."""
    if not pa.types.is_list(col.type):
        return col.to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count or (lens != lens[0]).any():
        raise ValueError(
            f"map_columns: column {name!r} needs one non-null vector of one "
            f"width per row in a batch"
        )
    return np.asarray(col.flatten(), np.float64).reshape(len(col), -1)


def map_columns(
    df: DataFrame,
    keep: Sequence[str],
    cols: Sequence[str],
    fn: Callable[..., Sequence],
    fields: Sequence[T.StructField],
) -> DataFrame:
    """``df``'s ``keep`` columns plus ``fields``, computed ``fn(*arrays)`` over
    ``cols`` one Arrow batch at a time.

    ``fn`` receives the batch's ``cols`` as numpy arrays: a ``list<number>``
    column as one (rows, width) float64 matrix, any other column as a 1-D
    array. It returns one array per field, one value per input row; each
    becomes an Arrow array of the field's type, appended after the kept
    columns. Zero-row batches are skipped. A vector column whose rows in one
    batch are null or differ in width raises ValueError naming it. One
    narrow ``mapInArrow`` stage."""
    schema = T.StructType([df.schema[c] for c in keep] + list(fields))
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield _columns_batch(batch, fn, keep, cols, arrow_schema)

    return df.select(*dict.fromkeys([*keep, *cols])).mapInArrow(run, schema)


def _columns_batch(
    batch: pa.RecordBatch,
    fn: Callable[..., Sequence],
    keep: Sequence[str],
    cols: Sequence[str],
    arrow_schema: pa.Schema,
) -> pa.RecordBatch:
    """One non-empty ``map_columns`` batch."""
    out = fn(*(_column_array(batch.column(c), c) for c in cols))
    new_types = arrow_schema.types[len(keep) :]
    arrays = [batch.column(c) for c in keep] + [
        pa.array(a, t) for a, t in zip(out, new_types, strict=True)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
