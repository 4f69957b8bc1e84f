"""The kernel adapters. ``map_rows``: fan-out, empty batches, nulls,
nested/binary output types, and kernel errors reaching the driver.
``map_columns``: matrix and 1-D kernels, empty frames, and ragged or null
vector rows. ``map_images``, the image pass on ``map_rows``: inputs and the
id column."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from fs2_osm_spark.rowmap import map_columns, map_rows


def test_one_to_many_kernel(spark):
    def kernel(n):
        for k in range(n):
            yield (n, k)

    out = map_rows(spark.range(0, 6, 1, 2), ["id"], kernel, "n long, k long")
    assert sorted(tuple(r) for r in out.collect()) == [
        (n, k) for n in range(6) for k in range(n)
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


def test_batch_where_every_row_yields_nothing(spark):
    """Partition 0 holds ids 0-3 and yields no rows at all; partition 1
    yields one row per id. A frame where nothing yields is empty with the
    declared schema."""

    def kernel(n):
        if n >= 4:
            yield (n * 10,)

    df = spark.range(0, 8, 1, 2)
    out = map_rows(df, ["id"], kernel, "v long")
    assert sorted(r.v for r in out.collect()) == [40, 50, 60, 70]
    none = map_rows(df, ["id"], lambda n: iter(()), "v long")
    assert none.collect() == [] and none.schema.fieldNames() == ["v"]


def test_null_in_nullable_column(spark):
    """The node-info shape: nullable inputs arrive as None, and None in
    nullable output columns becomes null."""
    df = spark.createDataFrame(
        [(1, "a", 7), (2, None, None)], "id long, user string, uid long"
    )

    def kernel(i, user, uid):
        yield (i, user, uid * 2 if uid is not None else None, user is None)

    out = map_rows(
        df, ["id", "user", "uid"], kernel,
        "id long, user string, uid2 long, missing boolean",
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a", 14, False), (2, None, None, True),
    ]


def test_array_map_and_binary_output(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("refs", T.ArrayType(T.LongType()), False),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(payload, i):
        assert type(payload) is bytes  # binary inputs arrive as bytes
        yield (i, list(range(i)), {"k": str(i)} if i else {}, payload * 2)

    df = spark.createDataFrame(
        [(bytearray(b"ab"), 0), (bytearray(b"xyz"), 3)], "b binary, id long"
    )
    rows = sorted(map_rows(df, ["b", "id"], kernel, schema).collect())
    assert [(r.id, r.refs, r.tags, bytes(r.payload)) for r in rows] == [
        (0, [], {}, b"abab"),
        (3, [0, 1, 2], {"k": "3"}, b"xyzxyz"),
    ]


def test_kernel_exception_reaches_driver(spark):
    def kernel(n):
        if n == 3:
            raise ValueError(f"kernel rejected row {n}")
        yield (n,)

    out = map_rows(spark.range(0, 5, 1, 1), ["id"], kernel, "n long")
    with pytest.raises(Exception, match="kernel rejected row 3"):
        out.collect()


def test_row_of_wrong_width_fails(spark):
    def kernel(n):
        yield (n,) if n < 3 else (n, n)

    out = map_rows(spark.range(0, 5, 1, 1), ["id"], kernel, "n long")
    with pytest.raises(Exception, match=r"zip\(\) argument \d+ is (longer|shorter)"):
        out.collect()


def _vectors(spark, rows):
    """(id, v) rows in one partition, so they share one Arrow batch."""
    return spark.createDataFrame(rows, "id long, v array<double>").coalesce(1)


def test_map_columns_matrix_and_1d_kernels(spark):
    """A vector column arrives as one (rows, width) matrix, a scalar column
    as a 1-D array; the outputs follow the kept columns."""
    df = _vectors(spark, [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])])
    fields = [
        T.StructField("norm2", T.DoubleType(), False),
        T.StructField("twice", T.LongType(), False),
    ]

    def kernel(v, i):
        assert v.shape == (len(i), 2) and v.dtype == np.float64 and i.ndim == 1
        return (v * v).sum(axis=1), i * 2

    out = map_columns(df, ["id", "v"], ["v", "id"], kernel, fields)
    assert out.columns == ["id", "v", "norm2", "twice"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, [1.0, 2.0], 5.0, 2), (2, [3.0, 4.0], 25.0, 4), (3, [5.0, 6.0], 61.0, 6),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


def test_map_columns_empty_frame_keeps_schema(spark):
    df = _vectors(spark, [(1, [1.0])]).filter("id < 0")
    out = map_columns(
        df, ["id"], ["v"], lambda v: (v[:, 0],),
        [T.StructField("x", T.DoubleType(), False)],
    )
    assert out.collect() == [] and out.columns == ["id", "x"]
    assert out.schema["x"].dataType == T.DoubleType()


@pytest.mark.parametrize(
    "rows", [[(1, [1.0, 2.0]), (2, [3.0])], [(1, [1.0, 2.0]), (2, None)]],
    ids=["ragged", "null"],
)
def test_map_columns_rejects_ragged_or_null_vectors(spark, rows):
    out = map_columns(
        _vectors(spark, rows), ["id"], ["v"], lambda v: (v[:, 0],),
        [T.StructField("x", T.DoubleType(), False)],
    )
    with pytest.raises(Exception, match="ValueError: map_columns: column 'v'"):
        out.collect()


def test_map_images_inputs_and_id_column(spark):
    """The one image pass: one row per image, the id column named by the
    caller and declared non-null, then ``fn``'s values; ``fn`` gets the
    decoded array, the format and the inputs in the order they are named."""
    from fs2_osm_spark.codecs.png import encode_png
    from fs2_osm_spark.operators.multimodal import map_images

    imgs = [np.full((h, 3, 3), h * 10, np.uint8) for h in (2, 4, 5)]
    df = spark.createDataFrame(
        [(f"k{i}", bytearray(encode_png(a)), "png", i * 1.5, f"t{i}")
         for i, a in enumerate(imgs)],
        "key string, bytes binary, fmt string, b double, a string",
    )

    def fn(img, fmt, a, b):
        return (a, b, fmt, int(img.shape[0]), int(img[0, 0, 0]))

    fields = [
        T.StructField("a", T.StringType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("f", T.StringType(), False),
        T.StructField("h", T.LongType(), False),
        T.StructField("px", T.LongType(), False),
    ]
    out = map_images(df, ["a", "b"], fn, fields, id_col="key")
    nullable = [(f.name, f.nullable) for f in out.schema]
    assert nullable[:2] == [("key", False), ("a", True)]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("k0", "t0", 0.0, "png", 2, 20),
        ("k1", "t1", 1.5, "png", 4, 40),
        ("k2", "t2", 3.0, "png", 5, 50),
    ]
