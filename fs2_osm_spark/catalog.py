"""Table-format boundary: one routing function for every engine write.

The reference exports to Postgres tables; this engine exports to lake
tables. All sinks (export fan-out, lineage log, batch outputs) call
``write_table``/``read_table`` here instead of ``df.write.parquet`` inline,
so the storage format is an interface fact with a single switch — not a
comment. The container ships no Iceberg jars, so the default handler is
parquet; the ``iceberg`` handler shows the exact swap (DataFrameWriterV2
against a catalog identifier) and fails with a clear message when the
runtime lacks the catalog, rather than an opaque ClassNotFound deep inside
a job. Tests register a monkeypatch format and re-run the lineage resume
suite through it to prove the boundary is real.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

WriteFn = Callable[[DataFrame, str, str], None]
ReadFn = Callable[[SparkSession, str], DataFrame]
DropFn = Callable[[SparkSession, str], None]  # evicts a superseded result


def _write_parquet(df: DataFrame, path: str, mode: str) -> None:
    df.write.mode(mode).parquet(path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _drop_parquet(spark: SparkSession, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


_BATCH_RE = re.compile(r"^batch=(.+)$")


def _split_batch(path: str) -> tuple[str, str | None]:
    """Lineage batch layout <root>/data/batch=<id> maps to ONE iceberg
    table (<root>/data) with `batch` as a partition column — per-path
    basenames would yield invalid/colliding identifiers (db.batch=3,
    db.batch=*). Returns (table_path, batch_value_or_None); '*' means the
    whole-table glob read."""
    norm = path.rstrip("/")
    m = _BATCH_RE.match(os.path.basename(norm))
    if m:
        return os.path.dirname(norm), m.group(1)
    return norm, None


def _iceberg_catalog() -> str:
    return os.environ.get("FS2_OSM_ICEBERG_CATALOG", "lake")


# sanitization is lossy (a-b, a.b, a_b all map to a_b), so remember which
# base path first claimed each identifier and refuse a second, different one
_IDENT_CLAIMS: dict[str, str] = {}


def _iceberg_ident(path: str) -> str:
    # lake layout <root>/<table> -> <catalog>.<namespace>.<table>
    base_path, _ = _split_batch(path)
    base_path = base_path.rstrip("/")
    table = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(base_path))
    ident = f"{_iceberg_catalog()}.db.{table}"
    claimed = _IDENT_CLAIMS.setdefault(ident, base_path)
    if claimed != base_path:
        raise ValueError(
            f"iceberg identifier collision: {ident!r} already maps to "
            f"{claimed!r}, refusing to alias {base_path!r} onto it "
            "(distinct table paths would read/write each other's data)"
        )
    return ident


def _require_catalog(df: DataFrame) -> None:
    cat = _iceberg_catalog()
    key = f"spark.sql.catalog.{cat}"
    # runtime SQL conf sees both spark-submit --conf and spark.conf.set()
    # entries (catalog resolution is lazy, so runtime-set catalogs work)
    if df.sparkSession.conf.get(key, None) is None:
        raise RuntimeError(
            f"iceberg table format selected but no {cat!r} catalog is "
            f"configured ({key}=org.apache.iceberg.spark.SparkCatalog + "
            "iceberg-spark-runtime jars required)"
        )


def _write_iceberg(df: DataFrame, path: str, mode: str) -> None:
    from pyspark.sql import functions as F

    _, batch = _split_batch(path)
    if batch == "*":
        raise ValueError(f"cannot write to a batch glob: {path}")
    _require_catalog(df)
    ident = _iceberg_ident(path)
    exists = df.sparkSession.catalog.tableExists(ident)
    if batch is not None:
        df = df.withColumn("batch", F.lit(batch))
        if not exists:
            df.writeTo(ident).partitionedBy(F.col("batch")).create()
        elif mode == "append":
            df.writeTo(ident).append()
        else:
            # parquet overwrites just this batch dir; iceberg equivalent is
            # a dynamic partition overwrite of the batch partition
            df.writeTo(ident).overwritePartitions()
    elif mode == "append":
        df.writeTo(ident).append() if exists else df.writeTo(ident).create()
    else:
        df.writeTo(ident).createOrReplace()


def _read_iceberg(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    base_path, batch = _split_batch(path)
    df = spark.read.table(_iceberg_ident(base_path))
    if batch == "*":
        # the parquet glob read lists batch dirs as roots, so the batch
        # partition column is not projected — mirror that
        return df.drop("batch")
    if batch is not None:
        return df.filter(F.col("batch") == batch).drop("batch")
    return df


def _drop_iceberg(spark: SparkSession, path: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {_iceberg_ident(path)} PURGE")
    shutil.rmtree(path, ignore_errors=True)  # the local name placeholder


WRITERS: dict[str, WriteFn] = {"parquet": _write_parquet, "iceberg": _write_iceberg}
READERS: dict[str, ReadFn] = {"parquet": _read_parquet, "iceberg": _read_iceberg}
DROPPERS: dict[str, DropFn] = {"parquet": _drop_parquet, "iceberg": _drop_iceberg}

_format = os.environ.get("FS2_OSM_TABLE_FORMAT", "parquet")


def table_format() -> str:
    return _format


def set_table_format(fmt: str) -> None:
    """Switch the engine's table format (must be a registered handler)."""
    global _format
    if fmt not in WRITERS or fmt not in READERS:
        raise ValueError(f"unknown table format {fmt!r}; known: {sorted(WRITERS)}")
    _format = fmt


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    WRITERS[_format](df, path, mode)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return READERS[_format](spark, path)


# durable results per key written by THIS process, (format, path, session)
# each: the last one is the live result, any earlier ones are superseded
# results whose drop failed and is retried on the next swap and at exit,
# so storage stays bounded.
_DURABLE_RESULTS: dict[str, list[tuple[str, str, SparkSession]]] = {}


def _drop_results(entries: list) -> list:
    """Drop each (format, path, session) entry; return those that failed.
    A format with no DROPPERS entry raises KeyError."""
    failed = []
    for fmt, path, spark in entries:
        drop = DROPPERS[fmt]
        try:
            drop(spark, path)
        except Exception:  # noqa: BLE001 — kept for a later retry
            failed.append((fmt, path, spark))
    return failed


@atexit.register
def _drop_durable_results() -> None:
    for entries in _DURABLE_RESULTS.values():
        _drop_results(entries)
    _DURABLE_RESULTS.clear()


def swap_durable_result(
    df: DataFrame, key: str, prefix: str = "fs2_osm_result_"
) -> DataFrame:
    """Write ``df`` through the table-format boundary into a fresh per-run
    table (mkdtemp: processes never clobber each other) and return a plain
    read of it: the eviction-proof alternative to ``cache()+count()``, which
    can silently recompute through released pins, and to ``toPandas()``.
    The PREVIOUS result for ``key`` is then dropped through ``DROPPERS``, so
    only the latest frame per key stays readable. A failed drop does not
    fail the swap; that result stays registered and is retried later."""
    path = tempfile.mkdtemp(prefix=prefix)
    write_table(df, path)
    entries = _DURABLE_RESULTS.setdefault(key, [])
    entries[:] = _drop_results(entries) + [(_format, path, df.sparkSession)]
    return read_table(df.sparkSession, path)
