"""Oracle comparison helpers: Spark result vs DuckDB result.

Mirrors the driver's correctness gate: row count, schema (column names +
coarse type classes), and an order-insensitive value hash computed over
rows with columns sorted by name. A value-hash mismatch names the columns
whose own values differ and counts the rows only one side holds.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb

from fs2_osm_spark.io import TABLES

TYPE_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "bigint": "int", "hugeint": "int", "long": "int",
    "float": "float", "double": "float", "real": "float",
    "string": "str", "varchar": "str",
    "boolean": "bool",
    "timestamp": "ts", "timestamp_ntz": "ts",
    "date": "date",
}


def fmt_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(fmt_value(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(sdf, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> list[str]:
    """Return a list of problems (empty == match)."""
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    stypes = {c.lower(): TYPE_CLASS.get(t.lower(), t.lower()) for c, t in sdf.dtypes}

    res = con.sql(oracle_sql)
    ocols = [c.lower() for c in res.columns]
    otypes_raw = [str(t).lower() for t in res.types]
    orows = res.fetchall()

    problems: list[str] = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        return problems
    otypes = {c: TYPE_CLASS.get(t, t) for c, t in zip(ocols, otypes_raw)}
    for c in scols:
        if stypes[c] != otypes.get(c):
            problems.append(f"type[{c}] spark={stypes[c]} oracle={otypes.get(c)}")
    if problems:
        return problems
    sh = value_hash(srows, scols)
    oh = value_hash(orows, ocols)
    if sh != oh:
        # which columns differ on their own (each column's sorted values),
        # and how many rows each side holds that the other does not
        ocol = {c: i for i, c in enumerate(ocols)}
        bad = sorted(
            c for i, c in enumerate(scols)
            if value_hash([(r[i],) for r in srows], [c])
            != value_hash([(r[ocol[c]],) for r in orows], [c])
        )
        order_s = sorted(range(len(scols)), key=lambda i: scols[i])
        order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
        sset = Counter(tuple(fmt_value(r[i]) for i in order_s) for r in srows)
        oset = Counter(tuple(fmt_value(r[i]) for i in order_o) for r in orows)
        s_only, o_only = sset - oset, oset - sset
        problems.append(
            f"value-hash mismatch: columns {bad}; rows spark-only="
            f"{s_only.total()} oracle-only={o_only.total()}"
        )
        if s_only:
            problems.append(f"spark-only: {sorted(s_only)[:3]}")
        if o_only:
            problems.append(f"oracle-only: {sorted(o_only)[:3]}")
    return problems
