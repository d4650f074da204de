"""Output checks. They run outside the timed window.

Catalog and Delta reads are compared with expectations computed from the
generated source rows: a row count plus an order-insensitive value hash,
computed by numpy over Spark's Arrow output and over the source rows.
Registry queries are compared with their DuckDB oracle over the same
Parquet files: equal row multisets, exactly as the oracle parity tests do.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .inputs import READINGS_SCHEMA

_M = 2_147_483_647  # 2**31 - 1: keeps every intermediate below 2**63
_K = 1_000_003


def _numpy_code(table: pa.Table, name: str) -> np.ndarray:
    col = table.column(name)
    kind = READINGS_SCHEMA.field(name).type
    if kind == pa.string():
        values = col.to_pylist()
        codes = {v: zlib.crc32(v.encode()) for v in set(values)}
        return np.array([codes[v] for v in values], dtype=np.int64)
    if kind == pa.float64():
        return np.rint(col.to_numpy() * 100).astype(np.int64)
    return col.to_numpy().astype(np.int64)


def frame_fingerprint(df: DataFrame, columns: list[str]) -> tuple[int, int]:
    """(rows, value hash) of ``df``, fetched as Arrow and hashed as
    :func:`expected_fingerprint` hashes the source rows."""
    return expected_fingerprint(df.select(*columns).toArrow(), columns)


def frame_digest(df: DataFrame) -> tuple[int, str]:
    """:func:`multiset_digest` of ``df``, its rows fetched as Arrow."""
    table = df.toArrow()
    return multiset_digest(table.column_names, zip(*(c.to_pylist() for c in table.columns)))


def expected_fingerprint(table: pa.Table, columns: list[str]) -> tuple[int, int]:
    h = np.zeros(table.num_rows, dtype=np.int64)
    for name in columns:
        h = (h * _K + _numpy_code(table, name) % _M) % _M
    return table.num_rows, int(((h * h) % _M).sum())


def select_rows(table: pa.Table, dnf: list[list[tuple]]) -> pa.Table:
    """Rows of ``table`` matching a DNF of (column, op, value) triples."""
    if not dnf:
        return table
    ops = {
        "=": pc.equal, "<": pc.less, "<=": pc.less_equal,
        ">": pc.greater, ">=": pc.greater_equal,
    }
    keep = None
    for conj in dnf:
        mask = None
        for column, op, value in conj:
            term = ops[op](table.column(column), value)
            mask = term if mask is None else pc.and_(mask, term)
        keep = mask if keep is None else pc.or_(keep, mask)
    return table.filter(keep)


def _canonical(value):
    if isinstance(value, dt.datetime):
        return value.replace(tzinfo=None)
    if isinstance(value, decimal.Decimal):
        return float(value)
    if isinstance(value, float) and math.isnan(value):
        return "NaN"
    if isinstance(value, (list, tuple)):
        return tuple(_canonical(v) for v in value)
    return value


def multiset_digest(columns: list[str], rows) -> tuple[int, str]:
    """(rows, sha256) of a result, insensitive to row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        (tuple(_canonical(row[i]) for i in order) for row in rows), key=repr
    )
    digest = hashlib.sha256(repr(canon).encode()).hexdigest()
    return len(canon), digest


def oracle_digests(star_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, tuple[int, str]]:
    """name → multiset digest of the rows DuckDB returns for ``sql[name]``
    over views of the star tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for table in tables:
            path = os.path.join(star_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, query in sql.items():
            cur = con.execute(query)
            out[name] = multiset_digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
