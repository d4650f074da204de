"""Local replica of the driver's correctness gate.

For every registry query with an oracle: run the Spark program and the
DuckDB SQL over the same sf directory, then compare row count, column-name
set, canonical result types (the driver's value hash is arrow-type-
sensitive — see tests/_typecanon.py), and the full (order-insensitive)
value multiset — bit-exact, because that is what the driver's value hash
demands.
"""

import math
import os

import duckdb
import pytest

from _typecanon import canon_duck, canon_spark

from datarepo_spark.queries.registry import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    yield con
    con.close()


def canonicalize(value):
    """Make values comparable across engines (timestamps → naive, floats
    stay exact: comparison is equality, not tolerance)."""
    import datetime as dt
    import decimal

    if isinstance(value, dt.datetime):
        return value.replace(tzinfo=None)
    if isinstance(value, decimal.Decimal):
        return float(value)
    if isinstance(value, float) and math.isnan(value):
        return "NaN"
    if isinstance(value, list):
        return tuple(canonicalize(v) for v in value)
    return value


def result_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canonicalize(row[i]) for i in order) for row in rows),
        key=repr,
    )


ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle)
NO_ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if not q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, ddb, name):
    q = REGISTRY[name]
    sdf = q.spark_fn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    cur = ddb.execute(q.oracle)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    # Type parity (plan-time, no extra execution): a q12-class bug —
    # DuckDB HUGEINT vs Spark BIGINT — fails here before it fails the
    # driver's hash.
    s_types = {f.name: canon_spark(f.dataType) for f in sdf.schema.fields}
    d_types = {
        row[0]: canon_duck(row[1])
        for row in ddb.execute(f"DESCRIBE {q.oracle}").fetchall()
    }
    type_diffs = {
        c: (s_types.get(c), d_types.get(c))
        for c in s_types
        if s_types.get(c) != d_types.get(c)
    }
    assert not type_diffs, f"{name}: result-type mismatch {type_diffs}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s = result_multiset(spark_cols, spark_rows)
    d = result_multiset(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


if NO_ORACLE_QUERIES:
    # Currently empty — every registry query carries an oracle — but the
    # weaker rows-only check stays defined for any future query that is
    # genuinely non-SQL-expressible.
    @pytest.mark.parametrize("name", NO_ORACLE_QUERIES)
    def test_query_runs_rows_only(spark, name):
        q = REGISTRY[name]
        df = q.spark_fn(spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())
