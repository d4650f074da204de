"""Audit arrow-level type parity between every Spark query and its DuckDB
oracle (the driver's value hash is type-sensitive; q12 in round 2 failed
on DuckDB HUGEINT vs Spark BIGINT while the Python-coerced local replica
passed).  Prints one line per column whose canonical arrow type differs.

Usage: python tools/audit_arrow_types.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datarepo_spark.queries.registry import REGISTRY
from datarepo_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canonical(t: pa.DataType) -> str:
    """Collapse arrow types into driver-hash-relevant equivalence classes.

    Differences WITHIN a class are serialization details (utf8 vs
    large_utf8, timestamp tz naming); differences ACROSS classes changed
    hashes in practice (int64 vs decimal128 = the q12 bug).
    """
    if pa.types.is_integer(t):
        # integer WIDTH is collapsed, matching tests/_typecanon.py (and
        # the driver's hash): int32 vs int64 is not a mismatch
        return "int"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canonical(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{f.name}:{canonical(f.type)}" for f in t
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{canonical(t.key_type)},{canonical(t.item_type)}>"
    return str(t)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    mismatched = 0
    for name, q in sorted(REGISTRY.items()):
        if not q.oracle:
            continue
        try:
            sdf = q.spark_fn(spark, sf_dir)
            s_tbl = sdf.toArrow()
            d_tbl = con.execute(q.oracle).arrow()
        except Exception as exc:  # pragma: no cover - audit tool
            print(f"ERROR {name}: {exc}")
            mismatched += 1
            continue
        s_types = {f.name: canonical(f.type) for f in s_tbl.schema}
        d_types = {f.name: canonical(f.type) for f in d_tbl.schema}
        for col in sorted(set(s_types) | set(d_types)):
            st, dt = s_types.get(col), d_types.get(col)
            if st != dt:
                print(f"MISMATCH {name}.{col}: spark={st} duckdb={dt}")
                mismatched += 1
    print(f"done: {mismatched} mismatched columns")


if __name__ == "__main__":
    main()
