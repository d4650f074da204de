"""Schema normalization: missing-column tolerance, casting, column order.

Reference behavior (deltalake_table.py:389-422 _normalize_df, tested
test_deltalake_table.py:170-211): given a declared schema, a frame read
from heterogeneous files must come back with
  - missing columns added as typed NULLs,
  - every column cast to its declared type,
  - columns in declared-schema order (optionally a selected subset).

Spark's ``mergeSchema`` only widens the read schema; it does not reorder or
add absent columns, so normalization is an explicit select. It is a pure
projection, and Catalyst collapses it into the scan, so executing it is
free at any scale. Building it is not: each ``select`` costs one
driver-side analysis pass, and each ``Column`` built in Python costs
py4j round trips (PySpark captures a call site for every one). So the
projection is computed from a schema the driver already holds (a Delta
snapshot's, a table's declared schema) when the caller passes it, and an
unchanged column goes in as its plain name.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.exec import local_frame


def _strip_nullability(dt: T.DataType) -> T.DataType:
    """Same type with every nested nullability flag set True — casting is
    about VALUES; a containsNull=false declared element type must not
    make the cast unresolvable against a nullable-element read schema
    (Spark refuses array<int,true> → array<int,false>)."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_nullability(dt.keyType),
            _strip_nullability(dt.valueType),
            True,
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _strip_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def normalize_df(
    df: DataFrame,
    schema: T.StructType,
    columns: Optional[Sequence[str]] = None,
    source: Optional[T.StructType] = None,
) -> DataFrame:
    """Normalize ``df`` to ``schema`` (order, types, missing→typed NULL).
    ``source`` is ``df``'s schema when the caller already holds it; by
    default it is read back from the JVM."""
    source = df.schema if source is None else source
    read_types = {f.name: f.dataType for f in source.fields}
    wanted = list(columns) if columns is not None else [f.name for f in schema]
    by_name = {f.name: f for f in schema.fields}
    exprs = []
    for name in wanted:
        field = by_name.get(name)
        if field is None:
            raise ValueError(
                f"Column {name!r} not in declared schema "
                f"(schema has: {[f.name for f in schema.fields]})"
            )
        if name in read_types:
            target = _strip_nullability(field.dataType)
            if _strip_nullability(read_types[name]) == target:
                exprs.append(name)  # no-op cast elided
            else:
                exprs.append(F.col(name).cast(target).alias(name))
        else:
            exprs.append(F.lit(None).cast(field.dataType).alias(name))
    return df.select(*exprs)


def empty_normalized_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty frame with the exact declared schema (reference
    _empty_normalized_df, deltalake_table.py:377-386)."""
    return local_frame(spark, [], schema)
