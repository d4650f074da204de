"""A catalog read projects its frame from the schema the driver holds.

``DeltalakeTable`` and ``ParquetTable`` build a read's final projection
(declared order, casts, typed NULLs, read-set trim) from a schema the
driver already has: the snapshot's, or the declared one. Each case here
reads once as the table does, and once with the projection built from
the schema the JVM reports for the scan: for Delta, ``normalize_df``
called without ``source``; for Parquet, every declared partition the
scan has cast to its declared type, one ``withColumn`` each. The two
frames must have the same schema (names, types, nullability) and rows.

The round-trip pin bounds the py4j calls one ``Catalog.db().table()``
read costs, and the hook test keeps the names lakebench's tracer wraps.
"""

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datarepo_spark import Catalog, DictDatabase
from datarepo_spark.core.exec import local_frame
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables import delta_table, parquet_table
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    delete_delta,
    update_delta,
    write_delta,
)
from datarepo_spark.tables.metadata import Partition, PartitioningScheme
from datarepo_spark.tables.normalize import normalize_df
from datarepo_spark.tables.parquet_table import ParquetTable


def rows_of(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def read_both(monkeypatch, read, force_jvm_schema):
    """``(schema, rows)`` of ``read()`` as the table builds it, after
    checking that the projection built from the scan's JVM schema
    (``force_jvm_schema(m)`` patches that in) gives the same."""
    df = read()
    with monkeypatch.context() as m:
        force_jvm_schema(m)
        old = read()
    assert df.schema == old.schema
    rows = rows_of(df)
    assert rows == rows_of(old)
    return df.schema, rows


# -- Delta -------------------------------------------------------------------


def normalize_from_jvm(m):
    m.setattr(
        delta_table,
        "normalize_df",
        lambda df, schema, columns=None, source=None: normalize_df(
            df, schema, columns
        ),
    )


def delta_read(monkeypatch, spark, table, **kw):
    return read_both(
        monkeypatch, lambda: table(spark=spark, **kw), normalize_from_jvm
    )


SCHEMA = "id long, p string, v int, note string"
ROWS = [(i, "ab"[i % 2], i * 10, None if i % 3 else f"n{i}") for i in range(12)]


@pytest.fixture(scope="module")
def partitioned(spark, tmp_path_factory):
    """Partitioned by ``p``; version 1 adds two rows."""
    uri = str(tmp_path_factory.mktemp("partitioned") / "t")
    write_delta(local_frame(spark, ROWS, SCHEMA), uri, partition_by=["p"])
    more = [(20, "a", 200, "x"), (21, "c", 210, None)]
    write_delta(local_frame(spark, more, SCHEMA), uri)
    return uri


DELTA_READS = {
    "all": {},
    "point": {"filters": [Filter("p", "=", "a")], "columns": ["id", "v", "p"]},
    "dnf": {
        "filters": [
            [Filter("p", "=", "a"), Filter("v", "<", 50)],
            [Filter("p", "=", "b"), Filter("id", ">=", 7)],
        ]
    },
    "reordered": {"columns": ["note", "p", "id"]},
    "all_pruned": {"filters": [Filter("p", "=", "zz")], "columns": ["v", "p"]},
    "version": {"version": 0, "filters": [Filter("p", "!=", "b")]},
    "sql_filter": {"filters": "v >= 30 AND note IS NULL", "columns": ["id", "p"]},
}


@pytest.mark.parametrize("join", [False, True], ids=["hive", "join"])
@pytest.mark.parametrize("case", list(DELTA_READS))
def test_delta_reads_project_as_from_the_jvm_schema(
    spark, partitioned, monkeypatch, case, join
):
    if join:
        monkeypatch.setattr(delta_table, "_hive_layout", lambda *a: False)
    schema, rows = delta_read(
        monkeypatch, spark, DeltalakeTable("t", partitioned), **DELTA_READS[case]
    )
    if case == "all":
        assert schema.names == ["id", "p", "v", "note"]
        assert len(rows) == len(ROWS) + 2
    if case == "all_pruned":
        assert schema.names == ["v", "p"] and rows == []


def test_a_declared_schema_with_a_missing_column_and_a_wider_type(
    spark, partitioned, monkeypatch
):
    declared = T.StructType(
        [
            T.StructField("missing", T.DoubleType()),
            T.StructField("v", T.LongType()),  # int in the files
            T.StructField("id", T.LongType()),
            T.StructField("p", T.StringType()),
            T.StructField("note", T.StringType()),
        ]
    )
    table = DeltalakeTable("t", partitioned, schema=declared)
    schema, rows = delta_read(monkeypatch, spark, table)
    assert [(f.name, f.dataType) for f in schema] == [
        (f.name, f.dataType) for f in declared
    ]
    assert all(r.startswith("(None, ") for r in rows)
    # the all-pruned frame is built from the declared schema
    schema, rows = delta_read(
        monkeypatch, spark, table, filters=[Filter("p", "=", "zz")]
    )
    assert schema == declared and rows == []


def test_extra_cols_and_unique_columns(spark, partitioned, monkeypatch):
    table = DeltalakeTable(
        "t",
        partitioned,
        unique_columns=["id"],
        extra_cols=[("v10", "v * 10"), ("v11", F.col("v") + 1)],
    )
    # ``id`` joins the read set for the dedup, then leaves it
    schema, rows = delta_read(monkeypatch, spark, table, columns=["v11", "v", "p"])
    assert schema.names == ["v11", "v", "p"] and len(rows) == len(ROWS) + 2
    schema, _ = delta_read(monkeypatch, spark, table)
    assert schema.names == ["id", "p", "v", "note", "v10", "v11"]


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "distributed"])
def test_deletion_vector_reads(spark, tmp_path, monkeypatch, broadcast):
    uri = str(tmp_path / "t")
    write_delta(local_frame(spark, ROWS, SCHEMA), uri, partition_by=["p"])
    delete_delta(spark, uri, [Filter("v", "in", [10, 40, 60])])
    assert any(add.deletion_vector for add in DeltaLog(uri).snapshot().files)
    if not broadcast:
        monkeypatch.setattr(delta_table, "DV_BROADCAST_MAX_CARDINALITY", 0)
    table = DeltalakeTable("t", uri)
    _, rows = delta_read(monkeypatch, spark, table)
    assert len(rows) == len(ROWS) - 3
    delta_read(
        monkeypatch, spark, table, filters=[Filter("v", ">", 20)], columns=["v", "id"]
    )


def _mapped_field(name, ftype, physical, fid):
    return {
        "name": name,
        "type": ftype,
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": physical,
        },
    }


@pytest.fixture(scope="module")
def mapped(tmp_path_factory):
    """A name-mapped table written by hand: logical ``id long``,
    ``s struct<a: long>``, ``m map<struct<k: long>, long>``, partition
    ``part string``; the files carry the physical names."""
    uri = str(tmp_path_factory.mktemp("mapped") / "t")
    inner = {
        "type": "struct",
        "fields": [_mapped_field("a", "long", "col-a", 3)],
    }
    keyed = {
        "type": "map",
        "keyType": {
            "type": "struct",
            "fields": [_mapped_field("k", "long", "col-k", 6)],
        },
        "valueType": "long",
        "valueContainsNull": True,
    }
    fields = [
        _mapped_field("id", "long", "col-id", 1),
        _mapped_field("s", inner, "col-s", 2),
        _mapped_field("m", keyed, "col-m", 5),
        _mapped_field("part", "string", "col-part", 4),
    ]
    key = pa.struct([pa.field("col-k", pa.int64(), nullable=False)])
    adds = []
    for part, ids in (("x", range(0, 4)), ("y", range(4, 7))):
        rel = f"col-part={part}/data.parquet"
        os.makedirs(os.path.join(uri, f"col-part={part}"))
        structs = [None if i == 5 else {"col-a": i * 2} for i in ids]
        maps = pa.array(
            [[({"col-k": i}, i * 3)] for i in ids], pa.map_(key, pa.int64())
        )
        pq.write_table(
            pa.table({"col-id": list(ids), "col-s": structs, "col-m": maps}),
            os.path.join(uri, rel),
        )
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {"col-part": part},
                    "size": os.path.getsize(os.path.join(uri, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    os.makedirs(os.path.join(uri, "_delta_log"))
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "mapped",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct", "fields": fields}),
                "partitionColumns": ["part"],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "6",
                },
                "createdTime": 0,
            }
        },
        *adds,
    ]
    with open(os.path.join(uri, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return uri


@pytest.mark.parametrize(
    "kw",
    [{}, {"filters": [Filter("part", "=", "y")], "columns": ["m", "s", "id"]}],
    ids=["all", "point"],
)
def test_column_mapped_reads(spark, mapped, monkeypatch, kw):
    schema, rows = delta_read(monkeypatch, spark, DeltalakeTable("t", mapped), **kw)
    assert schema["s"].dataType.names == ["a"]
    assert schema["m"].dataType.keyType.names == ["k"]
    assert rows


@pytest.mark.parametrize("rewrite", ["delete", "update"])
def test_a_rewrite_of_a_column_mapped_table_keeps_its_map_keys(
    spark, mapped, tmp_path, rewrite
):
    # A copy-on-write rewrite reads the target with logical names and
    # writes it back with physical ones, map keys included: a key left
    # logical would read back as a NULL ``k``.
    uri = str(tmp_path / "t")
    shutil.copytree(mapped, uri)
    if rewrite == "delete":
        out = delete_delta(
            spark, uri, [Filter("id", "=", 1)], rewrite_threshold=0
        )
        assert out["files_rewritten"] == 1
    else:
        update_delta(spark, uri, [Filter("id", "=", 1)], {"id": F.lit(100)})
    kept = [0, 2, 3, 4, 5, 6] + ([100] if rewrite == "update" else [])
    rows = DeltalakeTable("t", uri)().select(
        "id", F.map_keys("m")[0]["k"].alias("k")
    ).collect()
    want = {i: (1 if i == 100 else i) for i in kept}
    assert sorted((r.id, r.k) for r in rows) == sorted(want.items())


# -- Parquet -----------------------------------------------------------------


def cast_every_partition(m):
    """Patch ``_read_hive`` to cast every declared partition the scan
    has, whatever the read schema already gives it."""
    read_hive = ParquetTable._read_hive

    def by_columns(self, spark, uri, applied):
        df = read_hive(self, spark, uri, applied)
        for p in self.partitioning:
            if p.column in df.columns:
                df = df.withColumn(p.column, F.col(p.column).cast(p.col_type))
        return df

    m.setattr(ParquetTable, "_read_hive", by_columns)


def path_per_column(m):
    """Patch ``_read_directory`` to restore partitions with one
    ``withColumn`` each."""

    def by_columns(self, spark, uri, remaining, applied):
        reader = spark.read.option("recursiveFileLookup", "true")
        if self.schema is not None:
            reader = reader.schema(self._data_only_schema())
        df = reader.parquet(uri)
        segments = F.split(F.col("_metadata.file_path"), "/")
        for i, p in enumerate(remaining):
            idx = F.size(segments) - (len(remaining) - i)
            df = df.withColumn(p.column, F.element_at(segments, idx).cast(p.col_type))
        for p, value in applied:
            df = df.withColumn(p.column, F.lit(value).cast(p.col_type))
        return df

    m.setattr(ParquetTable, "_read_directory", by_columns)


PQ_ROWS = [(k, d, k * 100 + d, f"s{d}") for k in (1, 2, 3) for d in (1, 2)]


@pytest.fixture(
    scope="module", params=[PartitioningScheme.HIVE, PartitioningScheme.DIRECTORY]
)
def pq_dir(request, tmp_path_factory):
    """Partitioned by ``k`` (int) then ``d`` (int), one file each."""
    scheme = request.param
    base = str(tmp_path_factory.mktemp(scheme.value))
    for k, d, v, s in PQ_ROWS:
        hive = scheme is PartitioningScheme.HIVE
        segs = [f"k={k}", f"d={d}"] if hive else [str(k), str(d)]
        out = os.path.join(base, *segs)
        os.makedirs(out)
        pq.write_table(
            pa.table({"v": pa.array([v], pa.int64()), "s": [s]}),
            os.path.join(out, "data.parquet"),
        )
    return scheme, base


PQ_SCHEMAS = {
    "inferred": None,
    "declared": T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("d", T.IntegerType()),
        ]
    ),
    # the schema's ``k`` is a long; ``Partition.col_type`` says int
    "schema_type_differs": T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    ),
}
PQ_READS = {
    "all": {},
    "point": {"filters": [Filter("k", "=", 2)], "columns": ["v", "k", "d"]},
    "range": {"filters": [Filter("d", ">", 1)], "columns": ["s", "k"]},
}


@pytest.mark.parametrize("case", list(PQ_READS))
@pytest.mark.parametrize("declared", list(PQ_SCHEMAS))
def test_parquet_reads_project_as_from_the_jvm_schema(
    spark, pq_dir, monkeypatch, declared, case
):
    scheme, base = pq_dir
    table = ParquetTable(
        "t",
        base,
        partitioning=[Partition("k", T.IntegerType()), Partition("d", T.IntegerType())],
        partitioning_scheme=scheme,
        schema=PQ_SCHEMAS[declared],
    )
    hive = scheme is PartitioningScheme.HIVE
    force = cast_every_partition if hive else path_per_column
    schema, rows = read_both(
        monkeypatch, lambda: table(spark=spark, **PQ_READS[case]), force
    )
    types = {f.name: f.dataType for f in schema}
    assert types.get("k", T.IntegerType()) == T.IntegerType()
    assert len(rows) == {"all": 6, "point": 2, "range": 3}[case]


# -- py4j round trips ---------------------------------------------------------


@pytest.fixture(scope="module")
def small_catalog(spark, tmp_path_factory):
    """A Delta and a Parquet table of the same eight rows, each
    partitioned by ``region`` into two files, and the catalog over them."""
    root = tmp_path_factory.mktemp("small_catalog")
    rows = [(i, i % 2, float(i), f"t{i}") for i in range(8)]
    schema = "id long, region int, amount double, tag string"
    delta_uri = str(root / "delta")
    write_delta(local_frame(spark, rows, schema), delta_uri, partition_by=["region"])
    pq_uri = str(root / "pq")
    for region in (0, 1):
        out = os.path.join(pq_uri, f"region={region}")
        os.makedirs(out)
        mine = [r for r in rows if r[1] == region]
        pq.write_table(
            pa.table(
                {
                    "id": [r[0] for r in mine],
                    "amount": [r[2] for r in mine],
                    "tag": [r[3] for r in mine],
                }
            ),
            os.path.join(out, "data.parquet"),
        )
    declared = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("region", T.IntegerType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    return Catalog(
        {
            "lake": DictDatabase(
                {
                    "dl": DeltalakeTable("dl", delta_uri, schema=declared),
                    "pq": ParquetTable(
                        "pq",
                        pq_uri,
                        partitioning=[Partition("region", T.IntegerType())],
                        schema=declared,
                    ),
                }
            )
        }
    )


def round_trips(monkeypatch, read) -> int:
    from py4j.java_gateway import GatewayClient

    calls = [0]
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    read()  # warm: the snapshot memo and the session's confs
    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counted)
        read()
    return calls[0]


# Counted when these bounds were set: 68 for the Delta read, 37 for the
# Parquet read. Building the projection from the scan's JVM schema, with
# one wrapped ``Column`` per column and a per-partition cast, took 177
# and 69.
@pytest.mark.parametrize("table, bound", [("dl", 80), ("pq", 45)])
def test_a_point_read_costs_few_py4j_round_trips(
    spark, small_catalog, monkeypatch, table, bound
):
    def read():
        return small_catalog.db("lake").table(
            table,
            filters=[Filter("region", "=", 1)],
            columns=["id", "amount", "tag", "region"],
            spark=spark,
        )

    assert rows_of(read()) == [
        repr((i, float(i), f"t{i}", 1)) for i in (1, 3, 5, 7)
    ]
    assert round_trips(monkeypatch, read) <= bound


# -- the tracer's hooks --------------------------------------------------------


def test_the_tracer_wraps_the_filter_compiler_in_both_table_modules():
    from lakebench.tracing import Tracer

    tracer = Tracer()
    tracer.install_layer_hooks()
    try:
        for module in (parquet_table, delta_table):
            assert hasattr(module.filters_to_column, "__wrapped__"), module
    finally:
        tracer.restore()
    assert not hasattr(parquet_table.filters_to_column, "__wrapped__")
    assert not hasattr(delta_table.filters_to_column, "__wrapped__")
