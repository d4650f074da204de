"""Catalog → Spark temp-view registration: the whole catalog becomes
queryable with plain spark.sql, and Delta checkpoint parquet replay works."""

import pytest
from pyspark.sql import types as T

from datarepo_spark import Catalog, DictDatabase, ParquetTable
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from delta_testing import DeltaFixtureWriter


class TestRegisterTempViews:
    def test_sql_over_catalog(self, spark, sf_dir):
        cat = Catalog(
            {
                "td": DictDatabase(
                    {
                        "orders": ParquetTable(
                            "orders", f"{sf_dir}/orders.parquet"
                        ),
                        "customer": ParquetTable(
                            "customer", f"{sf_dir}/customer.parquet"
                        ),
                    }
                )
            }
        )
        names = cat.register_temp_views(spark)
        assert sorted(names) == ["td_customer", "td_orders"]
        row = spark.sql(
            """
            SELECT c.c_custkey, COUNT(*) AS n
            FROM td_orders o JOIN td_customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey ORDER BY n DESC, c_custkey LIMIT 1
            """
        ).head()
        assert row.n >= 1


SCHEMA = T.StructType(
    [
        T.StructField("part", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)


class TestDeltaCheckpoint:
    @pytest.fixture()
    def checkpointed(self, tmp_path):
        """A Delta table whose early history only exists in a checkpoint
        parquet (commit 0 json deleted) — forces the checkpoint path."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        base = str(tmp_path / "cp")
        writer = DeltaFixtureWriter(base, SCHEMA, ["part"])
        writer.commit([{"part": 1, "v": 1}, {"part": 2, "v": 2}])  # v0
        writer.commit([{"part": 1, "v": 3}])  # v1

        # Build checkpoint at v1 from the replayed state, then delete the
        # JSON commits it covers.
        snap = DeltaLog(base).snapshot(1)
        meta_row = {
            "add": None,
            "remove": None,
            "metaData": {
                "id": "cp-test",
                "schemaString": json.dumps(snap.schema.jsonValue()),
                "partitionColumns": snap.partition_columns,
                "configuration": {},
            },
            "protocol": None,
        }
        add_rows = [
            {
                "add": {
                    "path": f.path,
                    "partitionValues": f.partition_values,
                    "size": f.size,
                },
                "remove": None,
                "metaData": None,
                "protocol": None,
            }
            for f in snap.files
        ]
        proto_row = {
            "add": None,
            "remove": None,
            "metaData": None,
            "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        }
        cp_schema = pa.schema(
            [
                pa.field(
                    "add",
                    pa.struct(
                        [
                            pa.field("path", pa.string()),
                            pa.field(
                                "partitionValues",
                                pa.map_(pa.string(), pa.string()),
                            ),
                            pa.field("size", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "remove", pa.struct([pa.field("path", pa.string())])
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            pa.field("id", pa.string()),
                            pa.field("schemaString", pa.string()),
                            pa.field(
                                "partitionColumns", pa.list_(pa.string())
                            ),
                            pa.field(
                                "configuration",
                                pa.map_(pa.string(), pa.string()),
                            ),
                        ]
                    ),
                ),
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            pa.field("minReaderVersion", pa.int32()),
                            pa.field("minWriterVersion", pa.int32()),
                        ]
                    ),
                ),
            ]
        )
        table = pa.Table.from_pylist(
            [proto_row, meta_row] + add_rows, schema=cp_schema
        )
        pq.write_table(
            table, os.path.join(base, "_delta_log", f"{1:020d}.checkpoint.parquet")
        )
        os.remove(os.path.join(base, "_delta_log", f"{0:020d}.json"))
        os.remove(os.path.join(base, "_delta_log", f"{1:020d}.json"))

        writer.commit([{"part": 2, "v": 4}])  # v2 json on top of checkpoint
        return base

    def test_replay_from_checkpoint(self, spark, checkpointed):
        snap = DeltaLog(checkpointed).snapshot()
        assert snap.version == 2
        assert len(snap.files) == 4
        t = DeltalakeTable("cp", checkpointed, schema=SCHEMA)
        vals = sorted(r.v for r in t(spark=spark).collect())
        assert vals == [1, 2, 3, 4]

    def test_checkpoint_only_version(self, spark, checkpointed):
        snap = DeltaLog(checkpointed).snapshot(1)
        assert len(snap.files) == 3
