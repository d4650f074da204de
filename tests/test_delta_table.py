"""DeltalakeTable tests over hand-written protocol-compliant Delta logs.

Mirrors the reference suite's coverage (test/tables/test_deltalake_table.py):
dedup via unique_columns (:252-378), raw SQL-string filters, multi-filter
sets, column subsets with read-set widening, schema normalization across
drifted files (:129-211), empty partition results (:213-250), plus time
travel and remove-action reconciliation which the reference delegates to
delta-rs.
"""

import pytest
from pyspark.sql import types as T

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from delta_testing import DeltaFixtureWriter

SCHEMA = T.StructType(
    [
        T.StructField("implant_id", T.LongType()),
        T.StructField("date", T.StringType()),
        T.StructField("uniq", T.StringType()),
        T.StructField("value", T.LongType()),
    ]
)

ROWS_V0 = [
    {"implant_id": 1, "date": "2023-01-01", "uniq": "a", "value": 1},
    {"implant_id": 1, "date": "2023-01-01", "uniq": "a", "value": 2},
    {"implant_id": 1, "date": "2023-01-02", "uniq": "b", "value": 3},
    {"implant_id": 2, "date": "2023-01-01", "uniq": "c", "value": 4},
]
ROWS_V1 = [
    {"implant_id": 2, "date": "2023-01-02", "uniq": "d", "value": 5},
    {"implant_id": 3, "date": "2023-01-01", "uniq": "e", "value": 6},
]


@pytest.fixture(scope="module")
def delta_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("delta_tbl"))
    writer = DeltaFixtureWriter(base, SCHEMA, ["implant_id", "date"])
    writer.commit(ROWS_V0)
    writer.commit(ROWS_V1)
    return base


def table(delta_dir, **kw):
    return DeltalakeTable("t", delta_dir, schema=SCHEMA, **kw)


def vals(df):
    return sorted(r["value"] for r in df.collect())


class TestDeltaLog:
    def test_snapshot_latest(self, delta_dir):
        snap = DeltaLog(delta_dir).snapshot()
        assert snap.version == 1
        assert len(snap.files) == 5  # 3 partitions v0 + 2 partitions v1
        assert snap.partition_columns == ["implant_id", "date"]
        assert [f.name for f in snap.schema.fields] == [
            "implant_id", "date", "uniq", "value",
        ]

    def test_snapshot_version_0(self, delta_dir):
        snap = DeltaLog(delta_dir).snapshot(0)
        assert snap.version == 0
        assert len(snap.files) == 3

    def test_missing_version_raises(self, delta_dir):
        with pytest.raises(ValueError, match="not in Delta log"):
            DeltaLog(delta_dir).snapshot(99)

    def test_not_a_delta_table(self, tmp_path):
        with pytest.raises(FileNotFoundError, match="_delta_log"):
            DeltaLog(str(tmp_path))


class TestDeltaRead:
    def test_full_read(self, spark, delta_dir):
        assert vals(table(delta_dir)(spark=spark)) == [1, 2, 3, 4, 5, 6]

    def test_partition_columns_typed(self, spark, delta_dir):
        df = table(delta_dir)(spark=spark)
        types = {f.name: f.dataType for f in df.schema.fields}
        assert types["implant_id"] == T.LongType()
        assert types["date"] == T.StringType()

    def test_partition_filter_prunes_and_filters(self, spark, delta_dir):
        df = table(delta_dir)(
            filters=[Filter("implant_id", "=", 1)], spark=spark
        )
        assert vals(df) == [1, 2, 3]

    def test_filter_on_data_column(self, spark, delta_dir):
        df = table(delta_dir)(filters=[Filter("value", ">", 3)], spark=spark)
        assert vals(df) == [4, 5, 6]

    def test_sql_string_filter(self, spark, delta_dir):
        df = table(delta_dir)(
            filters="value >= 2 AND implant_id != 3", spark=spark
        )
        assert vals(df) == [2, 3, 4, 5]

    def test_multi_filter_sets(self, spark, delta_dir):
        df = table(delta_dir)(
            filters=[
                [Filter("implant_id", "=", 1), Filter("value", ">", 1)],
                [Filter("uniq", "=", "e")],
            ],
            spark=spark,
        )
        assert vals(df) == [2, 3, 6]

    def test_empty_partition_result(self, spark, delta_dir):
        df = table(delta_dir)(
            filters=[Filter("implant_id", "=", 99)], spark=spark
        )
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == [
            "implant_id", "date", "uniq", "value",
        ]

    def test_time_travel(self, spark, delta_dir):
        assert vals(table(delta_dir)(version=0, spark=spark)) == [1, 2, 3, 4]
        assert vals(table(delta_dir)(version=1, spark=spark)) == [
            1, 2, 3, 4, 5, 6,
        ]

    def test_projection(self, spark, delta_dir):
        df = table(delta_dir)(columns=["implant_id", "value"], spark=spark)
        assert df.columns == ["implant_id", "value"]

    def test_filter_on_unselected_column(self, spark, delta_dir):
        df = table(delta_dir)(
            filters=[Filter("uniq", "=", "b")], columns=["value"], spark=spark
        )
        assert vals(df) == [3]

    def test_unknown_filter_column_raises(self, spark, delta_dir):
        with pytest.raises(ValueError, match="Unknown filter column"):
            table(delta_dir)(filters=[Filter("nope", "=", 1)], spark=spark)

    def test_unknown_projection_raises(self, spark, delta_dir):
        with pytest.raises(ValueError, match="not in schema"):
            table(delta_dir)(columns=["nope"], spark=spark)


class TestDedupAndExtraCols:
    def test_unique_columns_dedup(self, spark, delta_dir):
        df = table(delta_dir, unique_columns=["uniq"])(spark=spark)
        rows = df.collect()
        assert len(rows) == 5  # "a" collapses from 2 → 1
        assert sorted(r["uniq"] for r in rows) == ["a", "b", "c", "d", "e"]

    def test_dedup_with_column_subset_widens_read_set(self, spark, delta_dir):
        # select excludes 'uniq'; dedup still keys on it, then drops it
        df = table(delta_dir, unique_columns=["uniq"])(
            columns=["implant_id", "value"], spark=spark
        )
        assert df.columns == ["implant_id", "value"]
        assert df.count() == 5

    def test_extra_cols(self, spark, delta_dir):
        df = table(
            delta_dir,
            extra_cols=[("value_x10", "value * 10")],
        )(columns=["value", "value_x10"], spark=spark)
        rows = {r["value"]: r["value_x10"] for r in df.collect()}
        assert rows == {1: 10, 2: 20, 3: 30, 4: 40, 5: 50, 6: 60}

    def test_extra_col_in_schema_readonly(self, delta_dir):
        t = table(delta_dir, extra_cols=[("value_x10", "value * 10")])
        schema = t.get_schema()
        extra = [c for c in schema.columns if c.column == "value_x10"]
        assert extra and extra[0].readonly


class TestOverwriteAndDrift:
    def test_overwrite_removes_old_files(self, spark, tmp_path):
        base = str(tmp_path / "ow")
        writer = DeltaFixtureWriter(base, SCHEMA, ["implant_id", "date"])
        writer.commit(ROWS_V0)
        writer.commit(ROWS_V1, mode="overwrite")
        t = DeltalakeTable("t", base, schema=SCHEMA)
        assert vals(t(spark=spark)) == [5, 6]
        # time travel still sees v0
        assert vals(t(version=0, spark=spark)) == [1, 2, 3, 4]

    def test_schema_drift_normalization(self, spark, tmp_path):
        # Files with missing/extra/reordered columns normalize to the
        # declared schema: missing → typed NULL, extra dropped, order fixed
        # (reference F3 fixture, test_deltalake_table.py:129-211).
        base = str(tmp_path / "drift")
        schema = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
            ]
        )
        writer = DeltaFixtureWriter(base, schema)
        writer.commit([{"a": 1, "b": "x"}])
        drifted = T.StructType(
            [
                T.StructField("c", T.LongType()),  # extra
                T.StructField("a", T.LongType()),
            ]  # 'b' missing
        )
        writer.commit([{"c": 9, "a": 2}], file_schema=drifted)
        t = DeltalakeTable("t", base, schema=schema)
        df = t(spark=spark)
        assert df.columns == ["a", "b"]
        rows = sorted(
            ((r["a"], r["b"]) for r in df.collect()),
            key=lambda x: x[0],
        )
        assert rows == [(1, "x"), (2, None)]


class TestProtocolEdgeCases:
    def test_duplicate_basenames_across_partitions(self, spark, tmp_path):
        """The protocol only guarantees full-relative-path uniqueness:
        compacted tables write e.g. data.parquet in EVERY partition dir. A
        basename-keyed partition-value restore silently duplicates those
        files' rows through its broadcast join; keying on the relative
        path must not."""
        base = str(tmp_path / "dupname")
        writer = DeltaFixtureWriter(base, SCHEMA, ["implant_id", "date"])
        writer.commit(ROWS_V0, filename="data.parquet")
        t = DeltalakeTable("t", base, schema=SCHEMA)
        df = t(spark=spark)
        assert vals(df) == [1, 2, 3, 4]  # no duplication
        # partition columns still restored correctly per file
        got = sorted(
            (r["implant_id"], r["date"], r["value"]) for r in df.collect()
        )
        assert got == [
            (1, "2023-01-01", 1),
            (1, "2023-01-01", 2),
            (1, "2023-01-02", 3),
            (2, "2023-01-01", 4),
        ]

    def test_log_gap_raises(self, spark, tmp_path):
        """A missing commit BETWEEN replayed versions is a torn log —
        replaying past it would present a stale file set as a successful
        read. delta-rs raises; so do we."""
        import os as _os

        base = str(tmp_path / "gap")
        writer = DeltaFixtureWriter(base, SCHEMA, ["implant_id", "date"])
        writer.commit(ROWS_V0)
        writer.commit(ROWS_V1)
        writer.commit(
            [{"implant_id": 4, "date": "2023-01-03", "uniq": "f", "value": 7}]
        )
        _os.remove(_os.path.join(base, "_delta_log", f"{1:020d}.json"))
        with pytest.raises(FileNotFoundError, match="gap"):
            DeltaLog(base).snapshot()

    def test_special_char_partition_values(self, spark, tmp_path):
        """Hive-escaped directory names (colon→%3A etc.) must round-trip:
        partitionValues carry the LOGICAL value, add.path the URL-encoded
        on-disk path — and filters on the partition value must prune to
        the right files."""
        from datarepo_spark.tables.delta_writer import write_delta

        base = str(tmp_path / "special")
        df = spark.createDataFrame(
            [(1, "a:b"), (2, "x y"), (3, "pl%in")], ["v", "p"]
        )
        write_delta(df, base, partition_by=["p"])
        snap = DeltaLog(base).snapshot()
        assert sorted(
            f.partition_values["p"] for f in snap.files
        ) == ["a:b", "pl%in", "x y"]
        t = DeltalakeTable("t", base)
        got = t(filters=[Filter("p", "=", "a:b")], spark=spark)
        assert [(r["v"], r["p"]) for r in got.collect()] == [(1, "a:b")]
        all_rows = sorted(
            (r["v"], r["p"]) for r in t(spark=spark).collect()
        )
        assert all_rows == [(1, "a:b"), (2, "x y"), (3, "pl%in")]
