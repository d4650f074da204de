"""ParquetTable integration tests over a real partitioned directory.

Mirrors the reference suite's shape (test/tables/test_parquet_table.py):
every filter operator against a hive-partitioned fixture (:96-339), the
DIRECTORY-scheme variant, and the internal pruning contract
``build_uri_from_filters`` (:341-465). Golden comparisons sort by ``value``
like the reference does (:118-121).
"""

import datetime as dt
import os
from collections import defaultdict
from typing import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.metadata import Partition, PartitioningScheme
from datarepo_spark.tables.parquet_table import ParquetTable


def write_partitioned_fixture(
    df_rows: list[dict],
    schema: T.StructType,
    base: str,
    partitions: Sequence[str],
    scheme: PartitioningScheme,
) -> None:
    """Write rows as one parquet file per partition tuple in either
    layout (mirrors the reference fixture, test_parquet_table.py:34-92).
    Uses pyarrow directly — tiny data only."""
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for row in df_rows:
        groups[tuple(row[p] for p in partitions)].append(row)
    data_fields = [f for f in schema.fields if f.name not in partitions]
    for key, rows in groups.items():
        if scheme is PartitioningScheme.HIVE:
            segs = [f"{p}={v}" for p, v in zip(partitions, key)]
        else:
            segs = [str(v) for v in key]
        d = os.path.join(base, *segs)
        os.makedirs(d, exist_ok=True)
        cols = {
            f.name: [r.get(f.name) for r in rows] for f in data_fields
        }
        pq.write_table(pa.table(cols), os.path.join(d, "data.parquet"))


SCHEMA = T.StructType(
    [
        T.StructField("implant_id", T.IntegerType()),
        T.StructField("date", T.StringType()),
        T.StructField("value", T.LongType()),
        T.StructField("str_value", T.StringType()),
        T.StructField("arr_value", T.ArrayType(T.LongType())),
        T.StructField("date_time", T.TimestampType()),
    ]
)

ROWS = [
    {
        "implant_id": i,
        "date": f"2023-01-0{d}",
        "value": i * 10 + d,
        "str_value": s,
        "arr_value": a,
        "date_time": dt.datetime(2023, 1, d, i, 0, 0),
    }
    for (i, d, s, a) in [
        (1, 1, "test1", [1, 2]),
        (1, 2, "abc2", [2, 3]),
        (2, 1, "xyz3", [3, 4]),
        (2, 2, "test4", [1, 4]),
        (3, 1, "abc5", [5]),
        (3, 3, "xyz6", [1, 5, 6]),
    ]
]

PARTITIONING = [
    Partition("implant_id", T.IntegerType()),
    Partition("date", T.StringType()),
]

DATA_SCHEMA = T.StructType(
    [f for f in SCHEMA.fields if f.name not in ("implant_id", "date")]
)


@pytest.fixture(scope="module")
def hive_table(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("hive_tbl"))
    write_partitioned_fixture(
        ROWS, SCHEMA, base, ["implant_id", "date"], PartitioningScheme.HIVE
    )
    return ParquetTable(
        "events",
        base,
        partitioning=PARTITIONING,
        partitioning_scheme=PartitioningScheme.HIVE,
    )


@pytest.fixture(scope="module")
def dir_table(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("dir_tbl"))
    write_partitioned_fixture(
        ROWS, SCHEMA, base, ["implant_id", "date"], PartitioningScheme.DIRECTORY
    )
    return ParquetTable(
        "events_dir",
        base,
        partitioning=PARTITIONING,
        partitioning_scheme=PartitioningScheme.DIRECTORY,
    )


def values(df):
    return sorted(r["value"] for r in df.select("value").collect())


def expect(pred):
    return sorted(r["value"] for r in ROWS if pred(r))


@pytest.mark.parametrize("table_fixture", ["hive_table", "dir_table"])
class TestFilterOperators:
    @pytest.fixture
    def tbl(self, table_fixture, request):
        return request.getfixturevalue(table_fixture)

    def test_no_filters(self, spark, tbl):
        assert values(tbl(spark=spark)) == expect(lambda r: True)

    def test_eq_partition(self, spark, tbl):
        df = tbl(filters=[Filter("implant_id", "=", 2)], spark=spark)
        assert values(df) == expect(lambda r: r["implant_id"] == 2)

    def test_eq_both_partitions(self, spark, tbl):
        df = tbl(
            filters=[
                Filter("implant_id", "=", 1),
                Filter("date", "=", "2023-01-02"),
            ],
            spark=spark,
        )
        assert values(df) == expect(
            lambda r: r["implant_id"] == 1 and r["date"] == "2023-01-02"
        )

    def test_neq(self, spark, tbl):
        df = tbl(filters=[Filter("implant_id", "!=", 2)], spark=spark)
        assert values(df) == expect(lambda r: r["implant_id"] != 2)

    def test_range_ops(self, spark, tbl):
        df = tbl(filters=[Filter("value", ">=", 21)], spark=spark)
        assert values(df) == expect(lambda r: r["value"] >= 21)
        df = tbl(filters=[Filter("value", "<", 21)], spark=spark)
        assert values(df) == expect(lambda r: r["value"] < 21)

    def test_in_not_in(self, spark, tbl):
        df = tbl(filters=[Filter("implant_id", "in", [1, 3])], spark=spark)
        assert values(df) == expect(lambda r: r["implant_id"] in (1, 3))
        df = tbl(filters=[Filter("implant_id", "not in", [1, 3])], spark=spark)
        assert values(df) == expect(lambda r: r["implant_id"] not in (1, 3))

    def test_contains(self, spark, tbl):
        df = tbl(filters=[Filter("str_value", "contains", "test")], spark=spark)
        assert values(df) == expect(lambda r: "test" in r["str_value"])

    def test_includes(self, spark, tbl):
        df = tbl(filters=[Filter("arr_value", "includes", 1)], spark=spark)
        assert values(df) == expect(lambda r: 1 in r["arr_value"])

    def test_includes_any(self, spark, tbl):
        df = tbl(filters=[Filter("arr_value", "includes any", [2, 5])], spark=spark)
        assert values(df) == expect(
            lambda r: 2 in r["arr_value"] or 5 in r["arr_value"]
        )

    def test_includes_all(self, spark, tbl):
        df = tbl(filters=[Filter("arr_value", "includes all", [1, 5])], spark=spark)
        assert values(df) == expect(
            lambda r: 1 in r["arr_value"] and 5 in r["arr_value"]
        )

    def test_datetime_range(self, spark, tbl):
        cut = dt.datetime(2023, 1, 1, 12, 0, 0)
        df = tbl(filters=[Filter("date_time", ">", cut)], spark=spark)
        assert values(df) == expect(lambda r: r["date_time"] > cut)

    def test_or_of_conjunctions(self, spark, tbl):
        df = tbl(
            filters=[
                [Filter("implant_id", "=", 1), Filter("value", ">", 11)],
                [Filter("str_value", "contains", "xyz")],
            ],
            spark=spark,
        )
        assert values(df) == expect(
            lambda r: (r["implant_id"] == 1 and r["value"] > 11)
            or "xyz" in r["str_value"]
        )

    def test_projection(self, spark, tbl):
        df = tbl(
            filters=[Filter("implant_id", "=", 1)],
            columns=["value", "str_value"],
            spark=spark,
        )
        assert df.columns == ["value", "str_value"]

    def test_partition_columns_present_and_typed(self, spark, tbl):
        df = tbl(filters=[Filter("implant_id", "=", 2)], spark=spark)
        schema = {f.name: f.dataType for f in df.schema.fields}
        assert schema["implant_id"] == T.IntegerType()
        assert schema["date"] == T.StringType()
        rows = df.select("implant_id", "date").distinct().collect()
        assert all(r["implant_id"] == 2 for r in rows)

    def test_empty_result(self, spark, tbl):
        df = tbl(filters=[Filter("value", ">", 10_000)], spark=spark)
        assert df.count() == 0


class TestUriPruning:
    """The pruning contract, independent of I/O (reference :341-465)."""

    def tbl(self, scheme=PartitioningScheme.HIVE):
        return ParquetTable(
            "t", "/data/t", partitioning=PARTITIONING, partitioning_scheme=scheme
        )

    def test_no_filters_no_pruning(self):
        uri, remaining, residual, applied = self.tbl().build_uri_from_filters([])
        assert uri == "/data/t/"
        assert [p.column for p in remaining] == ["implant_id", "date"]
        assert residual == [] and applied == []

    def test_first_partition_folds(self):
        dnf = [[Filter("implant_id", "=", 5956), Filter("value", ">", 1)]]
        uri, remaining, residual, applied = self.tbl().build_uri_from_filters(dnf)
        assert uri == "/data/t/implant_id=5956/"
        assert [p.column for p in remaining] == ["date"]
        assert residual == [[Filter("value", ">", 1)]]
        assert applied[0][1] == 5956

    def test_both_partitions_fold_directory_scheme(self):
        dnf = [
            [
                Filter("implant_id", "=", 5956),
                Filter("date", "=", "2024-03-24"),
            ]
        ]
        t = self.tbl(PartitioningScheme.DIRECTORY)
        uri, remaining, residual, applied = t.build_uri_from_filters(dnf)
        assert uri == "/data/t/5956/2024-03-24/"
        assert remaining == [] and residual == []

    def test_trailing_slash_guards_prefix_collision(self):
        t = self.tbl(PartitioningScheme.DIRECTORY)
        uri, *_ = t.build_uri_from_filters([[Filter("implant_id", "=", 595)]])
        assert uri.endswith("/595/")  # not a prefix of .../5956/...

    def test_second_partition_cannot_fold_without_first(self):
        dnf = [[Filter("date", "=", "2024-03-24")]]
        uri, remaining, residual, _ = self.tbl().build_uri_from_filters(dnf)
        assert uri == "/data/t/"
        assert len(remaining) == 2
        assert residual == dnf

    def test_range_filter_stops_folding(self):
        dnf = [[Filter("implant_id", ">", 1)]]
        uri, remaining, residual, _ = self.tbl().build_uri_from_filters(dnf)
        assert uri == "/data/t/"
        assert residual == dnf

    def test_or_branches_must_agree(self):
        dnf = [[Filter("implant_id", "=", 1)], [Filter("implant_id", "=", 2)]]
        uri, _, residual, _ = self.tbl().build_uri_from_filters(dnf)
        assert uri == "/data/t/"
        assert residual == dnf

    def test_or_branches_agreeing_fold(self):
        dnf = [
            [Filter("implant_id", "=", 1), Filter("value", ">", 1)],
            [Filter("implant_id", "=", 1), Filter("value", "<", 0)],
        ]
        uri, _, residual, _ = self.tbl().build_uri_from_filters(dnf)
        assert uri == "/data/t/implant_id=1/"
        assert residual == [
            [Filter("value", ">", 1)],
            [Filter("value", "<", 0)],
        ]

    def test_emptied_branch_means_true(self):
        dnf = [
            [Filter("implant_id", "=", 1)],
            [Filter("implant_id", "=", 1), Filter("value", ">", 1)],
        ]
        uri, _, residual, _ = self.tbl().build_uri_from_filters(dnf)
        assert uri == "/data/t/implant_id=1/"
        assert residual == []  # one branch became TRUE → whole OR is TRUE

    def test_unknown_filter_column_raises_with_schema(self, spark, tmp_path):
        base = str(tmp_path / "s")
        write_partitioned_fixture(
            ROWS, SCHEMA, base, ["implant_id", "date"], PartitioningScheme.HIVE
        )
        t = ParquetTable(
            "t",
            base,
            partitioning=PARTITIONING,
            schema=DATA_SCHEMA,
        )
        with pytest.raises(ValueError, match="Unknown filter column"):
            t(filters=[Filter("nope", "=", 1)], spark=spark)
