"""The two ways a partitioned Delta read gets its partition columns.

When every kept file lies in Hive-style directories that spell its
``partitionValues`` (``delta_table._hive_layout``), Spark's partition
discovery parses them. Any other layout restores them from the log with
a broadcast join on each row's file path. Each case here reads once on
the path the table takes and once with the layout check forced to
``False`` (the join path); both must return the same rows from the same
files. Hand-written logs whose directories disagree with the log must
read the log's values.
"""

import datetime as dt
import decimal
import json
import os
from urllib.parse import quote

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datarepo_spark.core.exec import local_frame
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables import delta_table
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import compact, delete_delta, write_delta


def rows_of(df):
    """Sorted row reprs: NaN equals NaN, and -0.0 differs from 0.0."""
    return sorted(repr(tuple(r)) for r in df.collect())


def both_paths(spark, uri, monkeypatch, **kw):
    """(rows, input files) read on the path the table takes, then on the
    join path."""
    out = []
    for forced in (False, True):
        with monkeypatch.context() as m:
            if forced:
                m.setattr(delta_table, "_hive_layout", lambda *a: False)
            df = DeltalakeTable("t", uri)(spark=spark, **kw)
            out.append((rows_of(df), sorted(df.inputFiles())))
    return out


def takes_hive_path(uri, version=None) -> bool:
    snapshot = DeltaLog(uri).snapshot(version)
    return delta_table._hive_layout(snapshot, snapshot.files)


STRINGS = ["x/y=z%+:é#", "b c", "", None, "plain"]
DOUBLES = [float("nan"), -0.0, 1e20, 1.5, None]


@pytest.fixture(scope="module")
def two_level(spark, tmp_path_factory):
    """Partitioned by ``s`` (string) then ``x`` (double), one row per
    (s, x) pair; version 1 appends a second row to two partitions."""
    uri = str(tmp_path_factory.mktemp("two_level") / "t")
    rows = [
        (s, x, i * len(DOUBLES) + j)
        for i, s in enumerate(STRINGS)
        for j, x in enumerate(DOUBLES)
    ]
    schema = "s string, x double, v int"
    write_delta(local_frame(spark, rows, schema), uri, partition_by=["s", "x"])
    more = [("b c", 1.5, 100), ("x/y=z%+:é#", float("nan"), 101)]
    write_delta(local_frame(spark, more, schema), uri)
    return uri


TWO_LEVEL_READS = {
    "all": {},
    "string_eq": {"filters": [Filter("s", "=", "x/y=z%+:é#")]},
    "string_in": {"filters": [Filter("s", "in", ["b c", "plain", None])]},
    "double_in": {"filters": [Filter("x", "in", [-0.0, 1e20])]},
    "double_range": {"filters": [Filter("x", ">", 0.0)]},
    "or_range": {
        "filters": [
            [Filter("s", "=", "b c"), Filter("x", "<=", 1.5)],
            [Filter("v", ">=", 20)],
        ]
    },
    "version": {"version": 0, "filters": [Filter("s", "!=", "plain")]},
}


@pytest.mark.parametrize("case", list(TWO_LEVEL_READS))
def test_two_level_partitions_read_alike_on_both_paths(
    spark, two_level, monkeypatch, case
):
    kw = TWO_LEVEL_READS[case]
    assert takes_hive_path(two_level, kw.get("version"))
    (hive, hive_files), (joined, joined_files) = both_paths(
        spark, two_level, monkeypatch, **kw
    )
    assert hive == joined
    assert hive_files == joined_files
    if case == "all":
        assert len(hive) == len(STRINGS) * len(DOUBLES) + 2
        # the writer files "" under the default directory with a null
        # partition value, so it reads back as null on both paths
        assert sum(r.startswith("(None,") for r in hive) == 2 * len(DOUBLES)


def test_deletion_vectors_on_a_hive_layout(spark, tmp_path, monkeypatch):
    """A DV read keys each row's file with ``__delta_rel``, which the
    Hive path builds from ``_metadata.file_path`` alone."""
    uri = str(tmp_path / "t")
    rows = [(s, x, i) for i, (s, x) in enumerate(zip(STRINGS, DOUBLES))] * 3
    write_delta(
        local_frame(spark, rows, "s string, x double, v int"),
        uri, partition_by=["s", "x"],
    )
    delete_delta(spark, uri, [Filter("v", "in", [0, 2])])
    assert takes_hive_path(uri)
    (hive, _), (joined, _) = both_paths(spark, uri, monkeypatch)
    assert hive == joined
    assert len(hive) == 9


# -- hand-written logs --------------------------------------------------------


def hand_written(root, fields, partition_columns, files):
    """A one-commit Delta table: ``fields`` is the schema as (name, type
    JSON) pairs, ``files`` (directory, partitionValues, v) triples; each
    file holds one row with ``v`` in its data column."""
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in fields
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "hand-written",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": partition_columns,
                "configuration": {},
            }
        },
    ]
    for i, (directory, values, v) in enumerate(files):
        rel = f"{directory}/part-{i}.parquet"
        os.makedirs(os.path.join(root, directory), exist_ok=True)
        pq.write_table(
            pa.table({"v": pa.array([v], pa.int64())}),
            os.path.join(root, rel),
        )
        actions.append(
            {
                "add": {
                    "path": quote(rel, safe="/="),
                    "partitionValues": values,
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in actions))


# id: (partition column, its type JSON, [(directory value, partitionValue,
# the value the read must return)])
DISAGREEING = {
    # the directory names the other partition's value
    "swapped_int": (
        "p", "integer", [("1", "2", 2), ("2", "1", 1), ("3", "3", 3)],
    ),
    # "" filed under the default directory, next to a real null
    "empty_string_default_dir": (
        "s", "string",
        [("__HIVE_DEFAULT_PARTITION__", "", ""),
         ("__HIVE_DEFAULT_PARTITION__", None, None), ("a", "a", "a")],
    ),
    # another writer's scale: Spark would read 1.5 as 0.015
    "decimal_short_scale": (
        "m", "decimal(8,3)",
        [("1.5", "1.5", decimal.Decimal("1.500")),
         ("2.000", "2.000", decimal.Decimal("2.000"))],
    ),
    # another writer's infinity, which Spark's parser rejects
    "double_inf": (
        "x", "double", [("inf", "inf", float("inf")), ("2.5", "2.5", 2.5)],
    ),
    # %C3%A9 unescapes to two characters in Spark, not to é
    "utf8_escape": (
        "s", "string", [("%C3%A9", "é", "é"), ("b", "b", "b")],
    ),
}


@pytest.mark.parametrize("case", list(DISAGREEING))
def test_directories_that_disagree_with_the_log_read_the_log(
    spark, tmp_path, case
):
    col, typ, entries = DISAGREEING[case]
    uri = str(tmp_path / "t")
    hand_written(
        uri, [("v", "long"), (col, typ)], [col],
        [(f"{col}={d}", {col: pv}, i) for i, (d, pv, _) in enumerate(entries)],
    )
    assert not takes_hive_path(uri)
    df = DeltalakeTable("t", uri)(spark=spark)
    got = {r.v: r[col] for r in df.collect()}
    assert got == {i: want for i, (_, _, want) in enumerate(entries)}


def test_a_conforming_hand_written_log_takes_the_hive_path(spark, tmp_path):
    uri = str(tmp_path / "t")
    hand_written(
        uri, [("v", "long"), ("p", "integer"), ("s", "string")], ["p", "s"],
        [("p=1/s=a%3Ab", {"p": "1", "s": "a:b"}, 0),
         ("p=-2/s=__HIVE_DEFAULT_PARTITION__", {"p": "-2", "s": None}, 1)],
    )
    assert takes_hive_path(uri)
    df = DeltalakeTable("t", uri)(spark=spark)
    assert "BroadcastExchange" not in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(map(tuple, df.select("v", "p", "s").collect())) == [
        (0, 1, "a:b"), (1, -2, None)
    ]


# -- string literals against typed partition columns ----------------------------


LITERAL_CASES = {
    "date": ("d", "2024-01-01", "2024-01-02"),
    "int": ("r", "3", "4"),
    "string_column_int_literal": ("n", 7, 8),
    "date_column_datetime_literal": (
        "d", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    ),
    "decimal_column_float_literal": ("m", 0.1, 0.2),
}


@pytest.mark.parametrize("case", list(LITERAL_CASES))
def test_a_literal_of_another_type_prunes_no_file_spark_keeps(
    spark, tmp_path, case
):
    """Spark casts ``d = '2024-01-01'`` and returns the row; the file
    prune must not drop it, for reads and for ``delete_delta``."""
    col, hit, other = LITERAL_CASES[case]
    uri = str(tmp_path / "t")
    cents = [decimal.Decimal("0.10"), decimal.Decimal("0.20")]
    df = local_frame(
        spark,
        [(dt.date(2024, 1, 1), 3, "7", cents[0], 0),
         (dt.date(2024, 1, 2), 4, "8", cents[1], 1)],
        "d date, r int, n string, m decimal(4,2), v int",
    )
    write_delta(df, uri, partition_by=[col])
    table = DeltalakeTable("t", uri)
    for flt in (Filter(col, "=", hit), Filter(col, "in", [hit, other])):
        want = [0] if flt.operator == "=" else [0, 1]
        got = [r.v for r in table(filters=[flt], spark=spark).collect()]
        assert sorted(got) == want, flt
    delete_delta(spark, uri, [Filter(col, "=", hit)])
    assert [r.v for r in table(spark=spark).collect()] == [1]


def test_nan_partitions_compare_as_spark_compares_them(spark, tmp_path):
    """Spark reads ``x = NaN`` as true for a NaN ``x``, and NaN above
    +inf; the file prune must keep the NaN partition for ``=``, ``in``
    and ``>``, and ``delete_delta`` must delete it."""
    uri = str(tmp_path / "t")
    rows = [(float("nan"), 0), (1.5, 1), (float("inf"), 2)]
    write_delta(local_frame(spark, rows, "x double, v int"), uri,
                partition_by=["x"])
    table = DeltalakeTable("t", uri)
    for flt, want in (
        (Filter("x", "=", float("nan")), [0]),
        (Filter("x", "in", [float("nan"), 1.5]), [0, 1]),
        (Filter("x", ">", 2.0), [0, 2]),
        (Filter("x", "<", float("nan")), [1, 2]),
    ):
        got = [r.v for r in table(filters=[flt], spark=spark).collect()]
        assert sorted(got) == want, flt
    delete_delta(spark, uri, [Filter("x", "=", float("nan"))])
    assert sorted(r.v for r in table(spark=spark).collect()) == [1, 2]


def test_compact_where_a_date_string_scopes_to_its_partition(spark, tmp_path):
    """``compact(where=)`` has no row filter after it, so a file the
    prune keeps is rewritten: a date string must name one partition, as
    the ``date`` literal does."""
    uri = str(tmp_path / "t")
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(3)]
    for batch in range(2):
        rows = [(d, batch) for d in days]
        write_delta(local_frame(spark, rows, "d date, v int"), uri,
                    partition_by=["d"])
    assert len(DeltaLog(uri).snapshot().files) == 6
    stats = compact(spark, uri, where=[Filter("d", "=", "2024-01-01")])
    assert stats["files_removed"] == 2
    files = DeltaLog(uri).snapshot().files
    assert sorted(f.partition_values["d"] for f in files) == [
        "2024-01-01", "2024-01-02", "2024-01-02", "2024-01-03", "2024-01-03"
    ]
