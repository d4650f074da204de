"""MERGE prunes its target scan to the files its source keys can be in.

``merge_delta`` collects the source's distinct keys (up to
``MERGE_KEY_PRUNE_MAX``) and hands them to the read path's partition and
stats pruning as one ``in`` filter per key column. Above the bound it
scans the whole table. Both paths must leave the same table and rewrite
the same files; the pruned one must open only the files that can hold a
key and run no many-task file-listing job. The cases on partitioned
tables run twice: with the partition columns from Spark's partition
discovery and from the join on file paths.
"""

import datetime as dt
import decimal
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datarepo_spark.core.exec import local_frame
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables import delta_table, delta_writer
from datarepo_spark.tables.delta_log import DeltaLog, invalidate_snapshot_cache
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    delete_delta,
    enable_column_mapping,
    merge_delta,
    write_delta,
)


@contextmanager
def process_tz(name):
    """Switch the Python process's local time zone (what a collected
    ``timestamp`` value is converted to); the JVM's is untouched."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def table_rows(spark, uri):
    df = DeltalakeTable("t", uri)(spark=spark)
    cols = sorted(df.columns)
    return sorted(
        (tuple(r) for r in df.select([F.col(c).cast("string") for c in cols])
         .collect()),
        key=repr,
    )


DAYS = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(20)]
NAMES = [f"name-{i:02d}" for i in range(18)] + ["zeta", "ñandú"]
MONEY = [decimal.Decimal(f"{i}.25") for i in range(20)]
WALL = [dt.datetime(2024, 1, 1, 12) + dt.timedelta(hours=i) for i in range(20)]


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """Shared target tables, copied per case: ``ints`` (k long with a
    NULL-key row, v string; 4 files clustered on k) and ``typed`` (d
    date, s string, m decimal, n timestamp_ntz, v int; 4 files clustered
    on all four)."""
    root = tmp_path_factory.mktemp("bases")
    ints = [(None, "old-null")] + [(k, f"old-{k}") for k in range(40)]
    write_delta(
        local_frame(spark, ints, "k long, v string")
        .repartitionByRange(4, "k"),
        str(root / "ints"),
    )
    typed = [typed_row(i, i) for i in range(20)]
    write_delta(
        local_frame(spark, typed, TYPED).repartitionByRange(4, "d"),
        str(root / "typed"),
    )
    return root


KV = "k long, v string"
TYPED = "d date, s string, m decimal(10,2), n timestamp_ntz, v int"


def partitioned(spark, uri):
    # p in {0.5, 1.5, NaN}: the join matches NaN to NaN, a set lookup
    # of a collected NaN does not
    df = spark.range(30).selectExpr(
        "IF(id % 3 = 2, DOUBLE('NaN'), id % 3 + 0.5) AS p", "id AS v"
    )
    write_delta(df, uri, partition_by=["p"])


def by_timestamp(spark, uri):
    # Partitioned by a timestamp. 08:30 and 09:30 UTC on 2020-11-01 are
    # the two instants of Los Angeles' fall-back hour (01:30 there); the
    # other values spell, in the session zone (UTC), wall times that are
    # ambiguous (2020-11-01 01:30) or missing (2020-03-08 02:30) in Los
    # Angeles.
    ts = ["2020-11-01 00:30:00", "2020-11-01 01:30:00", "2020-03-08 02:30:00",
          "2020-11-01 08:30:00", "2020-11-01 09:30:00"]
    df = local_frame(
        spark, [(t, i) for i, t in enumerate(ts)], "t string, v int"
    ).selectExpr("CAST(t AS TIMESTAMP) AS t", "v")
    write_delta(df, uri, partition_by=["t"])


def int_partitions(spark, uri):
    # p in {0, 1, 2}, an int: a double source key is compared with it as
    # a double
    df = spark.range(30).selectExpr("CAST(id % 3 AS INT) AS p", "id AS v")
    write_delta(df, uri, partition_by=["p"])


STRING_PARTS = ["x/y=z%+:é#", "b c", "plain", None]


def string_partitions(spark, uri):
    # Partitioned by a string whose directories are Hive-escaped ("/",
    # "=", "%", ":", "#"), hold a space or are the default directory.
    rows = [(STRING_PARTS[k % 4], k, f"old-{k}") for k in range(12)]
    df = local_frame(spark, rows, "s string, k long, v string")
    write_delta(df, uri, partition_by=["s"])


def timestamp_source(spark, uri):
    """Source keys: the instants the table's rows read as, both instants
    of the fall-back hour, and a new one (carried as epoch micros). A
    collected naive local datetime does not round-trip them, so a
    pruning test built from one would drop files the join matches."""
    read = DeltalakeTable("t", uri)(spark=spark).selectExpr("unix_micros(t)")
    fall_back = [1604219400000000, 1604223000000000]  # 08:30, 09:30 UTC
    keys = {r[0] for r in read.collect()} | set(fall_back)
    rows = [(k, -i) for i, k in enumerate(sorted(keys) + [0])]
    return local_frame(spark, rows, "t long, v int").selectExpr(
        "timestamp_micros(t) AS t", "v"
    )


def restate_stats(uri, column, render):
    """Rewrite ``column``'s bounds in every add action the way another
    writer states them: ``render`` maps a file's true min or max to the
    JSON value written."""
    log = os.path.join(uri, "_delta_log")
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name)) as fh:
            actions = [json.loads(line) for line in fh]
        for action in actions:
            add = action.get("add")
            if not add:
                continue
            values = pq.read_table(
                os.path.join(uri, unquote(add["path"])), columns=[column]
            ).column(column)
            stats = json.loads(add["stats"])
            stats["minValues"][column] = render(pc.min(values).as_py())
            stats["maxValues"][column] = render(pc.max(values).as_py())
            add["stats"] = json.dumps(stats)
        with open(os.path.join(log, name), "w") as fh:
            fh.write("".join(json.dumps(a) + "\n" for a in actions))
    invalidate_snapshot_cache(uri)


TENTHS = [decimal.Decimal(i) / 10 for i in range(1, 21)]


def decimal_numbers(spark, uri):
    # m = 0.1 .. 2.0 in 4 files, with m's bounds as JSON numbers (as
    # delta-spark and delta-rs write them): 0.1, 1.1 and 1.6 parse to
    # floats just above the file's true min
    rows = [(m, i) for i, m in enumerate(TENTHS)]
    df = local_frame(spark, rows, "m decimal(10,2), v int")
    write_delta(df.repartitionByRange(4, "m"), uri)
    restate_stats(uri, "m", float)


SUB_MS = [
    dt.datetime(2024, 1, 1, 12, 0, 0, 700) + dt.timedelta(hours=i)
    for i in range(20)
]


def ntz_ms_stats(spark, uri):
    # n on a sub-millisecond instant in 4 files, with n's bounds
    # truncated to the millisecond (as delta-spark writes them)
    rows = [(n, i) for i, n in enumerate(SUB_MS)]
    df = local_frame(spark, rows, "n timestamp_ntz, v int")
    write_delta(df.repartitionByRange(4, "n"), uri)
    restate_stats(uri, "n", lambda v: v.isoformat(timespec="milliseconds"))


FLOATS = [0.1, 0.3, 2.5, 7.0]


def float_parts(spark, uri):
    # p float partitions (Spark reads "0.1" as 0.1f = 0.10000000149...)
    # holding f float values 0.1 and 0.3, with f's bounds as their
    # shortest text, as delta-spark writes them (0.3 for 0.3f, a double
    # below the true max)
    rows = [(p, f, i) for i, (p, f) in enumerate(
        (p, f) for p in FLOATS for f in FLOATS[:2]
    )]
    df = local_frame(spark, rows, "p float, f float, v int")
    write_delta(df, uri, partition_by=["p"])
    restate_stats(uri, "f", lambda v: float(str(np.float32(v))))


def binary_keys(spark, uri):
    rows = [(bytes([k]), f"old-{k}") for k in range(12)] + [(None, "old-null")]
    df = local_frame(spark, rows, "k binary, v string")
    write_delta(df.repartitionByRange(4, "v"), uri)


def array_keys(spark, uri):
    rows = [([k, k + 1], f"old-{k}") for k in range(12)]
    rows += [([], "old-empty"), ([None], "old-null-element"), (None, "old-null")]
    df = local_frame(spark, rows, "k array<int>, v string")
    write_delta(df.repartitionByRange(4, "v"), uri)


def with_dvs(spark, uri):
    delete_delta(spark, uri, [Filter("k", "in", [4, 6, 30])])


def mapped(spark, uri):
    enable_column_mapping(uri)


def typed_row(i, v, **replace):
    """Row ``i`` of the ``typed`` table with ``v`` and any column
    replaced."""
    row = {"d": DAYS[i], "s": NAMES[i], "m": MONEY[i], "n": WALL[i], "v": v}
    row.update(replace)
    return tuple(row.values())


# id: (base table name or a function writing the table, preparation,
# source rows and DDL or a function returning the source, kwargs)
CASES = {
    "upsert": ("ints", None, [(5, "n5"), (7, "n7"), (90, "n90")], KV, {}),
    "delete": (
        "ints", None, [(5, "x"), (25, "x"), (99, "x")], KV,
        {"when_matched": "delete", "when_not_matched": None},
    ),
    "insert_only": (
        "ints", None, [(5, "x"), (41, "n41")], KV, {"when_matched": None},
    ),
    "null_keys": (
        "ints", None, [(None, "n-null"), (3, "n3"), (50, "n50")], KV, {},
    ),
    "all_null_key_column": (
        "ints", None, [(None, "a"), (None, "b")], KV,
        {"when_matched": "delete"},
    ),
    "composite_key": (
        "typed", None,
        [typed_row(3, -1), typed_row(3, -2, d=DAYS[4])],
        TYPED, {"on": ["d", "s", "n"]},
    ),
    "partition_key": (
        partitioned, None, [(1.5, -1), (float("nan"), -2), (7.5, -7)],
        "p double, v long",
        {"on": ["p"]},
    ),
    "column_mapping": (
        "ints", mapped, [(5, "n5"), (33, "n33"), (70, "n70")], KV, {},
    ),
    "deletion_vectors": (
        "ints", with_dvs, [(4, "n4"), (5, "n5"), (31, "n31")], KV, {},
    ),
    "date_key": (
        "typed", None,
        [typed_row(3, -1), typed_row(0, -2, d=dt.date(2030, 1, 1))], TYPED,
        {"on": ["d"]},
    ),
    "string_key": (
        "typed", None,
        [typed_row(4, -1), typed_row(19, -2), typed_row(0, -3, s="new")],
        TYPED, {"on": ["s"]},
    ),
    "decimal_key": (
        "typed", None,
        [typed_row(3, -1), typed_row(0, -2, m=decimal.Decimal("99.50"))],
        TYPED, {"on": ["m"]},
    ),
    "decimal_stats_as_numbers": (
        decimal_numbers, None,
        [(TENTHS[0], -1), (TENTHS[10], -2), (TENTHS[15], -3),
         (decimal.Decimal("9.99"), -4)],
        "m decimal(10,2), v int", {"on": ["m"]},
    ),
    "timestamp_ntz_ms_stats": (
        ntz_ms_stats, None,
        [(SUB_MS[4], -1), (SUB_MS[9], -2), (dt.datetime(2030, 1, 1), -3)],
        "n timestamp_ntz, v int", {"on": ["n"]},
    ),
    "timestamp_key": (
        by_timestamp, None, timestamp_source, None, {"on": ["t"]},
    ),
    "int_keys_long_column": (
        "ints", None, [(5, "n5"), (7, "n7"), (90, "n90")], "k int, v string",
        {},
    ),
    "double_keys_int_partition": (
        int_partitions, None, [(1.0, -1), (7.0, -7)], "p double, v long",
        {"on": ["p"], "when_matched": "delete", "when_not_matched": None},
    ),
    "string_partition": (
        string_partitions, None,
        [("x/y=z%+:é#", 4, "n4"), ("b c", 5, "n5"), (None, 3, "n3"),
         ("new dir=", 99, "n99")],
        "s string, k long, v string", {"on": ["s", "k"]},
    ),
    "float_key": (
        float_parts, None, [(0.1, 0.3, -1), (2.5, 0.3, -2), (7.0, 9.5, -3)],
        "p float, f float, v int", {"on": ["p", "f"]},
    ),
    "binary_key": (
        binary_keys, None,
        [(bytes([3]), "n3"), (bytes([11]), "n11"), (b"new", "n-new"),
         (None, "n-null")],
        "k binary, v string", {},
    ),
    "array_key": (
        array_keys, None,
        [([3, 4], "n3"), ([], "n-empty"), ([None], "n-null-element"),
         ([99], "n99")],
        "k array<int>, v string", {},
    ),
}
# the cases whose table is partitioned, so its reads can take either
# path (delta_table._hive_layout)
PARTITIONED = [
    "partition_key", "timestamp_key", "double_keys_int_partition",
    "string_partition", "float_key",
]


@pytest.mark.parametrize("case", list(CASES))
def test_pruned_merge_equals_the_whole_table_merge(
    spark, bases, tmp_path, monkeypatch, case
):
    check_pruned_merge(spark, bases, tmp_path, monkeypatch, case)


@pytest.mark.parametrize("case", PARTITIONED)
def test_pruned_merge_equals_the_whole_table_merge_on_the_join_path(
    spark, bases, tmp_path, monkeypatch, case
):
    """The partitioned cases with every read restoring the partition
    columns by the join on file paths."""
    monkeypatch.setattr(delta_table, "_hive_layout", lambda *a: False)
    check_pruned_merge(spark, bases, tmp_path, monkeypatch, case)


def check_pruned_merge(spark, bases, tmp_path, monkeypatch, case):
    base, prepare, rows, ddl, kw = CASES[case]
    tz = "America/Los_Angeles" if case == "timestamp_key" else "UTC"
    with process_tz(tz):
        pruned, whole = str(tmp_path / "pruned"), str(tmp_path / "whole")
        if callable(base):
            base(spark, pruned)
        else:
            shutil.copytree(bases / base, pruned)
        if prepare is not None:
            prepare(spark, pruned)
        shutil.copytree(pruned, whole)
        if callable(rows):
            src = rows(spark, pruned)
        else:
            src = local_frame(spark, rows, ddl)
        kw = {"on": ["k"], **kw}
        got = merge_delta(spark, pruned, src, **kw)
        monkeypatch.setattr(delta_writer, "MERGE_KEY_PRUNE_MAX", 0)
        want = merge_delta(spark, whole, src, **kw)
        assert got["files_rewritten"] == want["files_rewritten"]
        assert table_rows(spark, pruned) == table_rows(spark, whole)


# -- a key column named "count" --------------------------------------------


@pytest.mark.parametrize("key_max", [None, 0], ids=["pruned", "whole"])
def test_merge_on_a_column_named_count(spark, tmp_path, monkeypatch, key_max):
    if key_max is not None:
        monkeypatch.setattr(delta_writer, "MERGE_KEY_PRUNE_MAX", key_max)
    uri = str(tmp_path / "t")
    write_delta(
        spark.range(10).selectExpr("id AS count", "id AS v").coalesce(1), uri
    )
    src = local_frame(spark, [(3, -3), (20, -20)], "count long, v long")
    merge_delta(spark, uri, src, on=["count"])
    got = dict(
        DeltalakeTable("t", uri)(spark=spark).select("count", "v").collect()
    )
    assert got == {**{k: k for k in range(10)}, 3: -3, 20: -20}
    # past the bound the collect holds one key: it must be the repeated one
    dup = local_frame(
        spark, [(1, 1), (2, 2), (4, 1), (4, 2), (5, 5), (6, 6)],
        "count long, v long",
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_delta(spark, uri, dup, on=["count"])


# -- keys Spark groups as one -------------------------------------------------

NAN = float("nan")


@pytest.mark.parametrize("key_max", [None, 0], ids=["collected", "whole"])
@pytest.mark.parametrize(
    "ddl, keys",
    [
        ("k double", [0.0, -0.0]),
        ("k double", [NAN, NAN]),
        ("k array<double>", [[NAN, 0.0], [NAN, -0.0]]),
        ("k struct<a: double, b: string>", [(-0.0, None), (0.0, None)]),
    ],
    ids=["signed_zeros", "nans", "array", "struct"],
)
def test_keys_spark_groups_as_one_are_duplicates(
    spark, tmp_path, monkeypatch, key_max, ddl, keys
):
    """An update source whose keys Spark's ``groupBy`` puts in one group
    (NaN with NaN, -0.0 with 0.0, nested values by value) has duplicate
    keys, whether the check runs on the collected keys or in Spark."""
    if key_max is not None:
        monkeypatch.setattr(delta_writer, "MERGE_KEY_PRUNE_MAX", key_max)
    uri = str(tmp_path / "t")
    write_delta(local_frame(spark, [(keys[0], 0)], f"{ddl}, v long"), uri)
    src = local_frame(spark, [(k, i) for i, k in enumerate(keys)], f"{ddl}, v long")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_delta(spark, uri, src, on=["k"])


# -- source rows in the table's types ----------------------------------------


def test_merge_writes_source_rows_in_the_table_types(spark, bases, tmp_path):
    """``int`` source rows merged into a ``long`` column are written as
    ``long``, also when no target row is rewritten with them."""
    uri = str(tmp_path / "t")
    shutil.copytree(bases / "ints", uri)
    src = local_frame(spark, [(90, "n90"), (91, "n91")], "k int, v string")
    merge_delta(spark, uri, src, on=["k"])
    for add in DeltaLog(uri).snapshot().files:
        schema = pq.read_schema(os.path.join(uri, unquote(add.path)))
        assert schema.field("k").type == pa.int64(), add.path


def test_a_source_type_spark_cannot_up_cast_is_refused_before_any_job(
    spark, tmp_path
):
    """A ``double`` key 7.0 merged into a table partitioned by ``p int``
    raises, names the column and runs no job; the table stays readable."""
    uri = str(tmp_path / "t")
    int_partitions(spark, uri)
    before = table_rows(spark, uri)
    src = local_frame(spark, [(1.0, -1), (7.0, -7)], "p double, v long")

    def refused():
        with pytest.raises(ValueError, match="'p'.*table has int, source has double"):
            merge_delta(spark, uri, src, on=["p"])

    assert _group_jobs(spark, "merge-refused-pin", refused) == []
    assert table_rows(spark, uri) == before
    # a delete writes no source row, so it is not refused
    merge_delta(
        spark, uri, src, on=["p"], when_matched="delete", when_not_matched=None
    )
    assert len(table_rows(spark, uri)) == 20


# -- what the pruned merge runs ----------------------------------------------


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """A 400-row table range-clustered on ``k`` into 40 files."""
    uri = str(tmp_path_factory.mktemp("clustered") / "t")
    df = spark.range(400).selectExpr("id AS k", "id * 2 AS v")
    write_delta(df.repartitionByRange(40, "k"), uri)
    return uri


def _group_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; the task count of each job
    it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    # Past spark.ui.retainedStages the tracker drops skipped stages
    # first (they have no completion time); a skipped stage ran no task.
    stages = [
        [tracker.getStageInfo(s) for s in job.stageIds] for job in jobs
    ]
    return [sum(s.numTasks for s in job if s is not None) for job in stages]


def test_merge_scans_only_the_key_files_and_lists_nothing(
    spark, clustered, tmp_path, monkeypatch
):
    uri = str(tmp_path / "t")
    shutil.copytree(clustered, uri)
    scans = []
    real = DeltalakeTable._read_from_log

    def spy(self, *args, **kwargs):
        df = real(self, *args, **kwargs)
        scans.append(df)
        return df

    monkeypatch.setattr(DeltalakeTable, "_read_from_log", spy)
    # keys 101..104 sit in the one file holding 100..109
    src = spark.range(101, 105).selectExpr("id AS k", "-id AS v")
    tasks = _group_jobs(
        spark, "merge-prune-pin",
        lambda: merge_delta(spark, uri, src, on=["k"]),
    )
    assert len(scans) == 1 and len(scans[0].inputFiles()) <= 2
    assert tasks and max(tasks) <= 32, tasks


def test_keys_of_another_type_prune_the_target_scan(spark, tmp_path, monkeypatch):
    """``double`` source keys meet an ``int`` partition column as the
    join compares them: the merge opens only the key's partition."""
    uri = str(tmp_path / "t")
    int_partitions(spark, uri)
    files = DeltaLog(uri).snapshot().files
    want = [f for f in files if f.partition_values["p"] == "1"]
    scans = []
    real = DeltalakeTable._read_from_log

    def spy(self, *args, **kwargs):
        df = real(self, *args, **kwargs)
        scans.append(df)
        return df

    monkeypatch.setattr(DeltalakeTable, "_read_from_log", spy)
    src = local_frame(spark, [(1.0, -1)], "p double, v long")
    # a delete: an update would write a double into the int column
    merge_delta(
        spark, uri, src, on=["p"], when_matched="delete", when_not_matched=None
    )
    assert len(scans[0].inputFiles()) == len(want) < len(files)


def test_noop_merge_runs_no_job(spark, clustered):
    src = spark.range(5).selectExpr("id AS k", "id AS v")
    tasks = _group_jobs(
        spark, "merge-noop-pin",
        lambda: merge_delta(
            spark, clustered, src, on=["k"],
            when_matched=None, when_not_matched=None,
        ),
    )
    assert tasks == []


def _plans_after(spark, execution_id):
    """The physical plan descriptions of the SQL executions after
    ``execution_id``, oldest first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in reversed(range(executions.size())):
        execution = executions.apply(i)
        if execution.executionId() <= execution_id:
            break
        plans.append(execution.physicalPlanDescription())
    return plans[::-1]


def _last_execution_id(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    size = executions.size()
    return executions.apply(size - 1).executionId() if size else -1


def _final_tree(plan):
    """The tree of a formatted physical plan; with AQE, its final plan."""
    return plan.split("\n\n\n")[0].split("== Initial Plan ==")[0]


def _scanned(plan):
    """The ``Location`` of every file scan in ``plan``'s final tree."""
    return [
        re.search(rf"^\({i}\) Scan .*?^Location: (.*?)$", plan, re.M | re.S)[1]
        for i in re.findall(r"Scan \w+ +\((\d+)\)", _final_tree(plan))
    ]


def test_an_upsert_reads_its_source_keys_once(spark, clustered, tmp_path):
    """Under the bound an upsert runs at most 6 jobs. Its touched-file
    query and its write query take their key side from the collected
    keys (a ``LocalTableScan``): only the write reads the source, once."""
    uri = str(tmp_path / "t")
    shutil.copytree(clustered, uri)
    source_dir = str(tmp_path / "source")
    spark.range(101, 105).selectExpr("id AS k", "-id AS v").write.parquet(source_dir)
    src = spark.read.parquet(source_dir)
    last = _last_execution_id(spark)
    tasks = _group_jobs(
        spark, "merge-keys-once-pin", lambda: merge_delta(spark, uri, src, on=["k"])
    )
    assert len(tasks) <= 6, tasks
    plans = _plans_after(spark, last)
    touched = [p for p in plans if "LeftSemi" in p]
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(touched) == len(writes) == 1, plans
    for plan, source_scans in ((touched[0], 0), (writes[0], 1)):
        assert "LocalTableScan" in _final_tree(plan), plan
        scans = [s for s in _scanned(plan) if source_dir in s]
        assert len(scans) == source_scans, plan
