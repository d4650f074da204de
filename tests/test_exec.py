"""The single points of the execution layer: one query-registration
point (datarepo_spark/queries/__init__.py), the Hadoop-FileSystem
stream-trigger probe, the one place driver-side rows become frames
(core.exec.local_frame) and the Delta partition values they carry, and
the one environment variable the package reads."""

import datetime as dt
import decimal
import glob
import json
import os
import re
import subprocess
import sys
import time
import zoneinfo
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datarepo_spark.core.exec import local_frame
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables import delta_table
from datarepo_spark.tables.clone import clone_delta
from datarepo_spark.tables.delta_log import cast_partition_value, session_zone
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import delete_delta, write_delta
from datarepo_spark.tables.normalize import empty_normalized_df

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_MODULES = [
    "registry",
    "extensions",
    "tpch_extra",
    "delta_queries",
    "physical",
    "sources",
    "analysis",
    "insights",
    "ranked",
]


def test_registry_import_registers_every_query_in_module_order():
    """Importing the registry module alone must register every
    ``@register("…")`` name in the package, module by module in the
    package's import order (REGISTRY's insertion order is the order of
    ``__spark_entry__.queries()``). Runs in a fresh interpreter so no other test's
    imports can register anything first."""
    scanned = set()
    for path in glob.glob(os.path.join(ROOT, "datarepo_spark/queries/*.py")):
        with open(path) as fh:
            scanned |= set(re.findall(r'@register\(\s*"([^"]+)"', fh.read()))
    probe = (
        "import json\n"
        "import datarepo_spark.queries.registry as r\n"
        "mods = []\n"
        "for q in r.REGISTRY.values():\n"
        "    m = q.spark_fn.__module__.rsplit('.', 1)[-1]\n"
        "    if m not in mods:\n"
        "        mods.append(m)\n"
        "print(json.dumps([list(r.REGISTRY), mods]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    names, mods = json.loads(out.strip().splitlines()[-1])
    assert set(names) == scanned
    assert mods == QUERY_MODULES


def test_stream_trigger_probe_reads_uris_like_paths(spark, tmp_path):
    from datarepo_spark.queries.sources import _largest_file_bytes

    (tmp_path / "a.json").write_bytes(b"x" * 10)
    (tmp_path / "b.json").write_bytes(b"x" * 25)
    (tmp_path / "sub").mkdir()
    bare = str(tmp_path)
    assert _largest_file_bytes(spark, bare) == 25
    assert _largest_file_bytes(spark, "file://" + bare) == 25
    assert _largest_file_bytes(spark, str(tmp_path / "missing")) == 0


# -- local_frame -----------------------------------------------------------

TZS = ["UTC", "America/Los_Angeles"]


@contextmanager
def process_tz(name):
    """Switch the Python process's local time zone (what a naive
    ``datetime`` in a ``timestamp`` field is read in); the JVM's is
    untouched."""
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


@contextmanager
def session_tz(spark, name):
    """Set ``spark.sql.session.timeZone`` for the block."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, name)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def list_path(spark, rows, schema):
    """The pickled-Python-RDD build every site used before local_frame."""
    return spark.createDataFrame(rows, schema)


def rows_of(df):
    return sorted(map(tuple, df.collect()), key=repr)


EVERY_TYPE = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType(), False),
        T.StructField("s", T.ShortType()),
        T.StructField("b", T.ByteType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("bo", T.BooleanType()),
        T.StructField("st", T.StringType()),
        T.StructField("da", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.StringType())),
    ]
)
EVERY_TYPE_ROWS = [
    (
        2**31 - 1, 2**40, -(2**15), 127, 1.5, 0.1, decimal.Decimal("1.235"),
        True, "x", dt.date(2024, 2, 29),
        dt.datetime(2024, 3, 10, 2, 30, 1, 5),  # in Los Angeles' DST gap
        dt.datetime(2024, 3, 10, 2, 30), ["a", None],
    ),
    (
        -7, -1, 3, -128, -0.0, 3.4e38, decimal.Decimal("-99999999.99"),
        False, "", dt.date(1969, 12, 31),
        dt.datetime(2024, 11, 3, 1, 30),  # ambiguous in Los Angeles
        dt.datetime(1960, 1, 1, 0, 0, 0, 999999), [],
    ),
    (
        None, 0, None, None, None, None, None, None, None, None,
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), None, None,
    ),
]


@pytest.mark.parametrize("tz", TZS)
def test_local_frame_matches_the_list_path(spark, tz):
    """Every type the call sites pass, with nulls and with zero rows,
    collects to exactly what ``createDataFrame(<list>)`` gave, whatever
    the process's local time zone."""
    with process_tz(tz):
        for rows in (EVERY_TYPE_ROWS, []):
            old = list_path(spark, rows, EVERY_TYPE)
            new = local_frame(spark, rows, EVERY_TYPE)
            assert new.schema == old.schema == EVERY_TYPE
            assert new.collect() == old.collect()
        ddl = "rank int, id bigint, relevance double"
        rows = [(1, 10, 0.5), (2, None, 0.25)]
        old = list_path(spark, rows, ddl)
        new = local_frame(spark, rows, ddl)
        assert new.schema == old.schema
        assert new.collect() == old.collect()


def test_local_frame_rejects_none_in_a_non_nullable_field(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    for build in (list_path, local_frame):
        with pytest.raises(ValueError):
            build(spark, [("a", 1), (None, 2)], schema)


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def typed_partitions(spark, tmp_path_factory):
    """A Delta table partitioned by date, timestamp, decimal, boolean and
    a nullable string (its null partition is __HIVE_DEFAULT_PARTITION__)."""
    uri = str(tmp_path_factory.mktemp("typed_parts") / "t")
    schema = T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("dec", T.DecimalType(8, 3)),
            T.StructField("b", T.BooleanType()),
            T.StructField("s", T.StringType()),
        ]
    )
    rows = [
        (1, dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 9, 30),
         decimal.Decimal("1.500"), True, "a"),
        (2, dt.date(2024, 1, 1), dt.datetime(2024, 3, 10, 10, 0, 0, 250),
         decimal.Decimal("-2.125"), False, None),
        (3, dt.date(1999, 12, 31), dt.datetime(1999, 12, 31, 23, 59, 59),
         decimal.Decimal("0.000"), True, None),
        (4, dt.date(2024, 2, 29), dt.datetime(2024, 11, 3, 8, 30),
         decimal.Decimal("99999.999"), False, "b c"),
    ]
    with process_tz("UTC"):
        write_delta(
            spark.createDataFrame(rows, schema),
            uri,
            partition_by=["d", "ts", "dec", "b", "s"],
        )
    return uri


@pytest.mark.parametrize("tz", TZS)
def test_partitioned_delta_read_matches_the_list_path(
    spark, typed_partitions, tz, monkeypatch
):
    """Spark's partition discovery (the Hive-style path), the partition
    lookup built by local_frame and the list-built lookup restore the
    same partition values, in a UTC and a Los Angeles session."""
    table = DeltalakeTable("t", typed_partitions)
    for zone in TZS:
        with (
            process_tz(tz), session_tz(spark, zone), monkeypatch.context() as m
        ):
            hive = rows_of(table(spark=spark))
            m.setattr(delta_table, "_hive_layout", lambda *a: False)
            joined = rows_of(table(spark=spark))
            m.setattr(delta_table, "local_frame", list_path)
            listed = rows_of(table(spark=spark))
        assert len(hive) == 4
        assert hive == joined == listed
        assert sum(r[-1] is None for r in hive) == 2


# Instants whose partition values are written in the session time zone
# (UTC here): the first is 2020-10-31 17:30 in Los Angeles, the next two
# are both 01:30 there (the fall-back hour), the last is after the
# spring-forward gap.
STAMPS = [
    "2020-11-01 00:30:00",
    "2020-11-01 08:30:00",
    "2020-11-01 09:30:00",
    "2020-03-08 10:30:00.25",
]


def utc(*args):
    return dt.datetime(*args, tzinfo=dt.timezone.utc)


@pytest.fixture(scope="module")
def ts_partitions(spark, tmp_path_factory):
    """A Delta table partitioned by ``timestamp`` column ``ts``; data
    column ``t`` holds the same instant in each row."""
    uri = str(tmp_path_factory.mktemp("ts_parts") / "t")
    df = local_frame(
        spark, [(s, i) for i, s in enumerate(STAMPS)], "s string, v int"
    ).selectExpr("CAST(s AS TIMESTAMP) AS ts", "CAST(s AS TIMESTAMP) AS t", "v")
    write_delta(df, uri, partition_by=["ts"])
    return uri


@pytest.mark.parametrize("tz", TZS)
def test_timestamp_partition_reads_the_instant_written(
    spark, ts_partitions, tz
):
    """A ``timestamp`` partition column reads back the instant written,
    whatever the process's time zone, and its files prune by instant:
    an aware, a naive (process-local, as Spark reads it) and a string
    (session time zone) literal each keep exactly the matching files."""
    table = DeltalakeTable("t", ts_partitions)
    with process_tz(tz):
        df = table(spark=spark)
        micros = df.selectExpr("unix_micros(ts)", "unix_micros(t)").collect()
        assert len(micros) == len(STAMPS)
        assert all(a == b for a, b in micros)
        assert all(r.ts == r.t for r in df.collect())
        local = utc(2020, 11, 1, 0, 30).astimezone().replace(tzinfo=None)
        cases = [
            (Filter("ts", "=", utc(2020, 11, 1, 0, 30)), [0]),
            (Filter("ts", "=", local), [0]),
            (Filter("ts", "=", "2020-11-01 09:30:00"), [2]),
            (Filter("ts", ">=", utc(2020, 11, 1, 8)), [1, 2]),
            (Filter("ts", "<", dt.date(2020, 11, 1)), [3]),
            (
                Filter(
                    "ts", "in",
                    [utc(2020, 11, 1, 8, 30), utc(2020, 3, 8, 10, 30, 0, 250000)],
                ),
                [1, 3],
            ),
            (Filter("ts", "not in", [local]), [1, 2, 3]),
        ]
        for flt, want in cases:
            got = table(filters=[flt], spark=spark)
            assert sorted(r.v for r in got.collect()) == want, flt
            assert len(got.inputFiles()) == len(want), flt


def test_partition_value_zones():
    """A naive ``timestamp`` partition value is wall time in the session
    time zone; one with ``Z`` or an offset keeps its zone; a
    ``timestamp_ntz`` value stays naive."""
    la = zoneinfo.ZoneInfo("America/Los_Angeles")
    ts, ntz = T.TimestampType(), T.TimestampNTZType()
    assert cast_partition_value("2020-11-01 00:30:00", ts, la) == utc(
        2020, 11, 1, 7, 30
    )
    assert cast_partition_value("2020-11-01T00:30:00Z", ts, la) == utc(
        2020, 11, 1, 0, 30
    )
    assert cast_partition_value(
        "2020-11-01 00:30:00.5+05:30", ts, la
    ) == utc(2020, 10, 31, 19, 0, 0, 500000)
    assert cast_partition_value("2020-11-01 00:30:00", ntz, la) == (
        dt.datetime(2020, 11, 1, 0, 30)
    )


@pytest.mark.parametrize("tz", TZS)
def test_fall_back_hour_partition_keeps_its_file(spark, tmp_path, tz):
    """Under a Los Angeles session, 08:30Z is written as the partition
    value ``2020-11-01 01:30:00``, a wall time the fall-back hour makes
    ambiguous (its offset depends on ``fold``). Aware, naive and string
    literals for that instant, by ``=`` and ``in``, keep its file."""
    uri = str(tmp_path / "t")
    stamps = [utc(2020, 11, 1, 7, 30), utc(2020, 11, 1, 8, 30)]
    with session_tz(spark, "America/Los_Angeles"), process_tz(tz):
        df = local_frame(
            spark,
            [(s, s, i) for i, s in enumerate(stamps)],
            "ts timestamp, t timestamp, v int",
        )
        write_delta(df, uri, partition_by=["ts"])
        table = DeltalakeTable("t", uri)
        assert all(r.ts == r.t for r in table(spark=spark).collect())
        naive = stamps[1].astimezone().replace(tzinfo=None)
        for value in [stamps[1], naive, "2020-11-01 01:30:00"]:
            for flt in [Filter("ts", "=", value), Filter("ts", "in", [value])]:
                got = table(filters=[flt], spark=spark)
                assert [r.v for r in got.collect()] == [1], flt
                assert len(got.inputFiles()) == 1, flt


@pytest.mark.parametrize(
    "name, minutes",
    [("UTC", 0), ("America/Los_Angeles", -480), ("PST", -480),
     ("IST", 330), ("Z", 0), ("+05:30", 330), ("+8", 480),
     ("GMT-5", -300), ("UTC+08:00", 480)],
)
def test_session_zone_reads_zone_ids_as_spark_does(spark, name, minutes):
    with session_tz(spark, name):
        zone = session_zone(spark)
    assert zone.utcoffset(dt.datetime(2020, 1, 1)) == dt.timedelta(
        minutes=minutes
    )


def test_delta_side_tables_plan_as_local_relations(
    spark, typed_partitions, tmp_path
):
    """Plan pins (no job runs): a Hive-style partitioned read takes its
    partition columns from Spark's partition discovery, with no
    broadcast and no driver-side relation; the partition lookup of
    another layout (a shallow clone's absolute paths), a small DV
    position set and the empty result of a pruned-away read are JVM
    local relations, not Python RDDs."""
    part = executed_plan(DeltalakeTable("t", typed_partitions)(spark=spark))
    for node in ("BroadcastExchange", "LocalTableScan", "ExistingRDD"):
        assert node not in part
    clone = str(tmp_path / "clone")
    clone_delta(typed_partitions, clone)
    cloned = executed_plan(DeltalakeTable("t", clone)(spark=spark))
    uri = str(tmp_path / "dv")
    write_delta(spark.range(20).withColumn("v", F.col("id") * 2), uri)
    delete_delta(spark, uri, [Filter("id", "=", 3)])
    dv = DeltalakeTable("t", uri)(spark=spark)
    assert sorted(r.id for r in dv.collect()) == [
        i for i in range(20) if i != 3
    ]
    empty = empty_normalized_df(
        spark, T.StructType([T.StructField("id", T.LongType())])
    )
    for plan in (cloned, executed_plan(dv), executed_plan(empty)):
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan


def test_driver_rows_become_frames_only_in_exec():
    """``createDataFrame`` over driver rows runs a Python job for every
    use of the frame; the package builds such frames through
    ``core.exec.local_frame`` only."""
    exec_py = os.path.join(ROOT, "datarepo_spark", "core", "exec.py")
    offenders = []
    for path in glob.glob(
        os.path.join(ROOT, "datarepo_spark", "**", "*.py"), recursive=True
    ):
        if path == exec_py:
            continue
        with open(path) as fh:
            if "createDataFrame(" in fh.read():
                offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []


# a read of a named environment variable; any other mention of
# ``environ``/``getenv`` is reported by line
ENV_ACCESS = re.compile(r"\b(?:environ|getenv)\b")
ENV_READ = re.compile(
    r"""\b(?:environ\.get|getenv)\(\s*["']([^"']+)["']"""
    r"""|\benviron\[\s*["']([^"']+)["']"""
)


def test_the_package_reads_one_environment_variable():
    """Behaviour is chosen by arguments and Spark confs. The package
    reads one environment variable, ``SPARK_GRAFT_CPUS`` (the local
    master's core count)."""
    names, unnamed = set(), []
    for path in glob.glob(
        os.path.join(ROOT, "datarepo_spark", "**", "*.py"), recursive=True
    ):
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if not ENV_ACCESS.search(line):
                    continue
                reads = ENV_READ.findall(line)
                names |= {a or b for a, b in reads}
                if not reads:
                    unnamed.append(f"{os.path.relpath(path, ROOT)}:{n}")
    assert names == {"SPARK_GRAFT_CPUS"}
    assert unnamed == []
