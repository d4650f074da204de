"""The single points of the execution layer: one query-registration
point (datarepo_spark/queries/__init__.py), one plan byte-size probe
(core.exec.plan_bytes), the Hadoop-FileSystem stream-trigger probe,
and the one place driver-side rows become frames (core.exec.local_frame)."""

import datetime as dt
import decimal
import glob
import json
import os
import re
import subprocess
import sys
import time
from contextlib import contextmanager
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datarepo_spark.core.exec import local_frame, plan_bytes
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables import delta_table
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


def test_plan_bytes_is_the_scanned_file_size(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    on_disk = sum(
        os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)
        for uri in docs.inputFiles()
    )
    assert on_disk > 0
    assert plan_bytes(docs.select("doc_id", "text")) == on_disk


def test_plan_bytes_is_zero_without_file_input(spark, sf_dir):
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a")]), ["doc_id", "text"]
    )
    assert plan_bytes(rdd_backed) == 0
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert plan_bytes(docs.select("doc_id").localCheckpoint()) == 0


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
    """The partition lookup built by local_frame restores the same
    partition values the list-built lookup restored."""
    table = DeltalakeTable("t", typed_partitions)
    with process_tz(tz):
        new = rows_of(table(spark=spark))
        monkeypatch.setattr(delta_table, "local_frame", list_path)
        old = rows_of(table(spark=spark))
    assert len(new) == 4
    assert new == old
    assert sum(r[-1] is None for r in new) == 2


def test_delta_side_tables_plan_as_local_relations(
    spark, typed_partitions, tmp_path
):
    """Plan pins (no job runs): the partition lookup, a small DV
    position set and the empty result of a pruned-away read are JVM
    local relations, not Python RDDs."""
    part = executed_plan(DeltalakeTable("t", typed_partitions)(spark=spark))
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
    for plan in (part, executed_plan(dv), executed_plan(empty)):
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


class ProbeContext:
    """A SparkContext stand-in whose JVM counts ``Class.forName`` calls
    and finds no class."""

    def __init__(self):
        self.calls = []
        lang = SimpleNamespace(Class=SimpleNamespace(forName=self.for_name))
        self._jvm = SimpleNamespace(java=SimpleNamespace(lang=lang))

    def for_name(self, cls):
        self.calls.append(cls)
        raise RuntimeError("java.lang.ClassNotFoundException")


def test_native_delta_probe_runs_once_per_context():
    """The delta-spark classpath probe is answered once per live
    SparkContext; a new context probes again and ``use_native=``
    skips the probe."""
    table = DeltalakeTable("t", "/unused")
    sc = ProbeContext()
    assert table._native_available(SimpleNamespace(sparkContext=sc)) is False
    assert table._native_available(SimpleNamespace(sparkContext=sc)) is False
    assert len(sc.calls) == 1
    sc2 = ProbeContext()
    assert table._native_available(SimpleNamespace(sparkContext=sc2)) is False
    assert len(sc2.calls) == 1
    sc3 = ProbeContext()
    forced = DeltalakeTable("t", "/unused", use_native=True)
    assert forced._native_available(SimpleNamespace(sparkContext=sc3))
    assert sc3.calls == []
