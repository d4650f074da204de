"""File pruning against Spark's own filter (the spark-rapids
differential pattern: run the same query two ways, demand equal rows).

Two small Delta tables hold the same rows, one per file: ``flat`` keeps
every column in the data (the stats prune decides) and ``parted`` is
partitioned by every column (the partition prune decides). Every
partitionable type is a column. For random filters, with literals of the
column's type, of string type and of the neighbouring numeric or
temporal type, every row Spark's filter (``filters_to_column``, the row
filter of every read) selects over all files must lie in a file the
prunes keep (partition prune, then stats prune, over the typed DNF).
Then Spark's filter over the kept files returns exactly the rows it
returns over all files. A filter Spark rejects is skipped. A fixed list
of literals of the column's own type checks that no prune keeps more
files than the prunes before the typing step kept, wherever those were
sound.
"""

import datetime as dt
import os
import time
from contextlib import contextmanager
from decimal import Decimal
from urllib.parse import unquote

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datarepo_spark.core.compile import filters_to_column
from datarepo_spark.core.exec import local_frame
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_stats import stats_prune
from datarepo_spark.tables.delta_table import (
    DeltalakeTable,
    _partition_prune,
    partition_zone,
    typed_dnf,
)
from datarepo_spark.tables.delta_writer import write_delta

NAN, INF = float("nan"), float("inf")
UTC = dt.timezone.utc
D = dt.date
T = dt.datetime

# column → (DDL type, one value per row)
COLUMNS = {
    "i": ("int", [-2, 0, 3, 7, 2**31 - 1, -(2**31), None, 5]),
    "l": ("bigint", [2**53 + 1, -1, 0, 5, 2**62, None, 3, 7]),
    "x": ("double", [NAN, -0.0, 0.0, INF, -INF, 1.5, 0.1, None]),
    # Spark reads a float's 0.1 as 0.10000000149..., above the double 0.1
    "f": ("float", [0.1, 2.5, -0.0, NAN, None, 1.5, 0.3, 7.0]),
    "m": ("decimal(4,2)", [Decimal(v) if v else None for v in (
        "0.10", "1.50", "-3.25", "99.99", "0.00", None, "7.00", "0.30")]),
    "b": ("boolean", [True, False, None, True, False, True, False, True]),
    "s": ("string", ["a", "b c", "B", "é", "07", "2024-01-01", None, "true"]),
    "d": ("date", [D(2024, 1, 1), D(2024, 1, 2), D(1999, 12, 31), None,
                   D(2024, 2, 29), D(2024, 1, 1), D(2030, 6, 15), D(1970, 1, 1)]),
    "t": ("timestamp", [T(2024, 1, 1, tzinfo=UTC), T(2024, 1, 1, 12, 0, 0, 500000, UTC),
                        None, T(1999, 12, 31, 23, 59, 59, 999999, UTC),
                        T(2024, 1, 2, tzinfo=UTC), T(2024, 1, 1, tzinfo=UTC),
                        T(1970, 1, 1, tzinfo=UTC), T(2030, 6, 15, 1, 2, 3, tzinfo=UTC)]),
    "n": ("timestamp_ntz", [T(2024, 1, 1), T(2024, 1, 1, 12), T(1999, 12, 31, 23, 59),
                            None, T(2024, 1, 2), T(2024, 1, 1, 0, 0, 0, 1),
                            T(1970, 1, 1), T(2030, 6, 15)]),
}
ROWS = len(COLUMNS["i"][1])
OPERATORS = ["=", "!=", "<", "<=", ">", ">=", "in", "not in", "contains"]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """{"flat" | "parted": (uri, snapshot, {file path: row ids}, rows)},
    ``rows`` the whole table as Spark reads it."""
    root = tmp_path_factory.mktemp("oracle")
    ddl = ", ".join(f"{c} {t}" for c, (t, _) in COLUMNS.items()) + ", id int"
    rows = [
        tuple(values[k] for _, values in COLUMNS.values()) + (k,)
        for k in range(ROWS)
    ]
    df = local_frame(spark, rows, ddl)
    out = {}
    for name, kw in (("flat", {}), ("parted", {"partition_by": list(COLUMNS)})):
        uri = str(root / name)
        write_delta(df.repartitionByRange(ROWS, "id"), uri, **kw)
        snapshot = DeltaLog(uri).snapshot()
        ids = {
            add.path: set(
                pq.read_table(os.path.join(uri, unquote(add.path)), columns=["id"])
                .column("id").to_pylist()
            )
            for add in snapshot.files
        }
        assert all(len(v) == 1 for v in ids.values()) and len(ids) == ROWS
        # the rows as Spark reads them, as a local relation: Spark's
        # optimizer evaluates a filter over it without a job
        read = DeltalakeTable(name, uri)(spark=spark)
        out[name] = (uri, snapshot, ids, local_frame(spark, read.collect(), read.schema))
    return out


def kept_ids(spark, snapshot, ids, flt):
    typed = typed_dnf(spark, snapshot, [[flt]])
    files = _partition_prune(snapshot, typed, partition_zone(spark, snapshot))
    files = stats_prune(files, typed, snapshot.data_schema)
    return set().union(*(ids[add.path] for add in files))


def spark_matches(table, flts):
    """For each filter, the ids Spark's row filter selects over all
    files, or None when Spark rejects it."""
    columns = []
    for f in flts:
        try:
            column = filters_to_column([[f]])
            table.select(column)  # analysis: a type Spark does not compare
        except Exception:
            column = None
        columns.append(column)

    def ids_of(picked):
        select = [c.alias(f"p{k}") for k, c in enumerate(picked)]
        rows = table.select("id", *select).collect()
        return [{r.id for r in rows if r[k + 1] is True} for k in range(len(picked))]

    def ids_or_none(column):
        try:
            return ids_of([column])[0]
        except Exception:  # a value Spark cannot cast
            return None

    try:
        found = iter(ids_of([c for c in columns if c is not None]))
        return [None if c is None else next(found) for c in columns]
    except Exception:
        return [None if c is None else ids_or_none(c) for c in columns]


# -- literals ---------------------------------------------------------------------

ints = st.one_of(st.integers(-10, 10), st.sampled_from(
    [2**31 - 1, -(2**31), 2**31, 2**53, 2**53 + 1, 2**62]))
floats = st.one_of(
    st.floats(-10, 10),
    st.sampled_from([NAN, -0.0, 0.0, INF, -INF, 0.1, 1.5, 3.0, 7.0, 2.0**53]),
)
decimals = st.one_of(
    st.decimals(-100, 100, places=2),
    st.sampled_from([Decimal("0.1"), Decimal("0.105"), Decimal("7"),
                     Decimal("1.500"), Decimal("-3.25")]),
)
dates = st.one_of(st.dates(D(1969, 12, 30), D(2031, 1, 1)),
                  st.sampled_from([D(2024, 1, 1), D(2024, 1, 2)]))
naive = st.one_of(
    st.datetimes(T(1969, 12, 30), T(2031, 1, 1)),
    st.sampled_from([T(2024, 1, 1), T(2024, 1, 1, 12), T(2024, 1, 2)]),
)
aware = st.one_of(
    naive.map(lambda v: v.replace(tzinfo=UTC)),
    naive.map(lambda v: v.replace(tzinfo=dt.timezone(dt.timedelta(hours=-8)))),
)


def texts(column):
    """String literals: the column's values as text, as Spark would
    parse them and in forms it parses differently or rejects."""
    rendered = [str(v) for v in COLUMNS[column][1] if v is not None]
    variants = st.sampled_from(rendered).flatmap(lambda v: st.sampled_from([
        v, f" {v}", f"{v} ", f"+{v}", f"0{v}", v.upper(), v.replace("-0", "-"),
        v.replace(" ", "T"), v + "Z", v + "+01:00", v[:10],
    ]))
    fixed = st.sampled_from([
        "TRUE", "yes", "no", "f", "1", "0", "2024-1-1", "2024-01-01T00:00:00Z",
        "2024-01-01 01:00:00+01:00", "1.5", "1e2", "NaN", "abc", "",
    ])
    return st.one_of(variants, fixed)


SAME = {"i": ints, "l": ints, "x": floats, "f": floats, "m": decimals,
        "b": st.booleans(), "s": st.text("ab cé07B", max_size=3), "d": dates,
        "t": aware, "n": naive}
NEIGHBOUR = {
    "i": st.one_of(floats, decimals), "l": st.one_of(floats, decimals),
    "x": st.one_of(ints, decimals), "f": st.one_of(ints, decimals),
    "m": st.one_of(ints, floats),
    "b": ints, "s": st.one_of(ints, floats, dates),
    "d": st.one_of(naive, aware), "t": st.one_of(dates, naive),
    "n": st.one_of(dates, aware),
}


def converted(value):
    """``value`` in the neighbouring types: where a cast is closest to
    exact and a prune's typing most likely wrong."""
    if isinstance(value, bool):
        return [int(value)]
    if isinstance(value, int):
        return [float(value), Decimal(value), value + 0.5]
    if isinstance(value, float):
        exact = value == value and abs(value) != INF
        return [int(value), Decimal(repr(value))] if exact else [value]
    if isinstance(value, Decimal):
        return [float(value), int(value), value + Decimal("0.001")]
    if isinstance(value, dt.datetime):
        return [value.date(), value.replace(tzinfo=None), value.replace(tzinfo=UTC)]
    if isinstance(value, dt.date):
        return [T.combine(value, dt.time()), T.combine(value, dt.time(12))]
    return [int(value)] if value.isdigit() else [value]


def literals(column):
    own = [v for v in COLUMNS[column][1] if v is not None]
    return st.one_of(
        st.sampled_from(own), st.sampled_from([c for v in own for c in converted(v)]),
        SAME[column], texts(column), NEIGHBOUR[column],
    )


@st.composite
def filters(draw):
    column = draw(st.sampled_from(list(COLUMNS)))
    literal = literals(column)
    operator = draw(st.sampled_from(OPERATORS))
    if operator in ("in", "not in"):
        value = draw(st.lists(st.one_of(literal, literal, st.none()),
                              min_size=1, max_size=3))
    else:
        value = draw(st.one_of(literal, literal, literal, st.none()))
    return Filter(column, operator, value)


# Literals at the edges of Spark's casts, checked on every run
EDGES = [Filter(*f) for f in [
    ("l", "=", 2.0**53), ("l", ">=", 2.0**53), ("i", "<", 3.5), ("i", "=", "07"),
    ("i", "in", ["3", 5.0]), ("i", "=", Decimal("3.0")),
    ("x", "=", NAN), ("x", "in", [NAN]), ("x", ">", 2.0), ("x", "<", NAN),
    ("x", "=", "-0.0"), ("x", "=", Decimal("0.1")), ("x", "=", 7),
    ("f", ">", 0.1), ("f", "<=", 0.1), ("f", "in", [0.3, 7]), ("f", "=", 2.5),
    ("f", "<", NAN), ("f", "=", "0.1"),
    ("m", "=", 0.1), ("m", ">", 0.3), ("m", "=", "0.1"), ("m", "<", 7),
    ("m", "in", [1.5, Decimal("0.3")]), ("m", "<", 0.105), ("m", ">=", 0.295),
    ("b", "=", "no"), ("b", "!=", "TRUE"), ("b", "in", ["t", "0"]),
    ("s", "=", 7), ("s", "contains", "0"),
    ("d", "=", "2024-1-1"), ("d", "=", " 2024-01-01"), ("d", "<", "2024-01-01T12:00"),
    ("d", "=", T(2024, 1, 1)), ("d", ">", T(2024, 1, 1, 12)),
    ("t", "=", "2024-01-01"), ("t", "=", D(2024, 1, 1)),
    ("t", "=", "2024-01-01T00:00:00Z"), ("t", "<", "2024-01-01 13:00:00+01:00"),
    ("n", "=", "2024-01-01 00:00:00"), ("n", "=", D(2024, 1, 2)),
    ("n", ">=", "2024-01-01"),
]]


@settings(
    max_examples=6, deadline=None, database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(filters(), min_size=30, max_size=30))
@example(EDGES)
def test_pruning_keeps_every_row_spark_selects(spark, tables, batch):
    for uri, snapshot, ids, table in tables.values():
        for flt, want in zip(batch, spark_matches(table, batch)):
            if want is not None:
                assert want <= kept_ids(spark, snapshot, ids, flt), (uri, flt)


# -- no more than before, where that was sound ---------------------------------

# Literals of the column's own type, and the row ids (one row per file)
# the prunes kept before the typing step on each table: (flat, parted).
BEFORE = [
    ("i", "=", 3, {2}, {2}),
    ("i", "<", 0, {0, 5}, {0, 5}),
    ("i", ">=", 7, {3, 4}, {3, 4}),
    ("i", "in", [3, 5], {2, 7}, {2, 7}),
    ("i", "not in", [0], {0, 2, 3, 4, 5, 7}, {0, 2, 3, 4, 5, 7}),
    ("i", "!=", 3, {0, 1, 3, 4, 5, 7}, {0, 1, 3, 4, 5, 7}),
    ("l", "=", 9007199254740993, {0}, {0}),
    ("l", ">", 5, {0, 4, 7}, {0, 4, 7}),
    ("l", "in", [0, 3], {2, 6}, {2, 6}),
    ("x", "=", 1.5, {0, 3, 4, 5}, {5}),
    ("x", ">", 1.0, {0, 3, 4, 5}, {3, 5}),
    ("x", "<", 0.0, {0, 3, 4}, {4}),
    ("x", "in", [0.1, -0.0], {0, 1, 2, 3, 4, 6}, {1, 2, 6}),
    ("x", "=", 0.0, {0, 1, 2, 3, 4}, {1, 2}),
    ("x", "=", NAN, {0, 1, 2, 3, 4, 5, 6}, set()),
    ("m", "=", Decimal("0.10"), {0, 1, 2, 3, 4, 5, 6, 7}, {0}),
    ("m", ">", Decimal("1.00"), {0, 1, 2, 3, 4, 5, 6, 7}, {1, 3, 6}),
    ("m", "in", [Decimal("7.00")], {0, 1, 2, 3, 4, 5, 6, 7}, {6}),
    ("b", "=", True, {0, 3, 5, 7}, {0, 3, 5, 7}),
    ("b", "!=", True, {1, 4, 6}, {1, 4, 6}),
    ("s", "=", "a", {0, 3}, {0}),
    ("s", "<", "b", {0, 2, 3, 4, 5}, {0, 2, 4, 5}),
    ("s", "in", ["é", "07"], {0, 1, 2, 3, 4, 5, 7}, {3, 4}),
    ("s", "contains", "0", {0, 1, 2, 3, 4, 5, 7}, {4, 5}),
    ("d", "=", D(2024, 1, 1), {0, 5}, {0, 5}),
    ("d", "<", D(2000, 1, 1), {2, 7}, {2, 7}),
    ("d", "in", [D(2024, 2, 29)], {4}, {4}),
    ("t", "=", T(2024, 1, 1, 0, 0, tzinfo=UTC), {0, 5}, {0, 5}),
    ("t", ">", T(2024, 1, 1, 6, 0, tzinfo=UTC), {1, 4, 7}, {1, 4, 7}),
    ("n", "=", T(2024, 1, 1, 0, 0), {0}, {0}),
    ("n", "<=", T(2000, 1, 1, 0, 0), {2, 6}, {2, 6}),
]


@pytest.mark.parametrize(
    "case", BEFORE, ids=[f"{c}{op}{v!r}" for c, op, v, *_ in BEFORE]
)
def test_typed_literals_keep_no_more_files_than_before(spark, tables, case):
    column, operator, value, *before = case
    flt = Filter(column, operator, value)
    for (uri, snapshot, ids, table), kept_before in zip(tables.values(), before):
        want = spark_matches(table, [flt])[0]
        kept = kept_ids(spark, snapshot, ids, flt)
        assert want <= kept, (uri, flt)
        if want <= kept_before:
            assert kept <= kept_before, (uri, flt)


# -- a datetime meets a timestamp_ntz column as pyspark sends it ---------------


@contextmanager
def process_tz(name):
    """The Python process's local zone (what pyspark reads a naive
    ``datetime`` literal in); the JVM's is untouched."""
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


@pytest.mark.parametrize("partitioned", [True, False], ids=["parted", "flat"])
@pytest.mark.parametrize(
    "literal, timestamp_type, rows",
    [
        (T(2024, 1, 1), "TIMESTAMP_LTZ", [1]),
        (T(2024, 1, 1, 8, tzinfo=UTC), "TIMESTAMP_LTZ", [1]),
        (T(2024, 1, 1, 9, tzinfo=dt.timezone(dt.timedelta(hours=1))), "TIMESTAMP_LTZ", [1]),
        # a session that prefers timestamp_ntz gets a naive datetime as one
        (T(2024, 1, 1), "TIMESTAMP_NTZ", [0]),
    ],
    ids=["naive", "utc", "plus_one", "naive_ntz_session"],
)
def test_a_datetime_on_a_timestamp_ntz_column_is_typed_as_pyspark_sends_it(
    spark, tmp_path, partitioned, literal, timestamp_type, rows
):
    """With the process in Los Angeles and a UTC session, pyspark sends
    ``datetime(2024, 1, 1)`` as the instant 2024-01-01 08:00 UTC, and
    Spark compares the column with it read in the session zone: the
    pruned read keeps the 08:00 row, as Spark's filter over all files
    does."""
    uri = str(tmp_path / "ntz")
    data = [(0, T(2024, 1, 1)), (1, T(2024, 1, 1, 8)), (2, T(2024, 1, 2))]
    write_delta(
        local_frame(spark, data, "id int, n timestamp_ntz").repartition(3),
        uri,
        partition_by=["n"] if partitioned else [],
    )
    table = DeltalakeTable("ntz", uri)
    flt = Filter("n", "=", literal)
    confs = {"spark.sql.session.timeZone": "UTC", "spark.sql.timestampType": timestamp_type}
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with process_tz("America/Los_Angeles"):
            want = table(spark=spark).filter(filters_to_column([[flt]]))
            want = sorted(r.id for r in want.collect())
            got = sorted(r.id for r in table(spark=spark, filters=[flt]).collect())
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert want == rows
    assert got == want
