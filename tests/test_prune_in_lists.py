"""``in``-list pruning prepared once per prune call.

``stats_prune`` sorts each ``in`` list once and bisects it per file;
``_partition_prune`` turns it into a set. Both must answer exactly as
the per-file linear tests (``_filter_possible``, ``_eval_filter`` on
the list) do, for every mix of member and envelope types. Members reach
the prunes typed by ``typed_literal`` (a member it cannot type stays as
drawn, so every family is still checked), and envelopes as the JSON
stats carry them. Bounds stated by other writers (decimals as JSON
numbers, timestamps truncated to the millisecond) must keep every file
that can hold a member.
"""

import datetime as dt
import json
import string
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_log import (
    UNPRUNABLE,
    AddFile,
    DeltaSnapshot,
    typed_literal,
)
from datarepo_spark.tables.delta_stats import (
    _InList,
    _coerce,
    _filter_possible,
    _in_possible,
    _prepare,
    stats_prune,
)
from datarepo_spark.tables.delta_table import _as_set, _eval_filter, typed_dnf

NAN = float("nan")

ints = st.integers(-20, 20)
floats = st.one_of(
    st.floats(-20, 20),
    st.sampled_from([0.0, -0.0, NAN, float("inf"), float("-inf")]),
)
dates = st.dates(dt.date(2020, 1, 1), dt.date(2020, 2, 1))
iso_dates = dates.map(dt.date.isoformat)
naive = st.datetimes(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 3))
aware = st.datetimes(
    dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 3),
    timezones=st.sampled_from(
        [dt.timezone.utc, dt.timezone(dt.timedelta(hours=-8))]
    ),
)
ascii_text = st.text(alphabet=string.ascii_lowercase[:5], max_size=3)
non_ascii = st.text(alphabet="é€\U0001f600", min_size=1, max_size=2)
any_text = st.text(alphabet="abcé€\U0001f600", max_size=3)
bools = st.booleans()

FAMILIES = [
    ints, floats, st.just(NAN), st.one_of(ints, floats), dates, iso_dates,
    st.one_of(dates, iso_dates), naive, aware, ascii_text, non_ascii,
    any_text, bools,
]
anything = st.one_of(*FAMILIES)
DTYPES = [
    T.LongType(), T.DoubleType(), T.StringType(), T.BooleanType(),
    T.DateType(), T.TimestampType(),
]


def typed_members(members, dtype):
    """``members`` as the read path types them; one ``typed_literal``
    finds no value for stays as drawn."""
    typed = [typed_literal(m, dtype, lambda: dt.timezone.utc) for m in members]
    return [m if t is UNPRUNABLE else t for m, t in zip(members, typed)]


def as_json(bound):
    """A bound as the JSON stats carry it."""
    return bound.isoformat() if isinstance(bound, dt.date) else bound


@st.composite
def in_cases(draw):
    """(members, dtype, mn, mx, nulls, num_records): mostly one family
    for members and envelope (the bisect path), sometimes mixed."""
    family = draw(st.sampled_from(FAMILIES))
    member = draw(st.sampled_from([family, anything]))
    # envelopes of the members' family, of another one, or mixed
    other = draw(st.sampled_from(FAMILIES))
    bound = draw(st.sampled_from([family, family, other, anything]))
    members = draw(
        st.lists(st.one_of(member, member, member, st.none()), max_size=8)
    )
    dtype = draw(st.sampled_from(DTYPES))
    members = typed_members(members, dtype)
    as_type = draw(st.sampled_from([list, tuple, set]))
    try:
        members = as_type(members)
    except TypeError:
        members = list(members)
    mn, mx = draw(st.one_of(bound, st.none())), draw(bound)
    try:
        if mn is not None and mn > mx:
            mn, mx = mx, mn
    except TypeError:
        pass
    num_records = draw(st.one_of(st.none(), st.integers(0, 3)))
    nulls = draw(st.one_of(st.none(), st.integers(0, 3)))
    return members, dtype, mn, mx, nulls, num_records


@settings(
    max_examples=600, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(in_cases())
@example(([NAN], T.DoubleType(), 0.0, 1.0, 0, 1))
@example((["é"], T.StringType(), "a", "z", 0, 1))
@example((["b"], T.StringType(), "é", "ü", 0, 1))
@example(([dt.datetime(2020, 1, 1)], T.TimestampType(),
          dt.datetime(2019, 1, 1, tzinfo=dt.timezone.utc),
          dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc), 0, 1))
@example(([dt.date(2020, 1, 1)], T.DateType(),
          dt.datetime(2019, 1, 1), dt.datetime(2021, 1, 1), 0, 1))
@example(([True], T.LongType(), 0, 2, 0, 1))
def test_prepared_in_list_matches_the_linear_test(case):
    members, dtype, mn, mx, nulls, num_records = case
    f = Filter("c", "in", members)
    # the envelope reaches both tests parsed, as stats_prune passes it
    mn, mx = _coerce(as_json(mn), dtype), _coerce(as_json(mx), dtype)
    want = _filter_possible(f, dtype, mn, mx, nulls, num_records)
    prepared = _prepare(f, dtype)
    test = _in_possible if isinstance(prepared, _InList) else _filter_possible
    got = test(prepared, dtype, mn, mx, nulls, num_records)
    assert got == want


@settings(max_examples=150, deadline=None)
@given(
    st.sampled_from([0, 1, 2]).flatmap(
        lambda i: st.tuples(
            st.just([T.LongType(), T.StringType(), T.DateType()][i]),
            st.lists([ints, ascii_text, dates][i], min_size=1, max_size=30),
            st.lists(
                st.lists([ints, ascii_text, dates][i], min_size=1, max_size=4),
                max_size=12,
            ),
            st.booleans(),
        )
    )
)
def test_stats_prune_keeps_what_the_linear_test_keeps(case):
    """Whole-prune check: a many-key ``in`` (with a range filter beside
    it) over files carrying JSON stats keeps exactly the files the
    per-file linear test keeps."""
    dtype, keys, envelopes, with_none = case
    schema = T.StructType([T.StructField("c", dtype)])
    files = []
    for i, values in enumerate(envelopes):
        lo, hi = min(values), max(values)
        stats = {
            "numRecords": len(values),
            "minValues": {"c": str(lo) if dtype == T.DateType() else lo},
            "maxValues": {"c": str(hi) if dtype == T.DateType() else hi},
            "nullCount": {"c": 0},
        }
        files.append(AddFile(f"f{i}", {}, stats=json.dumps(stats)))
    members = keys + [None] * with_none
    dnf = [[Filter("c", "in", members), Filter("c", ">=", min(keys))]]

    def linear(add):
        stats = json.loads(add.stats)
        mn = _coerce(stats["minValues"]["c"], dtype)
        mx = _coerce(stats["maxValues"]["c"], dtype)
        return all(
            _filter_possible(f, dtype, mn, mx, 0, stats["numRecords"])
            for f in dnf[0]
        )

    assert stats_prune(files, dnf, schema) == [f for f in files if linear(f)]


@settings(max_examples=400, deadline=None)
@given(
    st.one_of(anything, st.none()),
    st.sampled_from(["in", "not in"]),
    st.lists(st.one_of(anything, st.none()), max_size=8),
    st.sampled_from([list, tuple, set]),
)
def test_partition_set_matches_the_list(actual, op, members, as_type):
    try:
        members = as_type(members)
    except TypeError:
        members = list(members)
    f = Filter("p", op, members)
    assert _eval_filter(actual, _as_set(f)) == _eval_filter(actual, f)


def test_unhashable_partition_list_stays_a_list():
    f = Filter("p", "in", [[1], 2])
    assert _as_set(f) is f
    assert _eval_filter(2, _as_set(f))


# -- bounds another writer states ---------------------------------------------


def one_file(dtype, mn, mx):
    stats = {
        "numRecords": 5,
        "minValues": {"c": mn},
        "maxValues": {"c": mx},
        "nullCount": {"c": 0},
    }
    return AddFile("f0", {}, stats=json.dumps(stats)), T.StructType(
        [T.StructField("c", dtype)]
    )


@pytest.mark.parametrize("op, value", [
    ("=", Decimal("0.1")), ("in", [Decimal("0.1"), Decimal("7")]),
    ("<=", Decimal("0.1")), (">=", Decimal("0.3")),
])
def test_decimal_bounds_written_as_json_numbers_keep_the_file(op, value):
    # 0.1 and 0.3 parse to floats just above 0.1 and just below 0.3
    add, schema = one_file(T.DecimalType(10, 2), 0.1, 0.3)
    assert stats_prune([add], [[Filter("c", op, value)]], schema) == [add]


def test_a_decimal_literal_is_not_compared_with_a_float_bound():
    # Spark compares a double column with a decimal literal as doubles,
    # rounding the decimal its own way: the typed DNF keeps no such filter
    add, schema = one_file(T.DoubleType(), 0.1, 0.3)
    snapshot = DeltaSnapshot(0, schema, [])
    for f in (Filter("c", "=", Decimal("0.1")),
              Filter("c", "in", [Decimal("0.3")])):
        typed = typed_dnf(None, snapshot, [[f]])
        assert stats_prune([add], typed, schema) == [add]


NOON = dt.datetime(2024, 1, 1, 12)


@pytest.mark.parametrize("op, value", [
    ("=", NOON.replace(microsecond=700)),
    ("in", [NOON.replace(microsecond=999)]),
    (">", NOON.replace(microsecond=500)),
    ("<", NOON - dt.timedelta(microseconds=500)),
])
def test_millisecond_timestamp_bounds_are_widened(op, value):
    # both bounds truncated to the millisecond: the file may hold any
    # instant in [11:59:59.999001, 12:00:00.000999]
    ms = NOON.isoformat(timespec="milliseconds")
    add, schema = one_file(T.TimestampNTZType(), ms, ms)
    assert stats_prune([add], [[Filter("c", op, value)]], schema) == [add]


def test_sub_millisecond_timestamp_bounds_stay_exact():
    at = NOON.replace(microsecond=123).isoformat()
    add, schema = one_file(T.TimestampNTZType(), at, at)
    f = Filter("c", "=", NOON.replace(microsecond=124))
    assert stats_prune([add], [[f]], schema) == []
