"""Per-file statistics: the Delta protocol's ``add.stats`` JSON and the
file-skipping evaluator that consumes it.

Why this exists: partition pruning only helps along the partition axis.
The reference's Delta story (deltalake_table.py — delta-rs under the
hood) also skips *files* whose footer min/max cannot satisfy the query
predicate — at 100 TB this is the difference between "scan the whole
partition" and "open the 3 files whose id range overlaps the filter".
The public protocol carries the skipping index in each add action as a
JSON ``stats`` string:

    {"numRecords": N,
     "minValues": {col: v, ...},
     "maxValues": {col: v, ...},
     "nullCount": {col: n, ...}}

Write side (:func:`collect_file_stats`): aggregate the parquet footer's
row-group statistics — metadata-only, no data read, the jar-less
equivalent of delta-spark collecting stats from its writer tasks. At
scale this is O(files) footer reads on the driver per commit, the same
asymptotics as the move/commit loop that already exists.

Read side (:func:`stats_prune`): evaluate the table's DNF, typed once
as Spark casts it (``delta_table.typed_dnf``), against each file's [min,
max] envelope and nullCount, parsed to the same types (:func:`_coerce`).
Pruning must be SOUND (never drop a file that could match) and need not
be complete — rows are re-filtered after the scan, so any "don't know"
keeps the file.

Soundness rules encoded here:
- strings are only compared when both sides are ASCII (parquet orders
  UTF-8 stats by byte; Python compares by code point — they agree on
  ASCII only);
- string stats longer than ``_MAX_STR_STATS`` are dropped entirely: a
  truncated max would be an UNSOUND upper bound (delta-spark pads the
  last character up for the same reason; omitting is equally sound and
  simpler);
- a non-finite float bound is dropped (JSON has no NaN; a file holding
  NaN gets NaN as its footer max), and a NaN literal prunes nothing;
- decimal bounds are never read: JSON carries them as numbers, which
  parse as floats, and some writers pass them through a double — so a
  bound may sit on either side of the true one;
- a timestamp bound on a whole millisecond may be a truncated one
  (delta-spark writes timestamp stats to the millisecond): it is
  widened outward by 999 µs before any comparison;
- any type mismatch or parse failure → keep the file.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import json
import math
from typing import Any, NamedTuple, Optional, Sequence

from pyspark.sql import types as T

from ..core.filters import Filter
from .delta_log import AddFile, float32

# Delta's spark.databricks.delta.properties.defaults.dataSkippingNumIndexedCols
_DEFAULT_INDEXED_COLS = 32
# Beyond this, string min/max are omitted (see module docstring).
_MAX_STR_STATS = 64
# A timestamp bound on a whole millisecond may be truncated by this much.
_MS_SLACK = _dt.timedelta(microseconds=999)

_STATS_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


def _jsonable(value: Any, dtype: T.DataType) -> Any:
    """Serialize a stats bound the way Delta's JSON stats do."""
    if value is None:
        return None
    if isinstance(dtype, T.DateType):
        if isinstance(value, _dt.date):
            return value.isoformat()
        return str(value)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(value, _dt.datetime):
            return value.isoformat()
        return str(value)
    if isinstance(value, float) and not math.isfinite(value):
        return None  # JSON has no Infinity/NaN; drop the bound
    if isinstance(value, bytes):
        return None  # binary stats are not indexed
    return value


def collect_file_stats(
    path: str,
    data_schema: T.StructType,
    indexed_cols: int = _DEFAULT_INDEXED_COLS,
) -> Optional[str]:
    """Aggregate ``path``'s parquet row-group footer statistics into a
    Delta ``add.stats`` JSON string, or None when the footer yields
    nothing usable. Only the first ``indexed_cols`` top-level primitive
    columns of ``data_schema`` are indexed (delta's
    dataSkippingNumIndexedCols default)."""
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
    except Exception:
        return None

    wanted: dict[str, T.DataType] = {}
    for field in data_schema.fields[:indexed_cols]:
        if isinstance(field.dataType, _STATS_TYPES):
            wanted[field.name] = field.dataType

    num_records = meta.num_rows
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    # a single row group missing a piece of stats poisons only that
    # piece — nullCount can stay exact while min/max is abandoned
    minmax_ok: dict[str, bool] = {n: True for n in wanted}
    nulls_ok: dict[str, bool] = {n: True for n in wanted}

    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            # nested columns have dotted path_in_schema; top-level only
            name = col.path_in_schema
            if name not in wanted:
                continue
            stats = col.statistics
            if stats is None:
                minmax_ok[name] = False
                nulls_ok[name] = False
                continue
            if stats.null_count is not None:
                nulls[name] = nulls.get(name, 0) + stats.null_count
            else:
                nulls_ok[name] = False
            if not stats.has_min_max:
                # an all-null row group legitimately has no min/max
                # (ColumnChunkMetaData.num_values counts nulls too)
                if stats.null_count == col.num_values:
                    continue
                minmax_ok[name] = False
                continue
            mn, mx = stats.min, stats.max
            if name in mins:
                try:
                    mins[name] = min(mins[name], mn)
                    maxs[name] = max(maxs[name], mx)
                except TypeError:
                    minmax_ok[name] = False
            else:
                mins[name], maxs[name] = mn, mx

    min_values: dict[str, Any] = {}
    max_values: dict[str, Any] = {}
    null_count: dict[str, int] = {}
    for name, dtype in wanted.items():
        if name in nulls and nulls_ok.get(name):
            null_count[name] = nulls[name]
        if name not in mins or not minmax_ok.get(name):
            continue
        mn, mx = mins[name], maxs[name]
        if isinstance(dtype, T.StringType) and (
            not isinstance(mn, str)
            or not isinstance(mx, str)
            or len(mn) > _MAX_STR_STATS
            or len(mx) > _MAX_STR_STATS
        ):
            continue
        mn_j, mx_j = _jsonable(mn, dtype), _jsonable(mx, dtype)
        if mn_j is None or mx_j is None:
            continue
        min_values[name] = mn_j
        max_values[name] = mx_j

    if not min_values and not null_count:
        return None
    return json.dumps(
        {
            "numRecords": num_records,
            "minValues": min_values,
            "maxValues": max_values,
            "nullCount": null_count,
        },
        default=str,
    )


# -- read side ---------------------------------------------------------------


def _coerce(value: Any, dtype: T.DataType) -> Any:
    """Parse a JSON-decoded stats bound into the Python value of
    ``dtype`` that ``typed_literal`` types a literal as. Returns None
    when no sound comparison exists."""
    if value is None or isinstance(dtype, T.DecimalType):
        return None
    if isinstance(dtype, T.FloatType) and type(value) in (int, float):
        return float32(value)  # a writer may state it as the shortest text
    if not isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return value
    try:
        if isinstance(dtype, T.DateType):
            return _dt.date.fromisoformat(value[:10])
        return _dt.datetime.fromisoformat(value)
    except (TypeError, ValueError):  # not an ISO string
        return None


def _comparable(a: Any, b: Any) -> bool:
    """True when ``a OP b`` is a sound pruning comparison."""
    if a is None or b is None:
        return False
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, str) != isinstance(b, str):
        return False
    if isinstance(a, str):
        # parquet string stats are byte-ordered; Python is code-point
        # ordered. They agree on ASCII — prune only there.
        return a.isascii() and b.isascii()
    if isinstance(b, float) and math.isnan(b):
        return False  # NaN never bounded by row-group stats
    return True


def _all_null(nulls: Optional[int], num_records: Optional[int]) -> bool:
    return (
        nulls is not None
        and num_records is not None
        and num_records > 0
        and nulls >= num_records
    )


def _filter_possible(
    f: Filter,
    dtype: T.DataType,
    mn: Any,
    mx: Any,
    nulls: Optional[int],
    num_records: Optional[int],
) -> bool:
    """Could any row of a file with envelope [mn, mx] / nulls match
    ``f``? Must err toward True."""
    op, value = f.operator, f.value
    all_null = _all_null(nulls, num_records)
    if op == "=" and value is None:
        # isNull semantics (matches delta_table._eval_filter)
        return nulls is None or nulls > 0
    if all_null:
        # Every value is NULL, and NULL satisfies no comparison (SQL
        # three-valued logic: even `!=` yields NULL, not TRUE) — only an
        # explicit null membership can match.
        if op == "in":
            return isinstance(value, (list, tuple, set)) and None in value
        if op in ("=", "!=", "<", "<=", ">", ">=", "not in", "contains"):
            return False
        return True  # unknown operator: never prune
    if mn is None or mx is None:
        return True

    try:
        if op == "=":
            if not _comparable(mn, value):
                return True
            return mn <= value <= mx
        if op == "<":
            return not _comparable(mn, value) or mn < value
        if op == "<=":
            return not _comparable(mn, value) or mn <= value
        if op == ">":
            return not _comparable(mx, value) or mx > value
        if op == ">=":
            return not _comparable(mx, value) or mx >= value
        if op == "in":
            if not isinstance(value, (list, tuple, set)):
                return True
            vals = list(value)
            if None in vals and (nulls is None or nulls > 0):
                return True
            return any(
                not _comparable(mn, v) or (v is not None and mn <= v <= mx)
                for v in vals
            )
        if op == "!=":
            if not _comparable(mn, value):
                return True
            return not (mn == mx == value and (nulls or 0) == 0)
        if op == "not in":
            if not isinstance(value, (list, tuple, set)):
                return True
            if not _comparable(mn, mx):
                return True
            return not (
                mn == mx and mn in value and (nulls or 0) == 0
            )
    except TypeError:
        return True
    return True  # contains / includes*: not index-prunable


class _InList(NamedTuple):
    """An ``in`` filter's member list, prepared once per prune call so
    each file's test is a bisect instead of a scan of the list.
    :func:`_in_possible` answers exactly as :func:`_filter_possible`
    does for the original filter, which it falls back to whenever the
    envelope or the members are not one totally ordered family."""

    column: str
    has_none: bool
    always: bool  # a NaN or non-ASCII member: no bound excludes it
    kind: Optional[str]  # ordering family of the rest; None = mixed
    values: list  # the rest, sorted by kind


def _kind(v: Any) -> Optional[str]:
    """The family inside which ``<`` is a total order agreeing with the
    linear test, or None (NaN, other types)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return None if v != v else "num"
    if isinstance(v, str):
        return "str"
    if isinstance(v, _dt.datetime):
        return "naive" if v.utcoffset() is None else "aware"
    if type(v) is _dt.date:
        return "date"
    return None


def _prepare(f: Filter, dtype: Optional[T.DataType]):
    """``f`` itself, or an :class:`_InList` for an ``in`` list on a
    column the stats index."""
    if dtype is None or f.operator != "in" or not isinstance(
        f.value, (list, tuple, set)
    ):
        return f
    has_none = always = False
    rest = []
    for v in f.value:
        if v is None:
            has_none = True
            continue
        if (isinstance(v, float) and v != v) or (
            isinstance(v, str) and not v.isascii()
        ):
            always = True
        else:
            rest.append(v)
    kinds = {_kind(v) for v in rest}
    kind = kinds.pop() if len(kinds) == 1 else None
    if kind is not None:
        rest.sort()
    return _InList(f.column, has_none, always, kind, rest)


def _in_possible(
    p: _InList,
    dtype: T.DataType,
    mn: Any,
    mx: Any,
    nulls: Optional[int],
    num_records: Optional[int],
) -> bool:
    if _all_null(nulls, num_records):
        return p.has_none  # all-null file: only a NULL member matches
    if mn is None or mx is None or p.has_none or p.always:
        return True
    if not p.values:
        return False
    if p.kind is None or _kind(mn) != p.kind or _kind(mx) != p.kind or (
        p.kind == "str" and not mn.isascii()
    ):
        linear = Filter(p.column, "in", p.values)
        return _filter_possible(linear, dtype, mn, mx, nulls, num_records)
    i = bisect.bisect_left(p.values, mn)
    return i < len(p.values) and p.values[i] <= mx


def _widen_ms(bound: Any, slack: _dt.timedelta) -> Any:
    """``bound`` moved by ``slack`` when it is on a whole millisecond
    (where a writer that truncates to milliseconds leaves it)."""
    if bound is None or bound.microsecond % 1000:
        return bound
    try:
        return bound + slack
    except OverflowError:
        return None


def _parse_stats(stats_json: Any) -> Optional[dict]:
    if not stats_json:
        return None
    try:
        stats = json.loads(stats_json) if isinstance(stats_json, str) else stats_json
    except (ValueError, TypeError):
        return None
    return stats if isinstance(stats, dict) else None


def _may_match(stats: Optional[dict], conj: Sequence, dtypes: dict) -> bool:
    """:func:`file_may_match` over parsed stats and a prepared
    conjunction."""
    if stats is None:
        return True
    min_values = stats.get("minValues") or {}
    max_values = stats.get("maxValues") or {}
    null_count = stats.get("nullCount") or {}
    num_records = stats.get("numRecords")

    for f in conj:
        dtype = dtypes.get(f.column)
        if dtype is None:
            continue  # partition or unknown column: not ours to judge
        mn = _coerce(min_values.get(f.column), dtype)
        mx = _coerce(max_values.get(f.column), dtype)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            mn, mx = _widen_ms(mn, -_MS_SLACK), _widen_ms(mx, _MS_SLACK)
        nulls = null_count.get(f.column)
        test = _in_possible if isinstance(f, _InList) else _filter_possible
        if not test(f, dtype, mn, mx, nulls, num_records):
            return False
    return True


def file_may_match(
    stats_json: Optional[str],
    conj: Sequence[Filter],
    data_schema: T.StructType,
) -> bool:
    """Sound per-file test: can a file with these stats satisfy every
    filter of one DNF conjunction? No stats → always True."""
    probe = AddFile("", {}, stats=stats_json)
    return bool(stats_prune([probe], [conj], data_schema))


def stats_prune(files: list, dnf, data_schema: T.StructType) -> list:
    """Drop files no conjunction of ``dnf`` (``delta_table.typed_dnf``)
    can match. ``files`` are AddFile records whose ``stats`` attribute
    carries the add action's JSON string (None → kept). Sound by
    construction: every "don't know" path keeps the file, and the full
    predicate is re-applied to rows after the scan. ``in`` lists are
    prepared once here, so a file costs O(log K) per K-member list."""
    if not dnf:
        return files
    dtypes = {fld.name: fld.dataType for fld in data_schema.fields}
    prepared = [
        [_prepare(f, dtypes.get(f.column)) for f in conj] for conj in dnf
    ]
    kept = []
    for add in files:
        stats = _parse_stats(getattr(add, "stats", None))
        if any(_may_match(stats, conj, dtypes) for conj in prepared):
            kept.append(add)
    return kept
