"""Filter algebra: the engine's predicate IR.

A query's filter input is either one conjunction (``[Filter, ...]``) or a
disjunction of conjunctions (``[[Filter, ...], ...]``).  ``normalize_filters``
canonicalizes both to DNF — an OR-list of AND-lists.  An empty list means
"no filter" (i.e. TRUE), not FALSE.

Parity notes (reference: neuralinkcorp/datarepo):
  - operator set         src/datarepo/core/tables/filters.py:3-17
  - Filter NamedTuple    src/datarepo/core/tables/filters.py:20-25
  - normalize_filters    src/datarepo/core/tables/filters.py:32-50
  - exactly_one_equality src/datarepo/core/tables/util.py:46-61

The reference compiles this IR to polars expressions / DataFusion SQL /
ClickHouse SQL; here it compiles to ``pyspark.sql.Column`` trees (see
:mod:`datarepo_spark.core.compile`) and dialected SQL text (see
:mod:`datarepo_spark.core.sql`), both of which Catalyst pushes into scans.
"""

from __future__ import annotations

from typing import Any, Literal, NamedTuple, Optional, Sequence, Union

FilterOperator = Literal[
    "=",
    "!=",
    "<",
    "<=",
    ">",
    ">=",
    "in",
    "not in",
    "contains",       # substring match on a string column
    "includes",       # array column contains scalar
    "includes any",   # array column contains any of a list of scalars
    "includes all",   # array column contains all of a list of scalars
]

FILTER_OPERATORS: tuple[str, ...] = (
    "=", "!=", "<", "<=", ">", ">=",
    "in", "not in", "contains",
    "includes", "includes any", "includes all",
)


class Filter(NamedTuple):
    """A single predicate: ``column <operator> value``."""

    column: str
    operator: FilterOperator
    value: Any


# One conjunction, or an OR of conjunctions.
InputFilters = Union[Sequence[Filter], Sequence[Sequence[Filter]], None]
# DNF: OR-list of AND-lists.
NormalizedFilters = list[list[Filter]]


def normalize_filters(filters: InputFilters) -> NormalizedFilters:
    """Normalize user filter input to DNF (a list of AND-lists, OR'd).

    ``None`` / ``[]`` → ``[]`` (no filtering — TRUE, not FALSE).
    A flat ``[Filter, ...]`` becomes a single conjunction ``[[...]]``.
    """
    if not filters:
        return []
    first = filters[0]
    if isinstance(first, Filter):
        for f in filters:
            if not isinstance(f, Filter):
                raise ValueError(
                    "Cannot mix Filter and Sequence[Filter] elements in one "
                    f"filter list: {filters!r}"
                )
        return [list(filters)]  # type: ignore[arg-type]
    normalized: NormalizedFilters = []
    for conj in filters:
        if isinstance(conj, Filter):
            raise ValueError(
                "Cannot mix Filter and Sequence[Filter] elements in one "
                f"filter list: {filters!r}"
            )
        normalized.append(list(conj))
    return normalized


def validate_filters(
    filters: NormalizedFilters, columns: Optional[Sequence[str]] = None
) -> None:
    """Raise ``ValueError`` eagerly on unknown operators/columns.

    Spark surfaces unknown-column errors lazily (at action time) with long
    JVM traces; the reference raises immediately at compile time
    (util.py:196-198, :242-243) — we keep that contract.
    """
    colset = set(columns) if columns is not None else None
    for conj in filters:
        for f in conj:
            if f.operator not in FILTER_OPERATORS:
                raise ValueError(f"Unsupported filter operator: {f.operator!r}")
            if colset is not None and f.column not in colset:
                raise ValueError(
                    f"Unknown filter column: {f.column!r} "
                    f"(available: {sorted(colset)})"
                )


def exactly_one_equality_filter(
    column: str, filters: NormalizedFilters
) -> Optional[Any]:
    """If every OR-branch constrains ``column`` with exactly one ``=`` filter
    and all branches agree on the value, return that value; else ``None``.

    This is the admission rule for folding a partition column into a storage
    path prefix (reference util.py:46-61; used by URI-prefix pruning,
    parquet_table.py:333-424).
    """
    if not filters:
        return None
    values = set()
    for conj in filters:
        matching = [f for f in conj if f.column == column]
        if len(matching) != 1 or matching[0].operator != "=":
            return None
        values.add(matching[0].value)
    if len(values) != 1:
        return None
    return values.pop()
