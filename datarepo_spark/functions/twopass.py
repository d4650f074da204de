"""Distributed global order statistics — prefix sum / row_number / NTILE
without a single-partition window.

The problem: ``SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` with
no PARTITION BY plans as ONE task sorting and scanning the whole input
(Spark warns ``WindowExec: No Partition Defined``). Over a bounded
dimension frame that is fine; over anything data-scaled it is the
classic 100 TB scale-killer — a billion-row sort on a single core while
999 executors idle.

The fix is the textbook two-pass sample-sort scheme (the TeraSort /
parallel-prefix pattern; see also DuckDB's and Flink's parallel window
implementations — public knowledge, no code consulted):

  bounds   sample the order key ONCE (a single bottom-target-by-hash
           TakeOrdered job — per-partition heaps, never ``rand()``, no
           count pass), sort driver-side, and pick ``n-1`` evenly
           spaced split keys. The splits are embedded in the plan as
           LITERALS, so every consumer — and every task retry —
           computes the identical range assignment by construction.
  tag      ``__pid`` = number of split keys at-or-before the row in
           sort order, evaluated as a balanced ``when``-tree (log2(n)
           comparisons per row, pure deterministic expression; no
           ``spark_partition_id()``, no physical-plan property is
           load-bearing — the r12 design pinned the assignment with a
           persist, which a refactor could silently drop).
  local    one windowed pass PER RANGE (``PARTITION BY __pid``) —
           every task sorts and scans only its own range.
  carry    per-range totals form a frame of ``num_partitions`` rows
           (bounded: 32-2000, never data-scaled); an exclusive running
           sum over THAT tiny frame yields each range's carry-in.
           This is the only unpartitioned window in the plan and its
           input is bounded by the range count, not the data.
  pass 2   broadcast the carries back; global = local + carry.

Correctness requirements (asserted by the property tests):

* ``order_by`` must be a TOTAL order — it uniquely keys rows. Callers
  therefore operate at CELL grain (one row per distinct key), which is
  also what keeps the local sort linear-in-cells. With ties the running
  sum at intermediate tied rows would be order-dependent in ANY
  engine; at cell grain the question cannot arise.
* The ``__pid`` expression must order rows exactly as the local
  window's ``ORDER BY`` does — same per-column direction, same
  NULLS FIRST/LAST placement, same NaN-is-largest total order. Both
  sides derive from the same parsed sort specs, and the boundary
  comparison expression mirrors Spark's comparison semantics
  (``eqNullSafe`` groups nulls, ``<``/``>`` already implement the
  NaN-largest total order).

The input is persisted (``scoped_persist``) purely as a PERFORMANCE
measure — the count/sample jobs and both downstream branches reread
it. Removing the persist recomputes lineage but cannot change any
``__pid``: the split keys are literals (proved by the property test
that monkeypatches ``scoped_persist`` to identity).

Plan invariant (pinned by tests/test_plans.py): every ``Window`` node
in a two-pass plan mentions ``__pid`` — either as its partition spec
(the local pass) or as the ordering of the bounded carry frame. No
window orders the corpus in one task.
"""

from __future__ import annotations

import functools
import math
import re
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.exec import scoped_persist

OrderSpec = Union[str, Column]

__all__ = [
    "distributed_prefix_sum",
    "distributed_row_number",
    "distributed_ntile",
]

# str(Column) of a sort spec prints as Column<'name [ASC|DESC]
# [NULLS FIRST|LAST]'> — the stable classic-mode repr of the underlying
# SortOrder/attribute expression.
_ORDER_RE = re.compile(
    r"^Column<'(.+?)(?: (ASC|DESC))?(?: NULLS (FIRST|LAST))?'>$"
)
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _parse_order(spec: OrderSpec) -> tuple[str, bool, bool]:
    """Normalize one order spec to ``(column, ascending, nulls_first)``.

    Accepts a column name or a simple sort Column (``F.asc``/``F.desc``
    /``.asc_nulls_last()`` … over a plain column reference). Computed
    sort EXPRESSIONS are rejected: the deterministic range boundaries
    must be collectable and re-expressible as literal comparisons, so
    callers materialize the sort key as a real column first (every
    in-repo caller already does — cell grain implies named key
    columns)."""
    if isinstance(spec, str):
        return spec, True, True
    m = _ORDER_RE.match(str(spec))
    if not m or not _IDENT_RE.match(m.group(1)):
        raise ValueError(
            "two-pass order_by must be a column name or asc()/desc() of "
            f"a plain column (got {spec}); materialize computed sort "
            "keys as columns first"
        )
    asc = (m.group(2) or "ASC") == "ASC"
    nulls_first = (m.group(3) or ("FIRST" if asc else "LAST")) == "FIRST"
    return m.group(1), asc, nulls_first


def _order_cols(specs: Sequence[tuple[str, bool, bool]]) -> list[Column]:
    out = []
    for name, asc, nulls_first in specs:
        c = F.col(name)
        if asc:
            out.append(
                c.asc_nulls_first() if nulls_first else c.asc_nulls_last()
            )
        else:
            out.append(
                c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
            )
    return out


def _is_nan(x) -> bool:
    return isinstance(x, float) and math.isnan(x)


def _row_cmp(specs: Sequence[tuple[str, bool, bool]]):
    """Python comparator matching Spark's sort order for the specs:
    NULLS FIRST/LAST as declared, NaN greater than every non-NaN (and
    equal to itself) — the same total order the boundary comparison
    expression implements."""

    def cmp(a: tuple, b: tuple) -> int:
        for (_, asc, nulls_first), x, y in zip(specs, a, b):
            if x is None or y is None:
                if x is None and y is None:
                    continue
                first = -1 if nulls_first else 1
                return first if x is None else -first
            if _is_nan(x) or _is_nan(y):
                if _is_nan(x) and _is_nan(y):
                    continue
                base = 1 if _is_nan(x) else -1
            else:
                base = (x > y) - (x < y)
            if base:
                return base if asc else -base
        return 0

    return cmp


def _sort_lt(specs: Sequence[tuple[str, bool, bool]], bound: tuple) -> Column:
    """Expression: the row sorts STRICTLY BEFORE the literal boundary
    tuple, under exactly the order ``_row_cmp`` defines. Built
    lexicographically right-to-left: lt_i OR (eq_i AND rest)."""
    expr = F.lit(False)
    for (name, asc, nulls_first), v in reversed(list(zip(specs, bound))):
        c = F.col(name)
        if v is None:
            eq = c.isNull()
            # nulls first: nothing sorts before a null boundary;
            # nulls last: every non-null does
            lt = F.lit(False) if nulls_first else c.isNotNull()
        else:
            lit = F.lit(v)
            eq = c.eqNullSafe(lit)
            before = (c < lit) if asc else (c > lit)
            lt = F.when(c.isNull(), F.lit(nulls_first)).otherwise(before)
        expr = lt | (eq & expr)
    return expr


def _pid_expr(
    specs: Sequence[tuple[str, bool, bool]], bounds: list[tuple]
) -> Column:
    """``__pid`` = number of split keys at-or-before the row, as a
    balanced binary ``when``-tree: log2(len(bounds)) comparisons per
    row, all literal — deterministic under any retry or re-plan."""
    if not bounds:
        return F.lit(0)

    def tree(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(_sort_lt(specs, bounds[mid]), tree(lo, mid)).otherwise(
            tree(mid + 1, hi)
        )

    return tree(0, len(bounds)).cast("int")


def _range_boundaries(
    df: DataFrame, specs: Sequence[tuple[str, bool, bool]], n: int
) -> list[tuple]:
    """Collect ``n-1`` evenly spaced split keys from a bottom-target
    hash sample of the order key (the TeraSort sampling step as ONE
    TakeOrdered job: per-partition heaps of ``target`` rows, bounded
    merge — no count pass, no ``rand()``). Sample size ~20 per range
    capped at 1e5 keys — the same budget Spark's own RangePartitioner
    uses; the collect is bounded by the cap, never by the data. The
    sample itself need not be deterministic for correctness (it is, up
    to hash ties): the splits are collected ONCE and embedded as plan
    literals, so every consumer and every retry sees one assignment
    regardless of how the sample was drawn."""
    if n <= 1:
        return []
    target = min(max(20 * n, 100), 100_000)
    names = [s[0] for s in specs]
    rows = [
        tuple(r)[:-1]
        for r in df.select(*names)
        .withColumn("__h", F.xxhash64(*names))
        .orderBy(F.asc("__h"))
        .limit(target)
        .collect()
    ]
    if len(rows) <= 1:
        return []
    cmp = _row_cmp(specs)
    rows.sort(key=functools.cmp_to_key(cmp))
    m = len(rows)
    bounds: list[tuple] = []
    for i in range(1, n):
        b = rows[(i * m) // n]
        if not bounds or cmp(bounds[-1], b) < 0:
            bounds.append(b)
    return bounds


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    if num_partitions is not None:
        return max(1, int(num_partitions))
    try:
        raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        return max(1, int(raw))
    except Exception:
        # e.g. "auto" under adaptive-partitioning platforms (and Spark 4
        # validates even the DEFAULT passed to conf.get, so no-default
        # get + catch is the portable form)
        return max(1, df.sparkSession.sparkContext.defaultParallelism)


def _range_tagged(
    df: DataFrame, order_by: Sequence[OrderSpec], n: int
) -> DataFrame:
    """Tag every row with its deterministic range index ``__pid``.

    The persist is performance-only (the boundary jobs and both
    downstream branches reread the input); correctness never depends
    on it — the split keys are plan literals (module docstring)."""
    specs = [_parse_order(o) for o in order_by]
    df = scoped_persist(df)
    bounds = _range_boundaries(df, specs, n)
    return df.withColumn("__pid", _pid_expr(specs, bounds))


def distributed_prefix_sum(
    df: DataFrame,
    order_by: Sequence[OrderSpec],
    value_col: str | Sequence[str],
    *,
    out_col: str | Sequence[str],
    exclusive: bool = False,
    num_partitions: int | None = None,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """``SUM(value_col) OVER ([PARTITION BY partition_by] ORDER BY
    order_by ROWS UNBOUNDED PRECEDING [AND 1 PRECEDING])`` computed in
    two distributed passes.

    Returns ``df``'s columns plus ``out_col`` (same type as the sum of
    ``value_col``; the exclusive form's first row is a typed zero, not
    null — matching ``COALESCE(SUM(..) OVER (.. 1 PRECEDING), 0)``).
    ``partition_by`` + ``order_by`` must uniquely key the rows (cell
    grain).

    ``value_col``/``out_col`` accept parallel sequences: several
    running sums over the SAME order share one boundary sample, one
    persist, and one window stage (e.g. a cumulative measure plus a
    running count = rank, the Pareto shape).

    ``partition_by`` is for FEW GIANT groups (a per-group ordinary
    window would hand each group to one task): the boundary sample
    splits on (groups, order), the local pass windows on (groups,
    __pid), and the carry frame holds one row per (group, touched
    range) — <= n_groups + num_partitions - 1 rows, since a group's
    pids are contiguous. With MANY small groups use a plain
    partitioned window instead — every group already fits a task, and
    the carry frame (and its join) would scale with group count; for
    that reason the grouped carry join is AQE-planned, not
    force-broadcast."""
    vals = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vals) != len(outs):
        raise ValueError("value_col and out_col lengths differ")
    grp = list(partition_by) if partition_by else []
    n = _num_partitions(df, num_partitions)
    sums = df.select(
        *[F.sum(v).alias(f"__s{i}") for i, v in enumerate(vals)]
    ).schema
    sum_types = [sums[f"__s{i}"].dataType for i in range(len(vals))]
    zeros = [F.lit(0).cast(t) for t in sum_types]
    tagged = _range_tagged(df, [*grp, *order_by], n)
    obs = _order_cols([_parse_order(o) for o in order_by])

    end = -1 if exclusive else 0
    w_local = (
        Window.partitionBy(*grp, "__pid")
        .orderBy(*obs)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = tagged.select(
        "*",
        *[
            F.coalesce(F.sum(v).over(w_local), z).alias(f"__local{i}")
            for i, (v, z) in enumerate(zip(vals, zeros))
        ],
    )

    # bounded frame: one row per (group x touched range) — the carry
    # window is per group over <= n pids by construction (unpartitioned
    # over <= n rows in the ungrouped form). Map-side partial
    # aggregation collapses each range to one row before shuffling.
    totals = tagged.groupBy(*grp, "__pid").agg(
        *[F.sum(v).alias(f"__ptot{i}") for i, v in enumerate(vals)]
    )
    w_carry = (
        Window.partitionBy(*grp)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = totals.select(
        *grp,
        "__pid",
        *[
            F.coalesce(F.sum(f"__ptot{i}").over(w_carry), z).alias(
                f"__carry{i}"
            )
            for i, z in enumerate(zeros)
        ],
    )

    if grp:
        # null-safe equality on the group keys: a null group is a
        # legitimate cell (SQL windows partition null into its own
        # group) and a plain equi-join would silently drop it
        right = carries
        for g in grp:
            right = right.withColumnRenamed(g, f"__r_{g}")
        right = right.withColumnRenamed("__pid", "__r_pid")
        cond = F.col("__pid") == F.col("__r_pid")
        for g in grp:
            cond = cond & F.col(g).eqNullSafe(F.col(f"__r_{g}"))
        out = local.join(right, cond).drop(
            "__r_pid", *[f"__r_{g}" for g in grp]
        )
    else:
        out = local.join(F.broadcast(carries), ["__pid"])
    for i, (o, t) in enumerate(zip(outs, sum_types)):
        out = out.withColumn(
            o,
            (F.col(f"__local{i}") + F.col(f"__carry{i}")).cast(t),
        )
    return out.drop(
        "__pid",
        *[f"__local{i}" for i in range(len(vals))],
        *[f"__carry{i}" for i in range(len(vals))],
    )


def distributed_row_number(
    df: DataFrame,
    order_by: Sequence[OrderSpec],
    *,
    out_col: str = "rn",
    num_partitions: int | None = None,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER ([PARTITION BY partition_by] ORDER BY
    order_by)`` (1-based) as the inclusive distributed prefix sum of
    ones. ``partition_by`` + ``order_by`` must be a total order — with
    ties ROW_NUMBER is not well-defined in any engine, so requiring
    uniqueness loses nothing (and when tied rows are interchangeable
    for the downstream output, an output-column tiebreak restores
    determinism — the sample_neyman_allocation lesson)."""
    with_one = df.withColumn("__one", F.lit(1).cast("long"))
    out = distributed_prefix_sum(
        with_one,
        order_by,
        "__one",
        out_col=out_col,
        exclusive=False,
        num_partitions=num_partitions,
        partition_by=partition_by,
    )
    return out.drop("__one")


def distributed_ntile(
    df: DataFrame,
    order_by: Sequence[OrderSpec],
    n_tiles: int,
    *,
    out_col: str,
    num_partitions: int | None = None,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """``NTILE(n) OVER ([PARTITION BY partition_by] ORDER BY
    order_by)`` via the distributed row number and the closed form of
    SQL NTILE: with N rows and k tiles, ``q = N div k``,
    ``r = N mod k``, the first ``r`` tiles hold ``q+1`` rows — row
    ``i`` (0-based) lands in tile ``i div (q+1) + 1`` when
    ``i < r*(q+1)``, else ``r + (i - r*(q+1)) div q + 1``. Exact
    integer arithmetic (SQL ``DIV``), never a global window. In the
    grouped form N is each group's own row count (null-safe group
    join, like the prefix sum's carries)."""
    k = int(n_tiles)
    grp = list(partition_by) if partition_by else []
    rn = distributed_row_number(
        df,
        order_by,
        out_col="__rn",
        num_partitions=num_partitions,
        partition_by=partition_by,
    )
    if grp:
        totals = rn.groupBy(*grp).agg(
            F.count(F.lit(1)).cast("long").alias("__N")
        )
        right = totals
        for g in grp:
            right = right.withColumnRenamed(g, f"__r_{g}")
        cond = None
        for g in grp:
            c = F.col(g).eqNullSafe(F.col(f"__r_{g}"))
            cond = c if cond is None else (cond & c)
        j = rn.join(right, cond).drop(*[f"__r_{g}" for g in grp])
    else:
        total = rn.agg(F.count(F.lit(1)).cast("long").alias("__N"))
        j = rn.crossJoin(F.broadcast(total))
    j = (
        j.withColumn("__i", (F.col("__rn") - 1).cast("long"))
        .withColumn("__q", F.expr(f"__N DIV {k}"))
        .withColumn("__r", F.expr(f"__N % {k}"))
    )
    # q = 0 (N < k) puts every row in the first branch; the DIV-by-zero
    # in the unreached branch folds to null, never evaluated
    tile = (
        F.when(
            F.col("__i") < F.col("__r") * (F.col("__q") + 1),
            F.expr("__i DIV (__q + 1)"),
        ).otherwise(
            F.col("__r") + F.expr("(__i - __r * (__q + 1)) DIV __q")
        )
        + 1
    )
    return (
        j.withColumn(out_col, tile.cast("long"))
        .drop("__rn", "__i", "__q", "__r", "__N")
    )
