"""Column profiling: the "data card" operator.

``profile(df)`` computes, in a bounded number of passes over the data,
one summary row per column: row count, null count, exact distinct
count, and min/max rendered as strings. This is the first query anyone
runs against an unfamiliar 100 TB table, so its plan matters:

- All per-column aggregates land in ONE ``agg`` (single scan). Exact
  multi-column ``count(distinct)`` makes Spark plan an Expand (one
  duplicated stream per distinct column — n_cols × scan volume in the
  shuffle). That is the price of exactness; pass ``exact=False`` for
  the production profile, which swaps in ``approx_count_distinct``
  (HLL, one stream, no Expand) — the same trade the oracle-gated
  ``agg_approx_distinct`` query documents.
- The wide 1-row result is unpivoted driver-side (it is n_cols cells,
  not data) — no stack/explode stage over the corpus.

Min/max string rendering: integers, strings, dates, and timestamps
format identically across engines; DOUBLE formatting does not
(``1.0E5`` vs ``100000.0``), so float columns are rendered through
``DECIMAL(38, 6)`` — exact for the comparison the profile supports and
engine-portable.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.exec import local_frame


def _render(col, dt) -> "F.Column":
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return col.cast("decimal(38,6)").cast("string")
    return col.cast("string")


def profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    exact: bool = True,
) -> DataFrame:
    """One row per column: (column, n_rows, n_nulls, n_distinct,
    min_value, max_value) — strings for min/max so heterogeneous
    columns share a schema. ``exact=False`` uses HLL distinct counts
    (±2.3 % default rsd) and avoids the Expand blow-up at scale."""
    cols = list(columns) if columns is not None else list(df.columns)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"profile columns not in schema: {missing}")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        col = F.col(c)
        distinct = (
            F.count_distinct(col)
            if exact
            else F.approx_count_distinct(col)
        )
        aggs += [
            F.count(col).alias(f"__nn_{c}"),
            distinct.alias(f"__nd_{c}"),
            _render(F.min(col), dtypes[c]).alias(f"__mn_{c}"),
            _render(F.max(col), dtypes[c]).alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]

    out_rows = [
        (
            c,
            int(row["__rows"]),
            int(row["__rows"]) - int(row[f"__nn_{c}"]),
            int(row[f"__nd_{c}"]),
            row[f"__mn_{c}"],
            row[f"__mx_{c}"],
        )
        for c in cols
    ]
    schema = T.StructType(
        [
            T.StructField("column", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_nulls", T.LongType(), False),
            T.StructField("n_distinct", T.LongType(), False),
            T.StructField("min_value", T.StringType(), True),
            T.StructField("max_value", T.StringType(), True),
        ]
    )
    return local_frame(df.sparkSession, out_rows, schema)


def histogram(
    df: "DataFrame",
    value_col: str,
    n_buckets: int = 16,
) -> "DataFrame":
    """Equi-width histogram of a numeric column — the profiling
    companion to :func:`profile`'s min/max card: (bucket, lo, hi, n).

    Two aggregates: one whole-frame (min, max) broadcast back, one
    keyed on the bucket index floor((v - min) · k / (max - min))
    clamped to [0, k-1]. All-double arithmetic on identical inputs is
    engine-deterministic (no rounding needed for the INDEX; bucket
    EDGES are reported rounded for display). NULLs are excluded; a
    constant column lands entirely in bucket 0."""
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    bounds = df.filter(v.isNotNull()).agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    span = F.col("__hi") - F.col("__lo")
    idx = F.when(span == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.floor((v - F.col("__lo")) * n_buckets / span).cast("int"),
        )
    )
    return (
        df.filter(v.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(idx.alias("bucket"), "__lo", "__hi")
        .groupBy("bucket")
        .agg(
            F.round(
                F.first("__lo")
                + F.col("bucket") * (F.first("__hi") - F.first("__lo"))
                / n_buckets,
                6,
            ).alias("lo"),
            F.round(
                F.first("__lo")
                + (F.col("bucket") + 1)
                * (F.first("__hi") - F.first("__lo"))
                / n_buckets,
                6,
            ).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def winsorized_stats(
    df,
    value_col: str,
    group_cols=(),
    lower: float = 0.05,
    upper: float = 0.95,
    id_col: str = "doc_id",
):
    """Per-group winsorized summary: clamp ``value_col`` into the
    [lower, upper] order-statistic envelope and report robust stats —
    the outlier-tolerant length/score profile a curation pipeline uses
    to set admission thresholds without a handful of 100 MB documents
    dragging the mean.

    Order statistics are EXACT by rank (the value at row ``ceil(q·n)``
    of the (value, id) ascending order), not interpolated — interpolated
    percentiles differ across engines in the last ulp, rank-based ones
    are bit-identical, so the DuckDB oracle reproduces them exactly.

    Scale shape: one window (rank within group — the same shuffle a
    percentile would need), one broadcast join of the |groups|-row
    envelope, one final agg. Integer value columns accumulate in BIGINT
    and the mean divides two exact integers once (single IEEE op,
    engine-portable). FRACTIONAL value columns (float/double/decimal)
    are handled too: values round into DECIMAL(38,6) — exact to 6
    places and order-independent under summation, where a raw double
    sum would depend on row order — and the outputs (lo, hi,
    winsorized_sum) come back as DECIMAL(38,6).

    Returns one row per group: (*group_cols, n_rows, lo, hi,
    n_clamped_low, n_clamped_high, winsorized_sum, winsorized_mean).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower},{upper}")
    vtype = df.schema[value_col].dataType
    integral = isinstance(
        vtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    vexpr = (
        F.col(value_col).cast("long")
        if integral
        else F.round(F.col(value_col).cast("double"), 6).cast(
            "decimal(38,6)"
        )
    )
    groups = list(group_cols)
    gcols = [F.col(g) for g in groups]
    base = df.select(F.col(id_col), *gcols, vexpr.alias("__v"))
    w = Window.partitionBy(*groups).orderBy("__v", id_col)
    ranked = base.withColumn("__rn", F.row_number().over(w))
    counts = base.groupBy(*groups).agg(F.count(F.lit(1)).alias("__n"))
    lo_rank = F.ceil(F.lit(lower) * F.col("__n")).cast("int")
    hi_rank = F.ceil(F.lit(upper) * F.col("__n")).cast("int")
    marks = counts.select(
        *groups,
        "__n",
        F.greatest(F.lit(1), lo_rank).alias("__lor"),
        F.greatest(F.lit(1), hi_rank).alias("__hir"),
    )
    def _gjoin(left, right):
        # group-keyed broadcast join; whole-frame mode (no groups) is a
        # broadcast cross join against the single stats row
        if groups:
            return left.join(F.broadcast(right), groups)
        return left.crossJoin(F.broadcast(right))

    env = (
        _gjoin(ranked, marks)
        .filter((F.col("__rn") == F.col("__lor")) | (F.col("__rn") == F.col("__hir")))
        .groupBy(*groups)
        .agg(
            F.min(F.when(F.col("__rn") == F.col("__lor"), F.col("__v"))).alias("lo"),
            F.max(F.when(F.col("__rn") == F.col("__hir"), F.col("__v"))).alias("hi"),
        )
    )
    clamped = _gjoin(base, env).select(
        *gcols,
        "__v",
        "lo",
        "hi",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("__v"))).alias("__w"),
    )
    return (
        clamped.groupBy(*groups)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum((F.col("__v") < F.col("lo")).cast("int")).alias(
                "n_clamped_low"
            ),
            F.sum((F.col("__v") > F.col("hi")).cast("int")).alias(
                "n_clamped_high"
            ),
            F.sum("__w").alias("winsorized_sum"),
            F.round(
                F.sum("__w").cast("double") / F.count(F.lit(1)), 6
            ).alias("winsorized_mean"),
        )
    )


def grouped_exact_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: float,
    out_col: str = "quantile",
) -> DataFrame:
    """Exact linear-interpolated quantile per group, with the
    interpolation arithmetic PINNED so two engines compute the same
    double bit-for-bit (the portable-quantile problem: engines agree on
    the (n-1)·q rank convention but not on the interpolation expression
    — ``lo + (hi-lo)·f`` vs ``lo·(1-f) + hi·f`` differ in the last ulp).

    Construction (one window sort per group, never a collect):
    rank every row (row_number over value order), keep ONLY the
    floor/ceil ranks of k = (n-1)·q, and interpolate
    ``v_lo + (v_hi - v_lo) * (k - floor(k))``. (n-1)·q is exact in
    doubles for q with a short binary expansion (0.25 / 0.5 / 0.75) and
    n < 2^51, so the kept ranks — and therefore the result — are
    engine-deterministic. An oracle must spell the SAME expression.

    Returns one row per group: (*keys, out_col). At 100 TB this is the
    scalable exact-quantile plan: the window sort shuffles once on the
    group key (same cost class as any percentile aggregate), and the
    interpolation touches two rows per group.
    """
    from pyspark.sql.window import Window

    ks = list(keys)
    w = Window.partitionBy(*ks).orderBy(value_col)
    wcnt = Window.partitionBy(*ks)
    ranked = df.select(
        *ks,
        F.col(value_col).cast("double").alias("__v"),
    ).select(
        *ks,
        "__v",
        (F.row_number().over(w.orderBy("__v")) - 1).alias("__i"),
        F.count(F.lit(1)).over(wcnt).alias("__n"),
    )
    k = (F.col("__n") - 1).cast("double") * F.lit(float(q))
    lo = F.floor(k).cast("long")
    hi = F.ceil(k).cast("long")
    picked = ranked.filter(
        (F.col("__i") == lo) | (F.col("__i") == hi)
    )
    return picked.groupBy(*ks).agg(
        (
            F.min(F.when(F.col("__i") == lo, F.col("__v")))
            + (
                F.max(F.when(F.col("__i") == hi, F.col("__v")))
                - F.min(F.when(F.col("__i") == lo, F.col("__v")))
            )
            * (
                F.min(k) - F.min(lo.cast("double"))
            )
        ).alias(out_col)
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    bucket_width: float = 10.0,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two groups'
    value distributions — the standard distribution-drift test between
    two corpus slices (old/new crawl, source A/B) before mixing them.

    D = sup_x |F_a(x) − F_b(x)| computed EXACTLY and engine-portably:
    everything stays integer until one final division —
    max|c_a·n_b − c_b·n_a| / (n_a·n_b) — so the sup is found over
    integers (no float ECDF accumulation order to disagree on).

    Scale shape — the distributed-ECDF construction, deliberately NOT a
    single global cumulative window (which would be one partition doing
    all the work at 100 TB):

    1. per-value counts per group (keyed aggregate);
    2. per-BUCKET totals (floor(value/width) — a second small keyed
       aggregate) with bucket-level exclusive prefix sums over the
       bucket frame only (tiny: one window over #buckets rows);
    3. within-bucket cumulative counts (window partitioned BY BUCKET —
       parallel across buckets) plus the broadcast bucket offsets.

    Returns ONE row: (n_a, n_b, ks_num, ks) with ks = ks_num/(n_a·n_b)
    rounded(9).
    """
    from pyspark.sql.window import Window

    w = F.lit(float(bucket_width))
    src = df.filter(
        F.col(group_col).isin([group_a, group_b])
    ).select(
        F.col(value_col).cast("double").alias("__v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__ia"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).alias("__ib"),
    )
    per_value = src.groupBy("__v").agg(
        F.sum("__ia").alias("__ca"), F.sum("__ib").alias("__cb")
    ).withColumn("__bkt", F.floor(F.col("__v") / w).cast("long"))
    bucket_tot = per_value.groupBy("__bkt").agg(
        F.sum("__ca").alias("__ta"),
        F.sum("__cb").alias("__tb"),
    )
    wb = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_tot.select(
        "__bkt",
        F.coalesce(F.sum("__ta").over(wb), F.lit(0)).alias("__offa"),
        F.coalesce(F.sum("__tb").over(wb), F.lit(0)).alias("__offb"),
    )
    wv = (
        Window.partitionBy("__bkt")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        per_value.join(F.broadcast(offsets), "__bkt")
        .select(
            (F.col("__offa") + F.sum("__ca").over(wv)).alias("__cuma"),
            (F.col("__offb") + F.sum("__cb").over(wv)).alias("__cumb"),
        )
    )
    totals = src.agg(
        F.sum("__ia").alias("n_a"), F.sum("__ib").alias("n_b")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.max(
                F.abs(
                    F.col("__cuma") * F.col("n_b")
                    - F.col("__cumb") * F.col("n_a")
                )
            ).alias("ks_num"),
        )
        .select(
            "n_a",
            "n_b",
            "ks_num",
            F.round(
                F.col("ks_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                9,
            ).alias("ks"),
        )
    )
