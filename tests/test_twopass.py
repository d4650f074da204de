"""Property tests for functions/twopass.py: the two-pass distributed
prefix sum / row number / NTILE must equal the single-window SQL forms
on arbitrary uniquely-keyed data, across partition counts (including
counts that force many range partitions and counts larger than the
row count), signed values, decimal types, and descending orders.

These are the equality proofs the r11 verdict asked for before the
staged insights queries migrate off their global windows."""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from datarepo_spark.functions.twopass import (
    distributed_ntile,
    distributed_prefix_sum,
    distributed_row_number,
)


def _mkdf(spark, n, seed, signed=True):
    rng = random.Random(seed)
    lo = -50 if signed else 0
    rows = [
        (k, rng.randint(lo, 50))
        for k in rng.sample(range(n * 20), n)
    ]
    return spark.createDataFrame(rows, "k long, v long")


class TestPrefixSum:
    @pytest.mark.parametrize("parts", [1, 3, 7, 64])
    def test_inclusive_matches_window(self, spark, parts):
        df = _mkdf(spark, 400, seed=parts)
        got = {
            r.k: r.cum
            for r in distributed_prefix_sum(
                df, ["k"], "v", out_col="cum", num_partitions=parts
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r.k: r.cum
            for r in df.select(
                "k", F.sum("v").over(w).alias("cum")
            ).collect()
        }
        assert got == want

    @pytest.mark.parametrize("parts", [3, 64])
    def test_exclusive_matches_window(self, spark, parts):
        df = _mkdf(spark, 300, seed=100 + parts)
        got = {
            r.k: r.cum
            for r in distributed_prefix_sum(
                df,
                ["k"],
                "v",
                out_col="cum",
                exclusive=True,
                num_partitions=parts,
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            r.k: r.cum
            for r in df.select(
                "k",
                F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cum"),
            ).collect()
        }
        assert got == want

    def test_multi_value_single_pass(self, spark):
        """Several running sums over one order (the Pareto shape):
        cumulative measure + running count in one call."""
        df = _mkdf(spark, 250, seed=9).withColumn(
            "one", F.lit(1).cast("long")
        )
        out = distributed_prefix_sum(
            df,
            [F.desc("v"), F.asc("k")],
            ["v", "one"],
            out_col=["cum", "rn"],
            num_partitions=7,
        )
        got = {r.k: (r.cum, r.rn) for r in out.collect()}
        w = Window.orderBy(F.desc("v"), F.asc("k")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        want = {
            r.k: (r.cum, r.rn)
            for r in df.select(
                "k",
                F.sum("v").over(w).alias("cum"),
                F.sum("one").over(w).alias("rn"),
            ).collect()
        }
        assert got == want

    def test_decimal_values_exact(self, spark):
        df = _mkdf(spark, 200, seed=5).select(
            "k",
            (F.col("v").cast("decimal(38,6)") / 7).cast(
                "decimal(38,6)"
            ).alias("v"),
        )
        got = {
            r.k: r.cum
            for r in distributed_prefix_sum(
                df, ["k"], "v", out_col="cum", num_partitions=11
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r.k: r.cum
            for r in df.select(
                "k", F.sum("v").over(w).alias("cum")
            ).collect()
        }
        assert got == want

    @pytest.mark.parametrize("parts", [3, 16])
    def test_grouped_matches_partitioned_window(self, spark, parts):
        """partition_by (the few-giant-groups form): per-group running
        sums must equal PARTITION BY windows, including single-row and
        cross-range-boundary groups."""
        rng = random.Random(77 + parts)
        rows = [
            (rng.choice(["a", "b", "c"]), k, rng.randint(-9, 9))
            for k in rng.sample(range(8000), 400)
        ]
        df = spark.createDataFrame(rows, "g string, k long, v long")
        got = {
            (r.g, r.k): r.cum
            for r in distributed_prefix_sum(
                df,
                ["k"],
                "v",
                out_col="cum",
                partition_by=["g"],
                num_partitions=parts,
            ).collect()
        }
        w = (
            Window.partitionBy("g")
            .orderBy("k")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = {
            (r.g, r.k): r.cum
            for r in df.select(
                "g", "k", F.sum("v").over(w).alias("cum")
            ).collect()
        }
        assert got == want

    def test_grouped_null_group_key_survives(self, spark):
        """A null group is a legitimate window partition — the carry
        join must be null-safe, not silently drop it."""
        rows = [("a", 1, 5), (None, 2, 7), (None, 3, 11), ("a", 4, 2)]
        df = spark.createDataFrame(rows, "g string, k long, v long")
        got = {
            (r.g, r.k): r.cum
            for r in distributed_prefix_sum(
                df,
                ["k"],
                "v",
                out_col="cum",
                partition_by=["g"],
                num_partitions=3,
            ).collect()
        }
        w = (
            Window.partitionBy("g")
            .orderBy("k")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = {
            (r.g, r.k): r.cum
            for r in df.select(
                "g", "k", F.sum("v").over(w).alias("cum")
            ).collect()
        }
        assert got == want
        assert (None, 3) in got and got[(None, 3)] == 18

    def test_empty_frame(self, spark):
        df = _mkdf(spark, 10, seed=1).filter(F.lit(False))
        assert (
            distributed_prefix_sum(
                df, ["k"], "v", out_col="cum", num_partitions=4
            ).count()
            == 0
        )

    def test_correct_without_persist(self, spark, monkeypatch):
        """The r12 verdict's hardening contract: __pid assignment must
        not rest on a physical-plan property. With scoped_persist
        monkeypatched to identity (the exact refactor hazard named in
        VERDICT r12 #3 — a dropped persist), the literal-boundary tags
        still agree across the local and carry branches and the result
        is exact."""
        from datarepo_spark.functions import twopass

        monkeypatch.setattr(twopass, "scoped_persist", lambda df: df)
        df = _mkdf(spark, 300, seed=42)
        got = {
            r.k: r.cum
            for r in distributed_prefix_sum(
                df, ["k"], "v", out_col="cum", num_partitions=16
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r.k: r.cum
            for r in df.select(
                "k", F.sum("v").over(w).alias("cum")
            ).collect()
        }
        assert got == want

    def test_no_nondeterministic_tag_in_plan(self, spark):
        """The range tag is a literal-boundary expression — neither
        SPARK_PARTITION_ID nor any other nondeterministic expression
        may appear anywhere in the two-pass plan (retry safety without
        the r12 persist-pinning argument)."""
        df = _mkdf(spark, 150, seed=3)
        plan = (
            distributed_prefix_sum(
                df, ["k"], "v", out_col="cum", num_partitions=8
            )
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "SPARK_PARTITION_ID" not in plan
        assert "spark_partition_id" not in plan

    def test_null_order_keys_desc_nulls_last(self, spark):
        """Null order keys must land in the range the sort order
        dictates (desc => NULLS LAST), even when a collected boundary
        itself is null."""
        rows = [(i, float(v)) for i, v in enumerate(range(40))]
        df = spark.createDataFrame(rows, "k long, v double").withColumn(
            "v", F.when(F.col("k") % 7 == 0, None).otherwise(F.col("v"))
        )
        # order by v desc (nulls last), tiebreak k asc for a total order
        order = [F.desc("v"), F.asc("k")]
        got = {
            r.k: r.rn
            for r in distributed_row_number(
                df, order, num_partitions=6
            ).collect()
        }
        want = {
            r.k: r.rn
            for r in df.select(
                "k",
                F.row_number()
                .over(Window.orderBy(F.desc("v"), F.asc("k")))
                .cast("long")
                .alias("rn"),
            ).collect()
        }
        assert got == want

    def test_computed_sort_expression_rejected(self, spark):
        df = _mkdf(spark, 10, seed=8)
        with pytest.raises(ValueError, match="plain column"):
            distributed_prefix_sum(
                df,
                [F.col("k") + 1],
                "v",
                out_col="cum",
                num_partitions=4,
            ).collect()

    def test_shuffle_partitions_conf_fallback(self, spark):
        """A non-numeric spark.sql.shuffle.partitions (e.g. "auto" on
        adaptive platforms) must fall back to defaultParallelism, not
        raise at plan time (r12 ADVICE)."""
        from types import SimpleNamespace

        from datarepo_spark.functions.twopass import _num_partitions

        # a real session rejects non-numeric values for this conf, so
        # the platform shape is stubbed
        fake = SimpleNamespace(
            sparkSession=SimpleNamespace(
                conf=SimpleNamespace(get=lambda key, default=None: "auto"),
                sparkContext=SimpleNamespace(defaultParallelism=24),
            )
        )
        assert _num_partitions(fake, None) == 24
        assert _num_partitions(fake, 7) == 7

    def test_every_window_is_pid_scoped(self, spark):
        """The plan invariant: no Window node orders the corpus in one
        task — every Window line mentions __pid (the local pass is
        partitioned by it; the carry pass orders the bounded
        per-partition totals frame by it)."""
        df = _mkdf(spark, 100, seed=2)
        plan = (
            distributed_prefix_sum(
                df, ["k"], "v", out_col="cum", num_partitions=8
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        lines = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert lines, "expected Window nodes in the two-pass plan"
        for ln in lines:
            assert "__pid" in ln, ln


class TestRowNumberNtile:
    def test_row_number_matches_window(self, spark):
        df = _mkdf(spark, 350, seed=21)
        order = [F.desc("v"), F.asc("k")]
        got = {
            r.k: r.rn
            for r in distributed_row_number(
                df, order, num_partitions=13
            ).collect()
        }
        want = {
            r.k: r.rn
            for r in df.select(
                "k",
                F.row_number()
                .over(Window.orderBy(F.desc("v"), F.asc("k")))
                .cast("long")
                .alias("rn"),
            ).collect()
        }
        assert got == want

    def test_grouped_row_number_matches_partitioned_window(self, spark):
        rng = random.Random(31)
        rows = [
            (rng.choice(["a", "b", None]), k, rng.randint(0, 99))
            for k in rng.sample(range(5000), 300)
        ]
        df = spark.createDataFrame(rows, "g string, k long, v long")
        got = {
            (r.g, r.k): r.rn
            for r in distributed_row_number(
                df,
                [F.desc("v"), F.asc("k")],
                partition_by=["g"],
                num_partitions=7,
            ).collect()
        }
        w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
        want = {
            (r.g, r.k): r.rn
            for r in df.select(
                "g", "k",
                F.row_number().over(w).cast("long").alias("rn"),
            ).collect()
        }
        assert got == want

    @pytest.mark.parametrize("k", [4, 7])
    def test_grouped_ntile_matches_partitioned_window(self, spark, k):
        rng = random.Random(37 + k)
        rows = [
            (rng.choice(["a", "b", "c"]), i)
            for i in rng.sample(range(4000), 211)
        ]
        df = spark.createDataFrame(rows, "g string, k long")
        got = {
            (r.g, r.k): r.t
            for r in distributed_ntile(
                df, ["k"], k, out_col="t",
                partition_by=["g"], num_partitions=5,
            ).collect()
        }
        w = Window.partitionBy("g").orderBy("k")
        want = {
            (r.g, r.k): r.t
            for r in df.select(
                "g", "k",
                F.ntile(k).over(w).cast("long").alias("t"),
            ).collect()
        }
        assert got == want

    @pytest.mark.parametrize(
        "n,k", [(229, 5), (229, 13), (3, 5), (1, 4), (229, 229), (229, 400)]
    )
    def test_ntile_closed_form_matches_sql(self, spark, n, k):
        """NTILE's uneven-tile rule (first N%k tiles get the extra
        row) must hold for every divisibility shape, including
        fewer rows than tiles."""
        df = _mkdf(spark, n, seed=n * 1000 + k)
        got = {
            r.k: r.t
            for r in distributed_ntile(
                df, ["k"], k, out_col="t", num_partitions=7
            ).collect()
        }
        want = {
            r.k: r.t
            for r in df.select(
                "k",
                F.ntile(k)
                .over(Window.orderBy("k"))
                .cast("long")
                .alias("t"),
            ).collect()
        }
        assert got == want
