"""Incremental view maintenance: the maintained aggregate must always
equal a from-scratch GROUP BY of the source's current content."""

import json

from pyspark.sql import functions as F

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import delete_delta, write_delta
from datarepo_spark.tables.ivm import IncrementalAggregate


def _src_df(spark, rows):
    return spark.createDataFrame(
        rows, "k long, grp string, x double"
    )


def _recompute(spark, uri):
    src = DeltalakeTable("src", uri)(spark=spark)
    rows = (
        src.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("x").cast("decimal(38,6)")).alias("sum_x"),
        )
        .collect()
    )
    return sorted(
        ((r["grp"] or "", r["grp"] is None), r["n_rows"], str(r["sum_x"]))
        for r in rows
    )


def _view(spark, agg):
    df = agg.read(spark)
    if df is None:
        return []
    return sorted(
        ((r["grp"] or "", r["grp"] is None), r["n_rows"], str(r["sum_x"]))
        for r in df.collect()
    )


def _mk(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "cursor.json"),
    )


class TestIncrementalAggregate:
    def test_tracks_source_through_changes(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = IncrementalAggregate(src, dst, ckpt, ["grp"], ["x"])

        write_delta(
            _src_df(spark, [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 1.0)]),
            src,
        )
        assert agg.advance(spark) == 0
        assert _view(spark, agg) == _recompute(spark, src)

        # more appends + a DV delete, applied in ONE advance
        write_delta(
            _src_df(spark, [(4, "b", 2.0), (5, "c", 7.5)]),
            src,
        )
        delete_delta(spark, src, [Filter("k", "=", 2)])
        assert agg.advance(spark) == 2
        assert _view(spark, agg) == _recompute(spark, src)
        assert agg.advance(spark) is None  # caught up

    def test_group_vanishes_when_emptied(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = IncrementalAggregate(src, dst, ckpt, ["grp"], ["x"])
        write_delta(
            _src_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
            src,
        )
        agg.advance(spark)
        delete_delta(spark, src, [Filter("grp", "=", "b")])
        agg.advance(spark)
        assert _view(spark, agg) == [(("a", False), 1, "1.000000")]
        assert _view(spark, agg) == _recompute(spark, src)

    def test_crash_replay_does_not_double_apply(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = IncrementalAggregate(src, dst, ckpt, ["grp"], ["x"])
        write_delta(
            _src_df(spark, [(1, "a", 10.0)]), src,
        )
        agg.advance(spark)
        write_delta(
            _src_df(spark, [(2, "a", 5.0)]), src,
        )
        agg.advance(spark)
        want = _view(spark, agg)

        # simulate a crash BEFORE the cursor ack of version 1: rewind the
        # cursor and re-apply — the SetTransaction ledger must swallow it
        with open(ckpt, "w", encoding="utf-8") as fh:
            json.dump({"last_version": 0}, fh)
        assert agg.advance(spark) == 1
        assert _view(spark, agg) == want
        assert _view(spark, agg) == _recompute(spark, src)

    def test_multiple_groups_and_sums(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = IncrementalAggregate(src, dst, ckpt, ["grp"], ["x"])
        rows = [(i, "abc"[i % 3], float(i)) for i in range(30)]
        write_delta(_src_df(spark, rows), src)
        agg.advance(spark)
        delete_delta(spark, src, [Filter("k", "<", 10)])
        write_delta(
            _src_df(spark, [(100, "d", 1.25)]), src,
        )
        agg.advance(spark)
        assert _view(spark, agg) == _recompute(spark, src)

    def test_null_group_keys_merge_correctly(self, spark, tmp_path):
        """NULL group values must update-in-place across advances, not
        append a fresh NULL row each time (the joins are null-unsafe;
        the surrogate group key makes them exact)."""
        src, dst, ckpt = _mk(tmp_path)
        agg = IncrementalAggregate(src, dst, ckpt, ["grp"], ["x"])
        write_delta(
            _src_df(spark, [(1, None, 5.0), (2, "a", 1.0)]),
            src,
        )
        agg.advance(spark)
        write_delta(
            _src_df(spark, [(3, None, 2.0)]), src,
        )
        agg.advance(spark)
        got = _view(spark, agg)
        assert got == _recompute(spark, src)
        assert sum(1 for (_, isnull), *_ in got if isnull) == 1
        # and deleting one NULL-group row updates, not duplicates
        delete_delta(spark, src, [Filter("k", "=", 1)])
        agg.advance(spark)
        assert _view(spark, agg) == _recompute(spark, src)


    def test_group_key_encoding_not_injectable(self, spark, tmp_path):
        """Values containing the old separator must not collide across
        multi-column group tuples (length-prefixed encoding)."""
        src, dst, ckpt = _mk(tmp_path)
        agg = IncrementalAggregate(
            src, dst, ckpt, ["grp", "grp2"], ["x"]
        )
        rows = [
            (1, "x\u0001v:y", "z", 1.0),
            (2, "x", "y\u0001v:z", 1.0),
        ]
        write_delta(
            spark.createDataFrame(
                rows, "k long, grp string, grp2 string, x double"
            ),
            src,
        )
        agg.advance(spark)
        df = agg.read(spark)
        assert df.count() == 2  # two distinct groups, never merged


def _recompute_mm(spark, uri):
    src = DeltalakeTable("src", uri)(spark=spark)
    rows = (
        src.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("x").cast("decimal(38,6)")).alias("sum_x"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
        )
        .collect()
    )
    return sorted(
        (
            (r["grp"] or "", r["grp"] is None),
            r["n_rows"],
            str(r["sum_x"]),
            r["min_x"],
            r["max_x"],
            str((r["sum_x"] / r["n_rows"]))[:12],
        )
        for r in rows
    )


def _view_mm(spark, agg):
    df = agg.read(spark)
    if df is None:
        return []
    return sorted(
        (
            (r["grp"] or "", r["grp"] is None),
            r["n_rows"],
            str(r["sum_x"]),
            r["min_x"],
            r["max_x"],
            str(r["avg_x"])[:12],
        )
        for r in df.collect()
    )


class TestMinMaxAvg:
    """VERDICT r4 #7: MIN/MAX under deletes via bounded re-derivation
    of only the delete-affected groups; AVG derived from sum/count."""

    def _agg(self, src, dst, ckpt):
        return IncrementalAggregate(
            src, dst, ckpt, ["grp"], ["x"],
            minmax_cols=["x"], avg_cols=["x"],
        )

    def test_insert_only_maintenance(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = self._agg(src, dst, ckpt)
        write_delta(
            _src_df(spark, [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 1.0)]),
            src,
        )
        agg.advance(spark)
        assert _view_mm(spark, agg) == _recompute_mm(spark, src)
        write_delta(
            _src_df(spark, [(4, "a", -3.0), (5, "b", 99.0)]),
            src,
        )
        agg.advance(spark)
        assert _view_mm(spark, agg) == _recompute_mm(spark, src)

    def test_delete_of_current_extrema_rederives(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = self._agg(src, dst, ckpt)
        write_delta(
            _src_df(
                spark,
                [
                    (1, "a", 10.0),  # a's max
                    (2, "a", 5.0),
                    (3, "a", -1.0),  # a's min
                    (4, "b", 7.0),
                    (5, "b", 2.0),
                ],
            ),
            src,
        )
        agg.advance(spark)
        # delete BOTH of a's extrema; b untouched
        delete_delta(spark, src, [Filter("k", "in", [1, 3])])
        agg.advance(spark)
        view = _view_mm(spark, agg)
        assert view == _recompute_mm(spark, src)
        a = next(v for v in view if v[0] == ("a", False))
        assert (a[3], a[4]) == (5.0, 5.0)  # re-derived, not stale

    def test_delete_of_non_extremum_no_rederive_needed(self, spark, tmp_path):
        src, dst, ckpt = _mk(tmp_path)
        agg = self._agg(src, dst, ckpt)
        write_delta(
            _src_df(
                spark,
                [(1, "a", 10.0), (2, "a", 5.0), (3, "a", -1.0)],
            ),
            src,
        )
        agg.advance(spark)
        delete_delta(spark, src, [Filter("k", "=", 2)])  # middle value
        agg.advance(spark)
        assert _view_mm(spark, agg) == _recompute_mm(spark, src)

    def test_mixed_batch_insert_delete_same_group(self, spark, tmp_path):
        """Insert+delete folded into ONE advance: candidate min from the
        batch's inserts can be poisoned by the batch's deletes."""
        src, dst, ckpt = _mk(tmp_path)
        agg = self._agg(src, dst, ckpt)
        write_delta(
            _src_df(spark, [(1, "a", 4.0), (2, "a", 8.0)]),
            src,
        )
        agg.advance(spark)
        # one advance sees: insert 1.0, delete the old min 4.0,
        # insert 6.0 → true state {1.0, 6.0, 8.0}? no: {1.0, 6.0, 8.0}
        write_delta(
            _src_df(spark, [(3, "a", 1.0), (4, "a", 6.0)]),
            src,
        )
        delete_delta(spark, src, [Filter("k", "=", 1)])
        agg.advance(spark)
        assert _view_mm(spark, agg) == _recompute_mm(spark, src)
        # and deleting the batch-inserted min in the SAME batch as its
        # insert (classic fold hazard)
        write_delta(
            _src_df(spark, [(5, "a", -9.0)]),
            src,
        )
        delete_delta(spark, src, [Filter("k", "=", 5)])
        agg.advance(spark)
        assert _view_mm(spark, agg) == _recompute_mm(spark, src)

    def test_crash_replay_minmax(self, spark, tmp_path):
        """Replaying an advance (stale cursor) must not corrupt
        min/max: the ledger skips the merge, the source-at-version read
        makes a re-derivation deterministic."""
        src, dst, ckpt = _mk(tmp_path)
        agg = self._agg(src, dst, ckpt)
        write_delta(
            _src_df(spark, [(1, "a", 3.0), (2, "a", 9.0)]),
            src,
        )
        agg.advance(spark)
        delete_delta(spark, src, [Filter("k", "=", 2)])
        agg.advance(spark)
        before = _view_mm(spark, agg)
        # simulate crash-before-ack: rewind the cursor and re-advance
        with open(ckpt) as fh:
            state = json.load(fh)
        state["last_version"] = 1
        with open(ckpt, "w") as fh:
            json.dump(state, fh)
        agg2 = self._agg(src, dst, ckpt)
        agg2.advance(spark)
        assert _view_mm(spark, agg2) == before == _recompute_mm(spark, src)

    def test_insert_only_plan_reads_no_source(self, spark, tmp_path):
        """An insert-only advance must not put the SOURCE scan into the
        maintenance plan at all (the no-deletes gate)."""
        src, dst, ckpt = _mk(tmp_path)
        agg = self._agg(src, dst, ckpt)
        write_delta(
            _src_df(spark, [(1, "a", 1.0)]), src
        )
        agg.advance(spark)
        batch = agg.stream.poll(spark)
        assert batch is None  # caught up; now craft the NEXT batch
        write_delta(
            _src_df(spark, [(2, "a", 2.0)]), src
        )
        changes, version = agg.stream.poll(spark)
        delta = agg._delta_frame(changes)
        current = DeltalakeTable("dst", dst)(spark=spark)
        combined = agg._combined_frame(
            spark, current, delta, version, has_deletes=False
        )
        plan = combined._jdf.queryExecution().optimizedPlan().toString()
        assert "src" not in plan.replace(str(tmp_path), "")


class TestIncrementalJoinAggregate:
    """Join-view IVM (fact JOIN static dim): each change batch is
    enriched with the broadcast dim before the fold, so the maintained
    view must always equal a from-scratch join-aggregate of the
    source's current content."""

    def _dim_fn(self, spark):
        return spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "alpha")],
            "pk long, region string",
        )

    def _make(self, spark, tmp_path):
        from datarepo_spark.tables.ivm import IncrementalJoinAggregate

        src = str(tmp_path / "fact")
        return src, IncrementalJoinAggregate(
            src,
            str(tmp_path / "view"),
            str(tmp_path / "cursor.json"),
            dim_fn=self._dim_fn,
            fact_key="fk",
            dim_key="pk",
            group_cols=["region"],
            sum_cols=["x"],
            minmax_cols=["x"],
        )

    def _fact(self, spark, rows):
        return spark.createDataFrame(rows, "k long, fk long, x double")

    def _recompute(self, spark, src):
        fact = DeltalakeTable("fact", src)(spark=spark)
        dim = self._dim_fn(spark)
        rows = (
            fact.join(dim, fact.fk == dim.pk)
            .groupBy("region")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("x").cast("decimal(38,6)")).alias("sum_x"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
            )
            .collect()
        )
        return sorted(
            (r["region"], r["n_rows"], str(r["sum_x"]), r["min_x"], r["max_x"])
            for r in rows
        )

    def _view(self, spark, agg):
        df = agg.read(spark)
        return sorted(
            (r["region"], r["n_rows"], str(r["sum_x"]),
             r["min_x"], r["max_x"])
            for r in df.collect()
        )

    def test_tracks_join_view_through_changes(self, spark, tmp_path):
        src, agg = self._make(spark, tmp_path)
        write_delta(
            self._fact(spark, [(1, 1, 5.0), (2, 2, 7.0), (3, 3, 1.0)]),
            src,
        )
        agg.advance(spark)
        assert self._view(spark, agg) == self._recompute(spark, src)
        # append + delete of a stored extremum (x=7.0 is beta's max) in
        # one advance window: exercises the dim-enriched re-derivation
        write_delta(
            self._fact(spark, [(4, 2, 2.0), (5, 1, 9.0)]), src,
        )
        delete_delta(spark, src, [Filter("x", ">", 6.0)])
        agg.advance(spark)
        assert self._view(spark, agg) == self._recompute(spark, src)

    def test_fact_rows_without_dim_match_are_ignored(self, spark, tmp_path):
        """Inner-join semantics: fk=99 has no dim row — neither its
        insert nor its delete may touch the view."""
        src, agg = self._make(spark, tmp_path)
        write_delta(
            self._fact(spark, [(1, 1, 5.0), (2, 99, 100.0)]), src,
        )
        agg.advance(spark)
        assert self._view(spark, agg) == self._recompute(spark, src)
        assert all(r[0] is not None for r in self._view(spark, agg))
        delete_delta(spark, src, [Filter("fk", "=", 99)])
        agg.advance(spark)
        assert self._view(spark, agg) == self._recompute(spark, src)

    def test_group_vanishes_when_emptied(self, spark, tmp_path):
        src, agg = self._make(spark, tmp_path)
        write_delta(
            self._fact(spark, [(1, 1, 5.0), (2, 2, 7.0)]), src,
        )
        agg.advance(spark)
        delete_delta(spark, src, [Filter("fk", "=", 2)])
        agg.advance(spark)
        got = self._view(spark, agg)
        assert [r[0] for r in got] == ["alpha"]
        assert got == self._recompute(spark, src)


class TestIncrementalDistinctCount:
    def test_deletes_that_erase_a_key(self, spark, tmp_path):
        """A delete removing a customer's LAST order in a status must
        drop them from the distinct count; one surviving order must
        not — the exact case per-group scalars cannot maintain."""
        import os

        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta,
            write_delta,
        )
        from datarepo_spark.tables.ivm import IncrementalDistinctCount

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        rows = [
            # (orderkey, status, custkey)
            (1, "O", 10), (2, "O", 10), (3, "O", 11),
            (4, "F", 10), (5, "F", 12),
        ]
        df = spark.createDataFrame(
            rows, ["o_orderkey", "o_orderstatus", "o_custkey"]
        )
        agg = IncrementalDistinctCount(
            src, dst, str(tmp_path / "cursor.json"),
            group_cols=["o_orderstatus"], distinct_col="o_custkey",
        )
        write_delta(df, src)
        agg.advance(spark)
        got = {
            r.o_orderstatus: (r.n_distinct_o_custkey, r.n_rows)
            for r in agg.read(spark).collect()
        }
        assert got == {"O": (2, 3), "F": (2, 2)}
        # delete order 2 (cust 10 keeps order 1 in O) and order 5
        # (cust 12's ONLY F order — must vanish from F's distinct set)
        delete_delta(spark, src, [Filter("o_orderkey", "in", [2, 5])])
        agg.advance(spark)
        got = {
            r.o_orderstatus: (r.n_distinct_o_custkey, r.n_rows)
            for r in agg.read(spark).collect()
        }
        assert got == {"O": (2, 2), "F": (1, 1)}

    def test_rejects_distinct_col_in_group(self, tmp_path):
        from datarepo_spark.tables.ivm import IncrementalDistinctCount

        import pytest as _pytest

        with _pytest.raises(ValueError):
            IncrementalDistinctCount(
                str(tmp_path / "s"), str(tmp_path / "d"),
                str(tmp_path / "c.json"),
                group_cols=["k"], distinct_col="k",
            )


class TestIncrementalTopK:
    def _mk(self, spark, tmp_path, k=2):
        from datarepo_spark.tables.ivm import IncrementalTopK

        return IncrementalTopK(
            str(tmp_path / "src"), str(tmp_path / "dst"),
            str(tmp_path / "cursor.json"),
            group_cols=["g"], id_col="id", val_col="v", k=k,
        )

    def _state(self, agg, spark):
        return {
            (r.g, r.rnk): (r.id, r.v)
            for r in agg.read(spark).collect()
        }

    def test_insert_only_maintains_topk(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import write_delta

        agg = self._mk(spark, tmp_path)
        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
             ("b", 4, 5.0)],
            ["g", "id", "v"],
        )
        write_delta(df, agg.source_uri)
        agg.advance(spark)
        assert self._state(agg, spark) == {
            ("a", 1): (2, 30.0), ("a", 2): (3, 20.0), ("b", 1): (4, 5.0),
        }
        # a better row enters; a worse row is ignored
        write_delta(
            spark.createDataFrame(
                [("a", 5, 25.0), ("a", 6, 1.0)], ["g", "id", "v"]
            ),
            agg.source_uri,
        )
        agg.advance(spark)
        assert self._state(agg, spark) == {
            ("a", 1): (2, 30.0), ("a", 2): (5, 25.0), ("b", 1): (4, 5.0),
        }

    def test_delete_below_k_leaves_view(self, spark, tmp_path):
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )

        agg = self._mk(spark, tmp_path)
        write_delta(
            spark.createDataFrame(
                [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0)],
                ["g", "id", "v"],
            ),
            agg.source_uri,
        )
        agg.advance(spark)
        # id 1 (v=10) is NOT stored (k=2) — deleting it must not
        # trigger any change
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 1)])
        agg.advance(spark)
        assert self._state(agg, spark) == {
            ("a", 1): (2, 30.0), ("a", 2): (3, 20.0),
        }

    def test_delete_stored_row_rederives_replacement(self, spark, tmp_path):
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )

        agg = self._mk(spark, tmp_path)
        write_delta(
            spark.createDataFrame(
                [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
                 ("b", 4, 7.0), ("b", 5, 9.0)],
                ["g", "id", "v"],
            ),
            agg.source_uri,
        )
        agg.advance(spark)
        # delete a's #1 row: the evicted 10.0 row must RE-ENTER from
        # the source re-read; group b untouched
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 2)])
        agg.advance(spark)
        assert self._state(agg, spark) == {
            ("a", 1): (3, 20.0), ("a", 2): (1, 10.0),
            ("b", 1): (5, 9.0), ("b", 2): (4, 7.0),
        }
        # group shrinks below k when rows run out
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 3)])
        agg.advance(spark)
        assert self._state(agg, spark) == {
            ("a", 1): (1, 10.0),
            ("b", 1): (5, 9.0), ("b", 2): (4, 7.0),
        }

    def test_mixed_batch_insert_and_delete(self, spark, tmp_path):
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )

        agg = self._mk(spark, tmp_path)
        write_delta(
            spark.createDataFrame(
                [("a", 1, 10.0), ("a", 2, 30.0)], ["g", "id", "v"]
            ),
            agg.source_uri,
        )
        agg.advance(spark)
        # one advance consumes BOTH the new append and the delete:
        # insert 40.0 and delete the old top in separate commits
        write_delta(
            spark.createDataFrame([("a", 9, 40.0)], ["g", "id", "v"]),
            agg.source_uri,
        )
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 2)])
        while agg.advance(spark) is not None:
            pass
        assert self._state(agg, spark) == {
            ("a", 1): (9, 40.0), ("a", 2): (1, 10.0),
        }

    def test_same_row_insert_then_delete_one_window(self, spark, tmp_path):
        """r11 advice: a row inserted and deleted again within ONE poll
        window (two commits, one advance) must not ghost into the view
        — its group has no stored-row delete, so only the same-batch
        insert-vs-delete rederive expansion catches it."""
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )

        agg = self._mk(spark, tmp_path)
        write_delta(
            spark.createDataFrame(
                [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0)],
                ["g", "id", "v"],
            ),
            agg.source_uri,
        )
        agg.advance(spark)
        # id 9 (v=40, would out-rank everything) appears and vanishes
        # within the same window; no stored row of group a is deleted
        write_delta(
            spark.createDataFrame([("a", 9, 40.0)], ["g", "id", "v"]),
            agg.source_uri,
        )
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 9)])
        while agg.advance(spark) is not None:
            pass
        assert self._state(agg, spark) == {
            ("a", 1): (2, 30.0), ("a", 2): (3, 20.0),
        }

    def test_same_row_delete_then_reinsert_one_window(self, spark, tmp_path):
        """The mirror hazard: a stored row deleted and re-inserted in
        one window must survive (netting inserts against deletes would
        drop it; rederiving its group keeps it)."""
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )

        agg = self._mk(spark, tmp_path)
        write_delta(
            spark.createDataFrame(
                [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0)],
                ["g", "id", "v"],
            ),
            agg.source_uri,
        )
        agg.advance(spark)
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 2)])
        write_delta(
            spark.createDataFrame([("a", 2, 30.0)], ["g", "id", "v"]),
            agg.source_uri,
        )
        while agg.advance(spark) is not None:
            pass
        assert self._state(agg, spark) == {
            ("a", 1): (2, 30.0), ("a", 2): (3, 20.0),
        }

    def test_bootstrap_window_with_delete(self, spark, tmp_path):
        """The FIRST batch can already span an insert commit and a
        delete commit — bootstrap must reflect the source snapshot,
        not replay only the insert records (r11 advice)."""
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )

        agg = self._mk(spark, tmp_path)
        write_delta(
            spark.createDataFrame(
                [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0)],
                ["g", "id", "v"],
            ),
            agg.source_uri,
        )
        delete_delta(spark, agg.source_uri, [Filter("id", "=", 2)])
        while agg.advance(spark) is not None:
            pass
        assert self._state(agg, spark) == {
            ("a", 1): (3, 20.0), ("a", 2): (1, 10.0),
        }

    def test_validates_args(self, tmp_path):
        import pytest as _pytest

        from datarepo_spark.tables.ivm import IncrementalTopK

        with _pytest.raises(ValueError):
            IncrementalTopK(
                str(tmp_path / "s"), str(tmp_path / "d"),
                str(tmp_path / "c.json"),
                group_cols=[], id_col="id", val_col="v",
            )
        with _pytest.raises(ValueError):
            IncrementalTopK(
                str(tmp_path / "s"), str(tmp_path / "d"),
                str(tmp_path / "c.json"),
                group_cols=["g"], id_col="id", val_col="v", k=0,
            )


class TestIncrementalTopKRandomGauntlet:
    """Randomized maintenance equivalence: after EVERY advance over a
    random insert/delete history, read() must equal the from-scratch
    top-k ranking of the source's current live state — the same
    oracle style as the delta writer's random gauntlet."""

    def test_random_history_matches_from_scratch(self, spark, tmp_path):
        import random

        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta, write_delta,
        )
        from datarepo_spark.tables.ivm import IncrementalTopK

        rng = random.Random(47)
        agg = IncrementalTopK(
            str(tmp_path / "src"), str(tmp_path / "dst"),
            str(tmp_path / "cursor.json"),
            group_cols=["g"], id_col="id", val_col="v", k=3,
        )
        live = {}  # id -> (g, v)
        next_id = 0

        def expected():
            by_g = {}
            for i, (g, v) in live.items():
                by_g.setdefault(g, []).append((v, i))
            out = {}
            for g, rows in by_g.items():
                rows.sort(key=lambda t: (-t[0], t[1]))
                for rnk, (v, i) in enumerate(rows[:3], 1):
                    out[(g, rnk)] = (i, v)
            return out

        def got():
            return {
                (r.g, r.rnk): (r.id, r.v)
                for r in agg.read(spark).collect()
            }

        # seed batch
        seed = []
        for _ in range(12):
            g = rng.choice("abc")
            seed.append((g, next_id, float(rng.randint(0, 40))))
            live[next_id] = (g, seed[-1][2])
            next_id += 1
        write_delta(
            spark.createDataFrame(seed, ["g", "id", "v"]),
            agg.source_uri,
        )
        agg.advance(spark)
        assert got() == expected()

        for _step in range(6):
            if rng.random() < 0.5 and live:
                # delete a random subset (may or may not hit stored rows)
                victims = rng.sample(
                    sorted(live), k=min(len(live), rng.randint(1, 4))
                )
                delete_delta(
                    spark, agg.source_uri,
                    [Filter("id", "in", victims)],
                )
                for i in victims:
                    live.pop(i)
            else:
                batch = []
                for _ in range(rng.randint(1, 5)):
                    g = rng.choice("abc")
                    batch.append(
                        (g, next_id, float(rng.randint(0, 40)))
                    )
                    live[next_id] = (g, batch[-1][2])
                    next_id += 1
                write_delta(
                    spark.createDataFrame(batch, ["g", "id", "v"]),
                    agg.source_uri,
                )
            while agg.advance(spark) is not None:
                pass
            assert got() == expected(), f"diverged at step {_step}"
