"""Copy-on-write MERGE INTO: upsert/delete semantics, minimal rewrite
(untouched files must survive by path), and transactional visibility."""

import pytest
from pyspark.sql import functions as F

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import merge_delta, write_delta


def rows(spark, uri):
    return sorted(
        (
            tuple(r)
            for r in DeltalakeTable("t", uri)(spark=spark)
            .select("k", "v")
            .collect()
        ),
        key=lambda t: (t[0] is None, t[0], t[1]),
    )


def _seed(spark, tmp_path, nfiles=4):
    """Keys 0..99 range-clustered into 4 files of 25 keys each."""
    uri = str(tmp_path / "t")
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), F.concat(F.lit("old-"), "id").alias("v"))
        .repartitionByRange(nfiles, "k")
    )
    write_delta(df, uri)
    return uri


class TestMerge:
    def test_upsert_updates_and_inserts(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        src = spark.createDataFrame(
            [(5, "new-5"), (7, "new-7"), (200, "new-200")], ["k", "v"]
        )
        res = merge_delta(spark, uri, src, on=["k"])
        assert res["files_rewritten"] == 1  # keys 5,7 live in one file
        got = dict(rows(spark, uri))
        assert got[5] == "new-5" and got[7] == "new-7"
        assert got[200] == "new-200"
        assert got[6] == "old-6"  # unmatched row in the rewritten file
        assert len(got) == 101

    def test_untouched_files_not_rewritten(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        before = {f.path for f in DeltaLog(uri).snapshot().files}
        src = spark.createDataFrame([(5, "new-5")], ["k", "v"])
        merge_delta(spark, uri, src, on=["k"], when_not_matched=None)
        after = {f.path for f in DeltaLog(uri).snapshot().files}
        assert len(before & after) == 3  # 3 of 4 files survive by path

    def test_delete_mode(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        src = spark.createDataFrame(
            [(k, "x") for k in range(0, 100, 2)], ["k", "v"]
        )
        res = merge_delta(
            spark, uri, src, on=["k"], when_matched="delete",
            when_not_matched=None,
        )
        assert res["files_rewritten"] == 4
        got = dict(rows(spark, uri))
        assert sorted(got) == list(range(1, 100, 2))

    def test_insert_only_never_rewrites(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        before = {f.path for f in DeltaLog(uri).snapshot().files}
        src = spark.createDataFrame(
            [(5, "ignored"), (300, "new-300")], ["k", "v"]
        )
        res = merge_delta(
            spark, uri, src, on=["k"], when_matched=None,
        )
        assert res["files_rewritten"] == 0
        after = {f.path for f in DeltaLog(uri).snapshot().files}
        assert before <= after
        got = dict(rows(spark, uri))
        assert got[5] == "old-5"  # matched row untouched
        assert got[300] == "new-300"

    def test_no_match_no_insert_is_noop(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        v0 = DeltaLog(uri).snapshot().version
        src = spark.createDataFrame([(999, "z")], ["k", "v"])
        res = merge_delta(
            spark, uri, src, on=["k"], when_not_matched=None,
        )
        assert res["version"] == v0  # no empty commit
        assert DeltaLog(uri).snapshot().version == v0

    def test_duplicate_source_keys_raise_for_update(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        src = spark.createDataFrame([(5, "a"), (5, "b")], ["k", "v"])
        with pytest.raises(ValueError, match="duplicate merge keys"):
            merge_delta(spark, uri, src, on=["k"])
        # delete tolerates duplicates
        merge_delta(
            spark, uri, src, on=["k"], when_matched="delete",
            when_not_matched=None,
        )
        assert 5 not in dict(rows(spark, uri))

    def test_schema_mismatch_raises(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        src = spark.createDataFrame([(1,)], ["k"])
        with pytest.raises(ValueError, match="table columns"):
            merge_delta(spark, uri, src, on=["k"])
        with pytest.raises(ValueError, match="not in table schema"):
            merge_delta(
                spark, uri,
                spark.createDataFrame([(1, "x")], ["k", "v"]),
                on=["zz"],
            )

    def test_partitioned_merge(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(k, f"old-{k}", "even" if k % 2 == 0 else "odd")
             for k in range(20)],
            ["k", "v", "par"],
        )
        write_delta(df, uri, partition_by=["par"])
        src = spark.createDataFrame(
            [(2, "new-2", "even"), (21, "new-21", "odd")], ["k", "v", "par"]
        )
        merge_delta(spark, uri, src, on=["k"])
        t = DeltalakeTable("t", uri)
        got = {
            r.k: (r.v, r.par) for r in t(spark=spark).collect()
        }
        assert got[2] == ("new-2", "even")
        assert got[21] == ("new-21", "odd")
        assert got[3] == ("old-3", "odd")
        assert len(got) == 21
        # partition pruning still works after the merge
        evens = t(filters=[Filter("par", "=", "even")], spark=spark)
        assert evens.count() == 10

    def test_time_travel_across_merge(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        src = spark.createDataFrame([(5, "new-5")], ["k", "v"])
        res = merge_delta(spark, uri, src, on=["k"], when_not_matched=None)
        t = DeltalakeTable("t", uri)
        old = dict(
            (r.k, r.v) for r in t(version=0, spark=spark).collect()
        )
        new = dict(
            (r.k, r.v)
            for r in t(version=res["version"], spark=spark).collect()
        )
        assert old[5] == "old-5" and new[5] == "new-5"

    def test_merge_into_empty_table(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(
            spark.createDataFrame([], "k long, v string"), uri
        )
        src = spark.createDataFrame([(1, "a")], ["k", "v"])
        merge_delta(spark, uri, src, on=["k"])
        assert rows(spark, uri) == [(1, "a")]

    def test_null_key_source_rows_insert(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        src = spark.createDataFrame(
            [(None, "null-key"), (5, "new-5")], "k long, v string"
        )
        merge_delta(spark, uri, src, on=["k"])
        got = rows(spark, uri)
        assert (None, "null-key") in got
        assert dict(r for r in got if r[0] is not None)[5] == "new-5"


class TestAffectedFilesCap:
    """MERGE/UPDATE/DELETE collect one metadata row per affected file —
    bounded by file count, but still a driver ceiling at pathological
    scale. A lowered cap must fail with the partition-your-operation
    error BEFORE collecting past it, and a sufficient cap must leave
    results identical."""

    def _table(self, spark, tmp_path, parts=4):
        uri = str(tmp_path / "capped")
        df = spark.range(400).selectExpr(
            "id AS k", "id % 7 AS v", f"CAST(id % {parts} AS INT) AS p"
        )
        write_delta(
            df.repartition(parts, "p"), uri, partition_by=["p"],
        )
        return uri

    def test_merge_over_cap_raises(self, spark, tmp_path):
        import pytest

        uri = self._table(spark, tmp_path)
        src = spark.range(400).selectExpr(
            "id AS k", "id % 5 AS v", "CAST(id % 4 AS INT) AS p"
        )
        with pytest.raises(ValueError, match="[Pp]artition the MERGE"):
            merge_delta(spark, uri, src, on=["k"], max_affected_files=1)
        # the failed attempt must not have committed anything
        assert DeltaLog(uri).snapshot().version == 0

    def test_merge_at_cap_succeeds(self, spark, tmp_path):
        uri = self._table(spark, tmp_path)
        src = spark.range(10).selectExpr(
            "id AS k", "id * 100 AS v", "CAST(id % 4 AS INT) AS p"
        )
        merge_delta(spark, uri, src, on=["k"], max_affected_files=64)
        got = {
            (r.k, r.v)
            for r in DeltalakeTable("capped", uri)(spark=spark)
            .filter(F.col("k") < 10)
            .collect()
        }
        assert got == {(k, k * 100) for k in range(10)}

    def test_delete_over_cap_raises(self, spark, tmp_path):
        import pytest

        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="DELETE/UPDATE"):
            delete_delta(
                spark, uri, [Filter("v", ">=", 0)], max_affected_files=1
            )
        assert DeltaLog(uri).snapshot().version == 0

    def test_update_over_cap_raises(self, spark, tmp_path):
        import pytest

        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import update_delta

        uri = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="DELETE/UPDATE"):
            update_delta(
                spark, uri, [Filter("v", ">=", 0)], {"v": "v + 1"},
                max_affected_files=1,
            )
        assert DeltaLog(uri).snapshot().version == 0


class TestOverwriteWhere:
    """replaceWhere semantics: predicate-scoped atomic overwrite."""

    def _seed(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import write_delta

        uri = str(tmp_path / "ow")
        df = spark.createDataFrame(
            [(i, "a" if i < 50 else "b", float(i)) for i in range(100)],
            ["k", "part", "v"],
        ).repartitionByRange(4, "k")
        write_delta(df, uri)
        return uri

    def _all(self, spark, uri):
        return sorted(
            tuple(r)
            for r in DeltalakeTable("t", uri)(spark=spark)
            .select("k", "part", "v")
            .collect()
        )

    def test_replaces_matching_rows_atomically(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import overwrite_where

        uri = self._seed(spark, tmp_path)
        v0 = DeltaLog(uri).snapshot().version
        repl = spark.createDataFrame(
            [(1000 + i, "b", -1.0) for i in range(5)], ["k", "part", "v"]
        )
        out = overwrite_where(
            spark, uri, repl, [Filter("part", "=", "b")]
        )
        # ONE commit: old b-rows gone, 5 new b-rows in, a-rows intact
        assert out["version"] == v0 + 1
        assert out["rows_replaced"] == 50
        got = self._all(spark, uri)
        assert len(got) == 55
        assert [t for t in got if t[1] == "b"] == [
            (1000 + i, "b", -1.0) for i in range(5)
        ]
        assert all(t[2] == float(t[0]) for t in got if t[1] == "a")

    def test_rejects_rows_outside_predicate(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import overwrite_where

        uri = self._seed(spark, tmp_path)
        v0 = DeltaLog(uri).snapshot().version
        bad = spark.createDataFrame(
            [(1, "a", 0.0), (2, "b", 0.0)], ["k", "part", "v"]
        )
        with pytest.raises(ValueError, match="satisfy the predicate"):
            overwrite_where(spark, uri, bad, [Filter("part", "=", "b")])
        # nothing committed, nothing changed
        assert DeltaLog(uri).snapshot().version == v0
        assert len(self._all(spark, uri)) == 100

    def test_no_match_degrades_to_append(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import overwrite_where

        uri = self._seed(spark, tmp_path)
        repl = spark.createDataFrame(
            [(7, "zz", 9.0)], ["k", "part", "v"]
        )
        out = overwrite_where(
            spark, uri, repl, [Filter("part", "=", "zz")]
        )
        assert out["rows_replaced"] == 0
        assert out["files_added"] >= 1
        assert len(self._all(spark, uri)) == 101

    def test_missing_columns_land_as_nulls(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import overwrite_where

        uri = self._seed(spark, tmp_path)
        repl = spark.createDataFrame([(5000, "b")], ["k", "part"])
        overwrite_where(spark, uri, repl, [Filter("part", "=", "b")])
        got = self._all(spark, uri)
        assert (5000, "b", None) in got
        assert len([t for t in got if t[1] == "b"]) == 1

    def test_txn_replay_is_skipped(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import overwrite_where

        uri = self._seed(spark, tmp_path)
        repl = spark.createDataFrame([(1, "b", 0.5)], ["k", "part", "v"])
        out1 = overwrite_where(
            spark, uri, repl, [Filter("part", "=", "b")],
            txn_app_id="ow-test", txn_version=1,
        )
        out2 = overwrite_where(
            spark, uri, repl, [Filter("part", "=", "b")],
            txn_app_id="ow-test", txn_version=1,
        )
        assert out2["rows_replaced"] == 0
        assert out2["files_added"] == 0
        assert DeltaLog(uri).snapshot().version == out1["version"]
        assert len([t for t in self._all(spark, uri) if t[1] == "b"]) == 1

    def test_requires_predicate(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import overwrite_where

        uri = self._seed(spark, tmp_path)
        repl = spark.createDataFrame([(1, "b", 0.5)], ["k", "part", "v"])
        with pytest.raises(ValueError, match="requires a predicate"):
            overwrite_where(spark, uri, repl, [])
