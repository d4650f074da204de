"""table_changes: CDF-style incremental reads derived from log replay."""

import pytest
from pyspark.sql import functions as F

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_cdf import table_changes
from datarepo_spark.tables.delta_writer import (
    compact,
    delete_delta,
    write_delta,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), F.concat(F.lit("r"), "id").alias("v")
    )


def _changes(spark, uri, start, end=None):
    rows = table_changes(spark, uri, start, end).collect()
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"]) for r in rows
    )


class TestTableChanges:
    def test_appends_are_inserts(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(_df(spark, 0, 3), uri)
        write_delta(_df(spark, 3, 5), uri)
        assert _changes(spark, uri, 0) == [
            (0, "insert", 0),
            (0, "insert", 1),
            (0, "insert", 2),
            (1, "insert", 3),
            (1, "insert", 4),
        ]
        # window selects only version 1
        assert _changes(spark, uri, 1) == [
            (1, "insert", 3),
            (1, "insert", 4),
        ]

    def test_dv_delete_emits_only_delta(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(
            _df(spark, 0, 10).coalesce(1).sortWithinPartitions("id"),
            uri,
        )
        delete_delta(spark, uri, [Filter("id", "=", 4)])
        delete_delta(spark, uri, [Filter("id", "=", 7)])
        # second delete merges into the first DV; the feed must emit only
        # the NEWLY deleted row at each version
        assert _changes(spark, uri, 1) == [
            (1, "delete", 4),
            (2, "delete", 7),
        ]

    def test_overwrite_is_delete_plus_insert(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(_df(spark, 0, 3), uri)
        write_delta(
            _df(spark, 10, 12), uri, mode="overwrite",
        )
        assert _changes(spark, uri, 1) == [
            (1, "delete", 0),
            (1, "delete", 1),
            (1, "delete", 2),
            (1, "insert", 10),
            (1, "insert", 11),
        ]

    def test_compaction_contributes_nothing(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(_df(spark, 0, 3), uri)
        write_delta(_df(spark, 3, 6), uri)
        stats = compact(spark, uri)
        assert stats["version"] == 2
        assert _changes(spark, uri, 2) == []

    def test_full_file_delete(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(_df(spark, 0, 5), uri)
        write_delta(_df(spark, 5, 8), uri)
        delete_delta(spark, uri, [Filter("id", ">=", 5)])
        assert _changes(spark, uri, 2) == [
            (2, "delete", 5),
            (2, "delete", 6),
            (2, "delete", 7),
        ]

    def test_schema_evolution_null_fills(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(_df(spark, 0, 2), uri)
        evolved = _df(spark, 2, 4).withColumn(
            "extra", (F.col("id") * 10).cast("long")
        )
        write_delta(
            evolved, uri, schema_mode="merge"
        )
        rows = {
            r["id"]: r["extra"]
            for r in table_changes(spark, uri, 0).collect()
        }
        assert rows == {0: None, 1: None, 2: 20, 3: 30}

    def test_out_of_range_raises(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        write_delta(_df(spark, 0, 2), uri)
        with pytest.raises(ValueError, match="out of range"):
            table_changes(spark, uri, 5)

    def test_ending_version_bounds_window(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        for lo in (0, 2, 4):
            write_delta(
                _df(spark, lo, lo + 2), uri
            )
        got = _changes(spark, uri, 1, end=1)
        assert got == [(1, "insert", 2), (1, "insert", 3)]

    def test_partitioned_table(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        df = spark.range(0, 6).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("par")
        )
        write_delta(
            df, uri, partition_by=["par"]
        )
        delete_delta(spark, uri, [Filter("par", "=", "1")])
        got = _changes(spark, uri, 1)
        assert got == [(1, "delete", 1), (1, "delete", 3), (1, "delete", 5)]


class TestDeltaChangeStream:
    def test_poll_ack_cycle(self, spark, tmp_path):
        from datarepo_spark.tables.delta_cdf import DeltaChangeStream

        uri = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt.json")
        write_delta(_df(spark, 0, 3), uri)
        stream = DeltaChangeStream(uri, ckpt)

        df, v = stream.poll(spark)
        assert v == 0
        assert sorted(r["id"] for r in df.collect()) == [0, 1, 2]
        # not acked: re-delivered
        df2, v2 = stream.poll(spark)
        assert v2 == 0 and df2.count() == 3
        stream.ack(v2)
        assert stream.poll(spark) is None

        write_delta(_df(spark, 3, 5), uri)
        df3, v3 = stream.poll(spark)
        assert v3 == 1
        assert sorted(r["id"] for r in df3.collect()) == [3, 4]
        stream.ack(v3)
        assert stream.poll(spark) is None

    def test_deletes_flow_through(self, spark, tmp_path):
        from datarepo_spark.tables.delta_cdf import DeltaChangeStream

        uri = str(tmp_path / "src")
        ckpt = str(tmp_path / "c.json")
        write_delta(
            _df(spark, 0, 6).coalesce(1), uri
        )
        stream = DeltaChangeStream(uri, ckpt)
        _, v = stream.poll(spark)
        stream.ack(v)
        delete_delta(spark, uri, [Filter("id", "=", 2)])
        df, v = stream.poll(spark)
        rows = [(r["_change_type"], r["id"]) for r in df.collect()]
        assert rows == [("delete", 2)]

    def test_max_versions_chunks_backlog(self, spark, tmp_path):
        from datarepo_spark.tables.delta_cdf import DeltaChangeStream

        uri = str(tmp_path / "src")
        ckpt = str(tmp_path / "c.json")
        for lo in (0, 2, 4):
            write_delta(
                _df(spark, lo, lo + 2), uri
            )
        stream = DeltaChangeStream(uri, ckpt)
        df, v = stream.poll(spark, max_versions=2)
        assert v == 1 and df.count() == 4
        stream.ack(v)
        df, v = stream.poll(spark)
        assert v == 2 and df.count() == 2
        stream.ack(v)
        assert stream.poll(spark) is None

    def test_exactly_once_with_txn_sink(self, spark, tmp_path):
        """Crash-replay of a batch (poll without ack, process again)
        must not double-write when the sink uses the stream's txn."""
        from datarepo_spark.tables.delta_cdf import DeltaChangeStream
        from datarepo_spark.tables.delta_table import DeltalakeTable

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "c.json")
        write_delta(_df(spark, 0, 4), src)
        stream = DeltaChangeStream(src, ckpt)

        df, v = stream.poll(spark)
        out = df.select("id", "v")
        write_delta(
            out, dst, txn_app_id=stream.stream_id, txn_version=v,
        )
        # crash before ack → batch re-polled and re-written
        df2, v2 = stream.poll(spark)
        assert v2 == v
        write_delta(
            df2.select("id", "v"), dst,
            txn_app_id=stream.stream_id, txn_version=v2,
        )
        stream.ack(v2)
        got = DeltalakeTable("dst", dst)(spark=spark).count()
        assert got == 4  # not 8


class TestReviewFixes:
    def test_restore_resurrection_emits_inserts(self, spark, tmp_path):
        """A DV shrink (restore undoing a delete) must surface the
        resurrected rows as inserts, not silence."""
        from datarepo_spark.tables.delta_writer import restore_table

        uri = str(tmp_path / "t")
        write_delta(
            _df(spark, 0, 6).coalesce(1).sortWithinPartitions("id"),
            uri,
        )
        delete_delta(spark, uri, [Filter("id", "=", 2)])
        restore_table(spark, uri, 0)
        assert _changes(spark, uri, 2) == [(2, "insert", 2)]
        # and a full-window feed nets out to the source's final content
        all_changes = _changes(spark, uri, 0)
        net = {}
        for v, kind, rid in all_changes:
            net[rid] = net.get(rid, 0) + (1 if kind == "insert" else -1)
        assert sorted(k for k, n in net.items() if n > 0) == list(range(6))

    def test_poll_window_pinned_across_replay(self, spark, tmp_path):
        """A re-poll before ack must re-deliver the SAME window even if
        new source versions landed — otherwise a replayed batch carries
        a higher txn version past the ledger and double-applies."""
        from datarepo_spark.tables.delta_cdf import DeltaChangeStream

        uri = str(tmp_path / "src")
        ckpt = str(tmp_path / "c.json")
        write_delta(_df(spark, 0, 2), uri)
        stream = DeltaChangeStream(uri, ckpt)
        df1, v1 = stream.poll(spark)
        assert v1 == 0
        # new version lands before the (crashed) consumer acks
        write_delta(_df(spark, 2, 4), uri)
        df2, v2 = stream.poll(spark)
        assert v2 == 0  # pinned: same window, same batch identity
        assert df2.count() == df1.count() == 2
        stream.ack(v2)
        df3, v3 = stream.poll(spark)
        assert v3 == 1 and df3.count() == 2

    def test_ivm_exactly_once_with_concurrent_append(self, spark, tmp_path):
        """The review's scenario: crash between merge and ack, a NEW
        source version lands, then the replay — the pinned window plus
        ledger must keep the view exact."""
        import json as _json

        from datarepo_spark.tables.delta_table import DeltalakeTable
        from datarepo_spark.tables.ivm import IncrementalAggregate
        from pyspark.sql import functions as F2

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "c.json")
        agg = IncrementalAggregate(src, dst, ckpt, ["grp"], ["x"])

        def srcdf(rows):
            return spark.createDataFrame(rows, ["k", "grp", "x"])

        write_delta(srcdf([(1, "a", 10.0)]), src)
        agg.advance(spark)
        write_delta(srcdf([(2, "a", 5.0)]), src)
        agg.advance(spark)

        # crash before ack of version 1: rewind cursor, then a NEW
        # source version arrives before the replay
        with open(ckpt, "w", encoding="utf-8") as fh:
            _json.dump({"last_version": 0, "inflight": 1}, fh)
        write_delta(srcdf([(3, "b", 2.0)]), src)
        agg.advance(spark)   # replays pinned [1..1] — ledger swallows
        agg.advance(spark)   # then applies [2..2]
        assert agg.advance(spark) is None

        got = sorted(
            (r["grp"], r["n_rows"], str(r["sum_x"]))
            for r in agg.read(spark).collect()
        )
        recomputed = sorted(
            (r["grp"], r["n_rows"], str(r["sum_x"]))
            for r in DeltalakeTable("src", src)(spark=spark)
            .groupBy("grp")
            .agg(
                F2.count(F2.lit(1)).alias("n_rows"),
                F2.sum(F2.col("x").cast("decimal(38,6)")).alias("sum_x"),
            )
            .collect()
        )
        assert got == recomputed
