"""Per-file stats (add.stats) and data skipping.

The writer must emit protocol-shaped stats JSON aggregated from parquet
footers; the reader must use them to drop files a predicate cannot
match — and NEVER drop one it could (soundness over completeness).
"""

import datetime
import json
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datarepo_spark.core.filters import Filter, normalize_filters
from datarepo_spark.tables.delta_log import AddFile, DeltaLog, typed_literal
from datarepo_spark.tables.delta_stats import (
    collect_file_stats,
    file_may_match,
    stats_prune,
)
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    compact,
    write_checkpoint,
    write_delta,
)


def _dnf(*filters):
    return normalize_filters(list(filters))


def _stats_of(uri):
    return {f.path: f.stats for f in DeltaLog(uri).snapshot().files}


class TestCollect:
    def test_written_table_carries_stats(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", None), (3, "gamma", 9.0)],
            ["id", "name", "score"],
        ).coalesce(1)
        write_delta(df, uri)
        stats = list(_stats_of(uri).values())
        assert len(stats) == 1 and stats[0] is not None
        parsed = json.loads(stats[0])
        assert parsed["numRecords"] == 3
        assert parsed["minValues"]["id"] == 1
        assert parsed["maxValues"]["id"] == 3
        assert parsed["minValues"]["name"] == "alpha"
        assert parsed["maxValues"]["name"] == "gamma"
        assert parsed["minValues"]["score"] == 1.5
        assert parsed["maxValues"]["score"] == 9.0
        assert parsed["nullCount"] == {"id": 0, "name": 0, "score": 1}

    def test_partition_column_not_indexed(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "x"), (2, "y")], ["v", "p"])
        write_delta(df, uri, partition_by=["p"])
        for s in _stats_of(uri).values():
            parsed = json.loads(s)
            assert "p" not in parsed["minValues"]
            assert "v" in parsed["minValues"]

    def test_long_strings_omitted_null_count_kept(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "z" * 500), (2, "a" * 500)], ["id", "body"]
        ).coalesce(1)
        write_delta(df, uri)
        parsed = json.loads(list(_stats_of(uri).values())[0])
        assert "body" not in parsed["minValues"]
        assert "body" not in parsed["maxValues"]
        assert parsed["nullCount"]["body"] == 0
        assert parsed["minValues"]["id"] == 1

    def test_date_and_timestamp_serialized_iso(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        d = datetime.date
        dt = datetime.datetime
        df = spark.createDataFrame(
            [(d(2024, 1, 5), dt(2024, 1, 5, 12, 30)),
             (d(2024, 3, 9), dt(2024, 3, 9, 1, 0))],
            T.StructType([
                T.StructField("day", T.DateType()),
                T.StructField("ts", T.TimestampType()),
            ]),
        ).coalesce(1)
        write_delta(df, uri)
        parsed = json.loads(list(_stats_of(uri).values())[0])
        assert parsed["minValues"]["day"] == "2024-01-05"
        assert parsed["maxValues"]["day"] == "2024-03-09"
        assert parsed["minValues"]["ts"].startswith("2024-01-05T12:30")

    def test_all_null_column(self, spark, tmp_path):
        uri = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, None), (2, None)],
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("v", T.StringType()),
            ]),
        ).coalesce(1)
        write_delta(df, uri)
        parsed = json.loads(list(_stats_of(uri).values())[0])
        assert parsed["nullCount"]["v"] == 2
        assert "v" not in parsed["minValues"]


class TestPruneEvaluator:
    SCHEMA = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("day", T.DateType()),
        T.StructField("x", T.DoubleType()),
    ])

    def mk(self, **stats):
        base = {"numRecords": 10, "minValues": {}, "maxValues": {},
                "nullCount": {}}
        base.update(stats)
        return json.dumps(base)

    def test_range_misses(self):
        s = self.mk(minValues={"id": 100}, maxValues={"id": 200},
                    nullCount={"id": 0})
        conj = _dnf(Filter("id", "<", 50))[0]
        assert not file_may_match(s, conj, self.SCHEMA)
        conj = _dnf(Filter("id", ">", 200))[0]
        assert not file_may_match(s, conj, self.SCHEMA)
        conj = _dnf(Filter("id", "=", 99))[0]
        assert not file_may_match(s, conj, self.SCHEMA)
        conj = _dnf(Filter("id", "in", [1, 2, 3]))[0]
        assert not file_may_match(s, conj, self.SCHEMA)

    def test_range_hits_kept(self):
        s = self.mk(minValues={"id": 100}, maxValues={"id": 200},
                    nullCount={"id": 0})
        for f in (Filter("id", "<=", 100), Filter("id", ">=", 200),
                  Filter("id", "=", 150), Filter("id", "in", [5, 150]),
                  Filter("id", "!=", 150)):
            assert file_may_match(s, _dnf(f)[0], self.SCHEMA)

    def test_single_value_file_inequality_prunes(self):
        s = self.mk(minValues={"id": 7}, maxValues={"id": 7},
                    nullCount={"id": 0})
        assert not file_may_match(s, _dnf(Filter("id", "!=", 7))[0], self.SCHEMA)
        assert not file_may_match(
            s, _dnf(Filter("id", "not in", [6, 7]))[0], self.SCHEMA
        )
        # nulls present → a null row still fails `!= 7`? No: NULL != 7 is
        # NULL (no match) — but soundness keeps the file unless certain;
        # with nulls the only candidate rows are null rows which cannot
        # match, yet we keep (documented incompleteness, not a bug):
        s2 = self.mk(minValues={"id": 7}, maxValues={"id": 7},
                     nullCount={"id": 3})
        assert file_may_match(s2, _dnf(Filter("id", "!=", 7))[0], self.SCHEMA)

    def test_is_null_semantics(self):
        no_nulls = self.mk(minValues={"id": 1}, maxValues={"id": 5},
                           nullCount={"id": 0})
        has_nulls = self.mk(minValues={"id": 1}, maxValues={"id": 5},
                            nullCount={"id": 2})
        conj = _dnf(Filter("id", "=", None))[0]
        assert not file_may_match(no_nulls, conj, self.SCHEMA)
        assert file_may_match(has_nulls, conj, self.SCHEMA)

    def test_all_null_file_prunes_comparisons(self):
        s = self.mk(numRecords=4, nullCount={"id": 4})
        assert not file_may_match(s, _dnf(Filter("id", "=", 1))[0], self.SCHEMA)
        assert not file_may_match(s, _dnf(Filter("id", "<", 9))[0], self.SCHEMA)
        assert file_may_match(
            s, _dnf(Filter("id", "in", [None, 3]))[0], self.SCHEMA
        )

    def test_string_ascii_only(self):
        s = self.mk(minValues={"name": "mango"}, maxValues={"name": "peach"},
                    nullCount={"name": 0})
        assert not file_may_match(
            s, _dnf(Filter("name", "<", "apple"))[0], self.SCHEMA
        )
        # non-ASCII probe value: byte order != code-point order → keep
        assert file_may_match(
            s, _dnf(Filter("name", "<", "Ä"))[0], self.SCHEMA
        )

    def test_date_filter_string_or_date(self):
        s = self.mk(minValues={"day": "2024-01-01"},
                    maxValues={"day": "2024-01-31"}, nullCount={"day": 0})
        before = datetime.date(2023, 12, 1)
        assert not file_may_match(
            s, _dnf(Filter("day", "<=", before))[0], self.SCHEMA
        )
        # a string literal reaches the stats typed, as the read path
        # types it (typed_literal)
        for text, kept in (("2023-12-01", False), ("2024-01-15", True)):
            day = typed_literal(text, T.DateType(), None)
            assert file_may_match(
                s, _dnf(Filter("day", "<=", day))[0], self.SCHEMA
            ) is kept

    def test_nan_probe_never_prunes(self):
        s = self.mk(minValues={"x": 0.0}, maxValues={"x": 1.0},
                    nullCount={"x": 0})
        assert file_may_match(
            s, _dnf(Filter("x", "=", float("nan")))[0], self.SCHEMA
        )

    def test_float_bounds_read_as_float32(self):
        """Another writer states a ``float`` bound as its shortest text
        (0.1 for 0.1f, which is 0.10000000149...): Spark's ``f > 0.1``
        holds for that row, so the file is kept."""
        schema = T.StructType([T.StructField("f", T.FloatType())])
        s = self.mk(minValues={"f": 0.1}, maxValues={"f": 0.1},
                    nullCount={"f": 0})
        assert file_may_match(s, _dnf(Filter("f", ">", 0.1))[0], schema)
        assert not file_may_match(s, _dnf(Filter("f", "<=", 0.1))[0], schema)

    def test_no_stats_kept(self):
        conj = _dnf(Filter("id", "=", 1))[0]
        assert file_may_match(None, conj, self.SCHEMA)
        assert file_may_match("not json{", conj, self.SCHEMA)

    def test_unknown_and_type_mismatch_kept(self):
        s = self.mk(minValues={"id": 1}, maxValues={"id": 5},
                    nullCount={"id": 0})
        # column not in schema → kept
        assert file_may_match(s, _dnf(Filter("zz", "=", 1))[0], self.SCHEMA)
        # string probe against int envelope → incomparable → kept
        assert file_may_match(s, _dnf(Filter("id", "<", "x"))[0], self.SCHEMA)
        # contains is not index-prunable
        assert file_may_match(
            s, _dnf(Filter("id", "contains", "1"))[0], self.SCHEMA
        )

    def test_stats_prune_dnf_or(self):
        files = [
            AddFile("a", {}, stats=self.mk(
                minValues={"id": 0}, maxValues={"id": 9}, nullCount={"id": 0})),
            AddFile("b", {}, stats=self.mk(
                minValues={"id": 10}, maxValues={"id": 19}, nullCount={"id": 0})),
            AddFile("c", {}, stats=None),
        ]
        dnf = _dnf(Filter("id", "=", 12))
        assert [f.path for f in stats_prune(files, dnf, self.SCHEMA)] == ["b", "c"]
        # OR of two ranges keeps both stat-bearing files
        or_dnf = normalize_filters([[Filter("id", "=", 2)], [Filter("id", "=", 12)]])
        assert len(stats_prune(files, or_dnf, self.SCHEMA)) == 3
        assert stats_prune(files, None, self.SCHEMA) == files


class TestEndToEnd:
    def _clustered(self, spark, tmp_path, nfiles=4):
        uri = str(tmp_path / "clustered")
        df = spark.range(0, 1000).withColumn(
            "payload", F.concat(F.lit("row-"), F.col("id"))
        )
        df = df.repartitionByRange(nfiles, "id")
        write_delta(df, uri)
        return uri

    def test_skipping_matches_full_scan(self, spark, tmp_path):
        uri = self._clustered(spark, tmp_path)
        snap = DeltaLog(uri).snapshot()
        assert len(snap.files) == 4
        assert all(f.stats for f in snap.files)
        dnf = _dnf(Filter("id", "<", 100))
        kept = stats_prune(snap.files, dnf, snap.data_schema)
        assert len(kept) == 1  # range-clustered: one file covers [0, 100)

        t = DeltalakeTable("clustered", uri)
        got = sorted(
            r.id for r in t(filters=[Filter("id", "<", 100)], spark=spark).collect()
        )
        assert got == list(range(100))

    def test_point_lookup_prunes_to_one_file(self, spark, tmp_path):
        uri = self._clustered(spark, tmp_path)
        snap = DeltaLog(uri).snapshot()
        kept = stats_prune(
            snap.files, _dnf(Filter("id", "=", 999)), snap.data_schema
        )
        assert len(kept) == 1
        t = DeltalakeTable("clustered", uri)
        rows = t(filters=[Filter("id", "=", 999)], spark=spark).collect()
        assert len(rows) == 1 and rows[0].payload == "row-999"

    def test_impossible_predicate_reads_empty_not_error(self, spark, tmp_path):
        uri = self._clustered(spark, tmp_path)
        t = DeltalakeTable("clustered", uri)
        out = t(filters=[Filter("id", ">", 10_000)], spark=spark)
        assert out.count() == 0
        # schema must survive total pruning (empty-result synthesis)
        assert set(out.columns) == {"id", "payload"}

    def test_checkpoint_preserves_stats(self, spark, tmp_path):
        uri = self._clustered(spark, tmp_path)
        write_checkpoint(uri)
        # force replay from the checkpoint by dropping the JSON commit
        import os

        log = os.path.join(uri, "_delta_log")
        for n in list(os.listdir(log)):
            if n.endswith(".json") and len(n) == 25:
                os.remove(os.path.join(log, n))
        from datarepo_spark.tables.delta_log import invalidate_snapshot_cache

        invalidate_snapshot_cache()
        snap = DeltaLog(uri).snapshot()
        assert all(f.stats for f in snap.files)
        kept = stats_prune(
            snap.files, _dnf(Filter("id", "<", 100)), snap.data_schema
        )
        assert len(kept) == 1

    def test_compact_rewrites_stats(self, spark, tmp_path):
        uri = str(tmp_path / "c")
        for batch in range(3):
            df = spark.range(batch * 10, batch * 10 + 10).coalesce(1)
            write_delta(df, uri)
        res = compact(spark, uri)
        assert res["files_added"] == 1
        snap = DeltaLog(uri).snapshot()
        parsed = json.loads(snap.files[0].stats)
        assert parsed["numRecords"] == 30
        assert parsed["minValues"]["id"] == 0
        assert parsed["maxValues"]["id"] == 29

    def test_partition_and_stats_prune_compose(self, spark, tmp_path):
        uri = str(tmp_path / "pp")
        df = spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(100)],
            ["id", "par"],
        ).repartitionByRange(4, "id")
        write_delta(df, uri, partition_by=["par"])
        snap = DeltaLog(uri).snapshot()
        t = DeltalakeTable("pp", uri)
        got = sorted(
            r.id
            for r in t(
                filters=[Filter("par", "=", "even"), Filter("id", "<", 10)],
                spark=spark,
            ).collect()
        )
        assert got == [0, 2, 4, 6, 8]
