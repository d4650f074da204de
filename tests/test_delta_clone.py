"""CLONE: shallow (metadata-only, absolute-path references) and deep.

The shallow clone is the scale operation — zero data movement, clone
writable immediately, source never mutated or vacuumed through the
clone. Requires the scan/DML path keying to be suffix-normalized so
absolute add paths join identically (delta_table._scan_key)."""

import os

import pytest
from pyspark.sql import functions as F

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.clone import clone_delta
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    delete_delta,
    vacuum,
    write_delta,
)


def _src(spark, tmp_path, partitioned=False):
    uri = str(tmp_path / "src")
    df = spark.range(0, 20).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("par"),
        F.concat(F.lit("r"), "id").alias("v"),
    )
    write_delta(
        df, uri,
        partition_by=["par"] if partitioned else [],
    )
    return uri


def _ids(spark, uri, **kw):
    return sorted(
        r.id for r in DeltalakeTable("t", uri)(spark=spark, **kw).collect()
    )


class TestShallowClone:
    def test_reads_equal_source_with_zero_data_files(self, spark, tmp_path):
        src = _src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        clone_delta(src, dst)
        assert _ids(spark, dst) == list(range(20))
        # zero data bytes under the clone root
        data_files = [
            n
            for n in os.listdir(dst)
            if n.endswith(".parquet")
        ]
        assert data_files == []
        # fresh table identity, same schema
        s_src, s_dst = DeltaLog(src).snapshot(), DeltaLog(dst).snapshot()
        assert s_src.raw_metadata["id"] != s_dst.raw_metadata["id"]
        assert s_src.schema == s_dst.schema

    def test_partitioned_clone_restores_and_prunes(self, spark, tmp_path):
        src = _src(spark, tmp_path, partitioned=True)
        dst = str(tmp_path / "dst")
        clone_delta(src, dst)
        t = DeltalakeTable("c", dst)
        got = sorted(
            (r.id, r.par)
            for r in t(filters=[Filter("par", "=", "1")], spark=spark).collect()
        )
        assert got == [(i, "1") for i in range(20) if i % 2 == 1]

    def test_clone_carries_source_dvs(self, spark, tmp_path):
        src = _src(spark, tmp_path)
        delete_delta(spark, src, [Filter("id", "in", [3, 7])])
        dst = str(tmp_path / "dst")
        clone_delta(src, dst)
        # the source's 'u' DV became an absolute 'p' descriptor
        dvs = [
            f.deletion_vector
            for f in DeltaLog(dst).snapshot().files
            if f.deletion_vector
        ]
        assert dvs and all(d["storageType"] == "p" for d in dvs)
        assert _ids(spark, dst) == [i for i in range(20) if i not in (3, 7)]

    def test_clone_is_writable_without_touching_source(self, spark, tmp_path):
        src = _src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        clone_delta(src, dst)
        write_delta(
            spark.range(100, 103).select(
                "id",
                F.lit("9").alias("par"),
                F.lit("new").alias("v"),
            ),
            dst,
        )
        res = delete_delta(spark, dst, [Filter("id", "<", 5)])
        assert res["rows_deleted"] == 5
        assert _ids(spark, dst) == list(range(5, 20)) + [100, 101, 102]
        # source untouched by both operations
        assert _ids(spark, src) == list(range(20))

    def test_clone_at_version_time_travels(self, spark, tmp_path):
        src = _src(spark, tmp_path)
        delete_delta(spark, src, [Filter("id", "=", 0)])
        dst0 = str(tmp_path / "dst0")
        clone_delta(src, dst0, version=0)
        assert _ids(spark, dst0) == list(range(20))  # pre-delete state

    def test_vacuum_on_clone_never_deletes_source_data(self, spark, tmp_path):
        src = _src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        clone_delta(src, dst)
        # make the clone's reference stale so vacuum has tombstones
        delete_delta(spark, dst, [Filter("id", "<", 20)])  # all rows
        removed = vacuum(dst)
        # nothing under the SOURCE was deleted
        assert _ids(spark, src) == list(range(20))
        for r in removed:
            assert not os.path.isabs(r) or not r.startswith(src)

    def test_refuses_existing_destination(self, spark, tmp_path):
        src = _src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        clone_delta(src, dst)
        with pytest.raises(ValueError, match="already"):
            clone_delta(src, dst)


class TestDeepClone:
    def test_deep_clone_copies_files(self, spark, tmp_path):
        src = _src(spark, tmp_path, partitioned=True)
        delete_delta(spark, src, [Filter("id", "=", 2)])
        dst = str(tmp_path / "deep")
        clone_delta(src, dst, shallow=False)
        assert _ids(spark, dst) == [i for i in range(20) if i != 2]
        # self-contained: remove the source entirely, clone still reads
        import shutil

        shutil.rmtree(src)
        from datarepo_spark.tables.delta_log import (
            invalidate_snapshot_cache,
        )

        invalidate_snapshot_cache()
        assert _ids(spark, dst) == [i for i in range(20) if i != 2]


class TestCloneOfClone:
    def test_deep_clone_of_shallow_clone_is_self_contained(
        self, spark, tmp_path
    ):
        """Review finding: a deep clone of a shallow clone must re-root
        the ABSOLUTE add paths (and copy 'p' DV blobs in) or the
        'backup' still depends on the original source."""
        import shutil

        src = _src(spark, tmp_path, partitioned=True)
        delete_delta(spark, src, [Filter("id", "in", [4, 9])])
        sc = str(tmp_path / "sc")
        clone_delta(src, sc)  # shallow: absolute refs + 'p' DVs
        deep = str(tmp_path / "deep2")
        clone_delta(sc, deep, shallow=False)

        expected = [i for i in range(20) if i not in (4, 9)]
        assert _ids(spark, deep) == expected
        # self-contained: remove BOTH ancestors, deep clone still reads
        shutil.rmtree(src)
        shutil.rmtree(sc)
        from datarepo_spark.tables.delta_log import (
            invalidate_snapshot_cache,
        )

        invalidate_snapshot_cache()
        assert _ids(spark, deep) == expected
        # partition pruning works on the re-rooted layout
        t = DeltalakeTable("d", deep)
        got = sorted(
            r.id
            for r in t(filters=[Filter("par", "=", "0")], spark=spark).collect()
        )
        assert got == [i for i in expected if i % 2 == 0]


def test_deep_clone_is_relocatable(spark, tmp_path):
    """Review finding: deep-clone DV descriptors must be RELATIVE, or
    moving the backup directory breaks every DV read."""
    import shutil as _sh

    src = _src(spark, tmp_path)
    delete_delta(spark, src, [Filter("id", "in", [1, 5])])
    sc = str(tmp_path / "sc")
    clone_delta(src, sc)  # 'p' DVs
    deep = str(tmp_path / "deep")
    clone_delta(sc, deep, shallow=False)
    dvs = [
        f.deletion_vector
        for f in DeltaLog(deep).snapshot().files
        if f.deletion_vector
    ]
    assert dvs and all(d["storageType"] == "u" for d in dvs)
    # MOVE the backup somewhere else entirely; it must still read
    moved = str(tmp_path / "relocated")
    _sh.move(deep, moved)
    from datarepo_spark.tables.delta_log import invalidate_snapshot_cache

    invalidate_snapshot_cache()
    assert _ids(spark, moved) == [i for i in range(20) if i not in (1, 5)]
