"""Deletion vectors: byte-format fidelity (z85, portable roaring) and
read-side semantics (soft-deleted rows vanish; time travel resurrects;
checkpoints preserve the descriptors)."""

import json
import os
import struct

import pytest

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables import delta_dv as dv
from datarepo_spark.tables.delta_log import (
    DeltaLog,
    invalidate_snapshot_cache,
)
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    compact,
    write_checkpoint,
    write_delta,
)


class TestZ85:
    def test_spec_vector(self):
        # the ZeroMQ Z85 spec's reference case: "HelloWorld"
        data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
        assert dv.z85_encode(data) == "HelloWorld"
        assert dv.z85_decode("HelloWorld") == data

    def test_roundtrip(self):
        for blob in (b"\x00" * 16, bytes(range(16)), b"\xff" * 4):
            assert dv.z85_decode(dv.z85_encode(blob)) == blob

    def test_bad_lengths(self):
        with pytest.raises(ValueError):
            dv.z85_encode(b"abc")
        with pytest.raises(ValueError):
            dv.z85_decode("abcd")


class TestRoaring:
    @pytest.mark.parametrize(
        "positions",
        [
            [0],
            [0, 1, 2, 65535, 65536, 70000],
            list(range(5000)),  # > 4096 in one container → bitmap form
            [1, (1 << 16) + 2, (3 << 16) + 7],
            [5, (1 << 32) + 5, (7 << 32) + 123456],  # multiple int32 keys
            [],
        ],
    )
    def test_roundtrip(self, positions):
        blob = dv.serialize_bitmap_array(positions)
        assert dv.parse_bitmap_array(blob) == sorted(set(positions))

    def test_run_container_parse(self):
        # hand-craft cookie-12347 form with ONE run container holding
        # [10, 14] ∪ [100, 100] — the layout our serializer never emits
        rb = struct.pack("<I", ((1 - 1) << 16) | 12347)  # 1 container
        rb += b"\x01"  # run flag bitset: container 0 is runs
        rb += struct.pack("<HH", 0, 6 - 1)  # key 0, cardinality 6
        # < NO_OFFSET_THRESHOLD containers → no offset header
        rb += struct.pack("<H", 2)  # two runs
        rb += struct.pack("<HH", 10, 4)  # [10..14]
        rb += struct.pack("<HH", 100, 0)  # [100]
        blob = struct.pack("<iq", dv.MAGIC, 1) + struct.pack("<i", 0) + rb
        assert dv.parse_bitmap_array(blob) == [10, 11, 12, 13, 14, 100]

    def test_bad_magic(self):
        with pytest.raises(ValueError, match="magic"):
            dv.parse_bitmap_array(struct.pack("<iq", 99, 0))


def _dv_table(spark, tmp_path, deleted, inline=False):
    """Two-file table (ids 0-9 file A, 10-19 file B) with a DV deleting
    ``deleted`` (positions within file A) via a version-1 commit."""
    from pyspark.sql import functions as F

    uri = str(tmp_path / "t")
    a = spark.range(0, 10).select(
        F.col("id"), F.concat(F.lit("r"), "id").alias("v")
    )
    b = spark.range(10, 20).select(
        F.col("id"), F.concat(F.lit("r"), "id").alias("v")
    )
    write_delta(a.coalesce(1).sortWithinPartitions("id"), uri)
    write_delta(b.coalesce(1), uri)
    snap = DeltaLog(uri).snapshot()
    # file A is the one whose stats say min id == 0
    file_a = next(
        f for f in snap.files if json.loads(f.stats)["minValues"]["id"] == 0
    )
    if inline:
        data = dv.serialize_bitmap_array(deleted)
        pad = (-len(data)) % 4
        descriptor = {
            "storageType": "i",
            "pathOrInlineDv": dv.z85_encode(data + b"\x00" * pad),
            "cardinality": len(deleted),
        }
    else:
        descriptor, _ = dv.write_dv_file(uri, deleted)
    log = os.path.join(uri, "_delta_log")
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": file_a.path,
                        "partitionValues": {},
                        "size": file_a.size,
                        "modificationTime": 0,
                        "dataChange": False,
                        "stats": file_a.stats,
                        "deletionVector": descriptor,
                    }
                }
            )
            + "\n"
        )
    invalidate_snapshot_cache()
    return uri


def _ids(spark, uri, **kw):
    return sorted(
        r.id for r in DeltalakeTable("t", uri)(spark=spark, **kw).collect()
    )


class TestRoaringProperty:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        positions=st.lists(
            st.one_of(
                st.integers(min_value=0, max_value=1 << 20),
                # straddle container (2^16) and bitmap-key (2^32) edges
                st.integers(min_value=(1 << 16) - 4, max_value=(1 << 16) + 4),
                st.integers(min_value=(1 << 32) - 4, max_value=(1 << 32) + 4),
            ),
            max_size=300,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_serialize_parse_roundtrip(self, positions):
        blob = dv.serialize_bitmap_array(positions)
        assert dv.parse_bitmap_array(blob) == sorted(set(positions))

    @given(data=st.binary(min_size=4, max_size=64).map(
        lambda b: b + b"\x00" * ((-len(b)) % 4)))
    @settings(max_examples=100, deadline=None)
    def test_z85_roundtrip_arbitrary(self, data):
        assert dv.z85_decode(dv.z85_encode(data)) == data


class TestReadSemantics:
    def test_deleted_rows_vanish(self, spark, tmp_path):
        uri = _dv_table(spark, tmp_path, deleted=[2, 5, 7])
        assert _ids(spark, uri) == [0, 1, 3, 4, 6, 8, 9] + list(range(10, 20))

    def test_inline_dv(self, spark, tmp_path):
        uri = _dv_table(spark, tmp_path, deleted=[0, 9], inline=True)
        assert _ids(spark, uri) == list(range(1, 9)) + list(range(10, 20))

    def test_filters_compose_with_dv(self, spark, tmp_path):
        uri = _dv_table(spark, tmp_path, deleted=[2, 5])
        got = _ids(spark, uri, filters=[Filter("id", "<", 6)])
        assert got == [0, 1, 3, 4]

    def test_time_travel_resurrects(self, spark, tmp_path):
        uri = _dv_table(spark, tmp_path, deleted=[2])
        assert len(_ids(spark, uri)) == 19
        assert len(_ids(spark, uri, version=1)) == 20

    def test_checkpoint_preserves_dv(self, spark, tmp_path):
        uri = _dv_table(spark, tmp_path, deleted=[2, 5, 7])
        write_checkpoint(uri)
        log = os.path.join(uri, "_delta_log")
        for n in list(os.listdir(log)):
            if n.endswith(".json") and len(n) == 25:
                os.remove(os.path.join(log, n))
        invalidate_snapshot_cache()
        snap = DeltaLog(uri).snapshot()
        assert sum(1 for f in snap.files if f.deletion_vector) == 1
        assert len(_ids(spark, uri)) == 17

    def test_compact_materializes_dvs(self, spark, tmp_path):
        """Compaction on a DV table is REORG PURGE: the rewrite drops
        the soft-deleted rows and the DV descriptors."""
        uri = _dv_table(spark, tmp_path, deleted=[2, 5])
        stats = compact(spark, uri)
        assert stats["files_removed"] >= 1
        snap = DeltaLog(uri).snapshot()
        assert all(f.deletion_vector is None for f in snap.files)
        assert _ids(spark, uri) == [0, 1, 3, 4, 6, 7, 8, 9] + list(
            range(10, 20)
        )

    def test_zorder_materializes_deletions(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import zorder_by

        uri = _dv_table(spark, tmp_path, deleted=[2, 5])
        zorder_by(spark, uri, ["id"], target_files=1)
        snap = DeltaLog(uri).snapshot()
        assert all(f.deletion_vector is None for f in snap.files)
        assert len(_ids(spark, uri)) == 18

    def test_vacuum_dv_lifecycle(self, spark, tmp_path):
        """A LIVE DV file must survive vacuum; one orphaned by a zorder
        rewrite (deletions materialized) must be collected."""
        import glob

        from datarepo_spark.tables.delta_writer import vacuum, zorder_by

        uri = _dv_table(spark, tmp_path, deleted=[2, 5])
        removed = vacuum(uri)
        assert not any(r.endswith(".bin") for r in removed)
        assert glob.glob(os.path.join(uri, "deletion_vector_*.bin"))
        assert len(_ids(spark, uri)) == 18  # DV still effective

        zorder_by(spark, uri, ["id"], target_files=1)
        removed = vacuum(uri)
        assert any(r.endswith(".bin") for r in removed)
        assert not glob.glob(os.path.join(uri, "deletion_vector_*.bin"))
        assert len(_ids(spark, uri)) == 18

    def test_crc_mismatch_raises(self, spark, tmp_path):
        uri = str(tmp_path)
        descriptor, path = dv.write_dv_file(uri, [1, 2, 3])
        blob = bytearray(open(path, "rb").read())
        blob[-1] ^= 0xFF
        open(path, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="checksum"):
            dv.read_deletion_vector(uri, descriptor)

    def test_unknown_reader_feature_still_refused(self, spark, tmp_path):
        uri = _dv_table(spark, tmp_path, deleted=[2])
        log = os.path.join(uri, "_delta_log")
        with open(os.path.join(log, f"{3:020d}.json"), "w") as fh:
            fh.write(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": ["futureQuantumFeature"],
                        }
                    }
                )
                + "\n"
            )
        invalidate_snapshot_cache()
        with pytest.raises(NotImplementedError, match="futureQuantumFeature"):
            DeltaLog(uri).snapshot()


def _plain_table(spark, tmp_path, partition_by=()):
    """Three-file table: ids 0-9, 10-19, 20-29 (one commit each)."""
    from pyspark.sql import functions as F

    uri = str(tmp_path / "dd")
    for lo in (0, 10, 20):
        df = spark.range(lo, lo + 10).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("par"),
            F.concat(F.lit("r"), "id").alias("v"),
        )
        if not partition_by:
            df = df.coalesce(1).sortWithinPartitions("id")
        write_delta(
            df, uri,
            partition_by=list(partition_by),
        )
    return uri


class TestDeleteDelta:
    def test_basic_delete(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        res = delete_delta(spark, uri, [Filter("id", "in", [3, 7, 15])])
        assert res["rows_deleted"] == 3
        assert res["files_rewritten"] == 2  # files 0-9 and 10-19 only
        assert res["files_removed"] == 0
        expected = [i for i in range(30) if i not in (3, 7, 15)]
        assert _ids(spark, uri) == expected

    def test_untouched_files_not_rewritten(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        before = {f.path for f in DeltaLog(uri).snapshot().files}
        delete_delta(spark, uri, [Filter("id", "=", 25)])
        after = {
            f.path: f for f in DeltaLog(uri).snapshot().files
        }
        # all three data files keep their paths (no parquet rewritten);
        # exactly one gained a DV
        assert set(after) == before
        assert sum(1 for f in after.values() if f.deletion_vector) == 1

    def test_protocol_upgraded_once(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 1)])
        snap = DeltaLog(uri).snapshot()
        proto = snap.raw_protocol
        assert proto["minReaderVersion"] == 3
        assert proto["minWriterVersion"] == 7
        assert "deletionVectors" in proto["readerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]
        assert "appendOnly" in proto["writerFeatures"]
        assert (
            snap.configuration.get("delta.enableDeletionVectors") == "true"
        )

    def test_second_delete_merges_dv(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 2)])
        res = delete_delta(spark, uri, [Filter("id", "=", 5)])
        assert res["rows_deleted"] == 1
        snap = DeltaLog(uri).snapshot()
        dv_adds = [f for f in snap.files if f.deletion_vector]
        assert len(dv_adds) == 1
        assert dv_adds[0].deletion_vector["cardinality"] == 2
        assert _ids(spark, uri) == [i for i in range(30) if i not in (2, 5)]

    def test_full_file_delete_drops_file(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        res = delete_delta(spark, uri, [Filter("id", "<", 10)])
        assert res == {
            "version": 3,
            "rows_deleted": 10,
            "files_rewritten": 0,
            "files_removed": 1,
            "files_added": 0,
        }
        snap = DeltaLog(uri).snapshot()
        assert len(snap.files) == 2
        assert all(f.deletion_vector is None for f in snap.files)
        assert _ids(spark, uri) == list(range(10, 30))

    def test_no_match_is_noop(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        v_before = DeltaLog(uri).snapshot().version
        res = delete_delta(spark, uri, [Filter("id", ">", 999)])
        assert res["rows_deleted"] == 0
        assert DeltaLog(uri).snapshot().version == v_before

    def test_requires_predicate(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        with pytest.raises(ValueError, match="predicate"):
            delete_delta(spark, uri, [])

    def test_partitioned_delete(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path, partition_by=("par",))
        res = delete_delta(
            spark, uri,
            [Filter("par", "=", "1"), Filter("id", "<", 20)],
        )
        assert res["rows_deleted"] == 10
        expected = [i for i in range(30) if not (i % 2 == 1 and i < 20)]
        assert _ids(spark, uri) == expected

    def test_delete_then_time_travel(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 4)])
        assert len(_ids(spark, uri)) == 29
        assert len(_ids(spark, uri, version=2)) == 30

    def test_checkpoint_preserves_features(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            delete_delta,
            write_checkpoint,
        )

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 8)])
        write_checkpoint(uri)
        log = os.path.join(uri, "_delta_log")
        for n in list(os.listdir(log)):
            if n.endswith(".json") and len(n) == 25:
                os.remove(os.path.join(log, n))
        invalidate_snapshot_cache()
        snap = DeltaLog(uri).snapshot()
        assert "deletionVectors" in snap.raw_protocol["readerFeatures"]
        assert "deletionVectors" in snap.raw_protocol["writerFeatures"]
        assert len(_ids(spark, uri)) == 29

    def test_vacuum_keeps_both_live_dvs_after_merge(self, spark, tmp_path):
        """After a second delete supersedes the first DV file, vacuum
        must keep the LIVE merged DV and collect the orphaned one."""
        import glob

        from datarepo_spark.tables.delta_writer import delete_delta, vacuum

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 2)])
        delete_delta(spark, uri, [Filter("id", "=", 5)])
        assert len(glob.glob(os.path.join(uri, "deletion_vector_*.bin"))) == 2
        removed = vacuum(uri)
        assert sum(1 for r in removed if r.endswith(".bin")) == 1
        assert len(glob.glob(os.path.join(uri, "deletion_vector_*.bin"))) == 1
        assert _ids(spark, uri) == [i for i in range(30) if i not in (2, 5)]


class TestUpdateDelta:
    def test_basic_update(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        res = update_delta(
            spark, uri, [Filter("id", "<", 5)],
            {"v": F.concat(F.lit("upd"), F.col("id"))},
        )
        assert res["rows_updated"] == 5
        assert res["files_added"] >= 1
        got = {
            r["id"]: r["v"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert len(got) == 30
        for i in range(30):
            assert got[i] == (f"upd{i}" if i < 5 else f"r{i}")

    def test_sql_string_assignment_and_cast(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        update_delta(
            spark, uri, [Filter("id", "=", 7)], {"v": "'x' || id"}
        )
        got = {
            r["id"]: r["v"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert got[7] == "x7" and got[8] == "r8"

    def test_untouched_files_keep_bytes(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        before = {f.path for f in DeltaLog(uri).snapshot().files}
        update_delta(spark, uri, [Filter("id", "=", 25)], {"v": "'z'"})
        snap = DeltaLog(uri).snapshot()
        # the two unaffected original files still present untouched; the
        # affected one re-added with a DV; one new file holds the update
        kept = {f.path for f in snap.files} & before
        assert len(kept) == 3  # all three originals stay (one gains a DV)
        assert sum(1 for f in snap.files if f.deletion_vector) == 1
        assert len(snap.files) == 4

    def test_update_then_delete_compose(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            delete_delta,
            update_delta,
        )

        uri = _plain_table(spark, tmp_path)
        update_delta(spark, uri, [Filter("id", "=", 3)], {"v": "'u'"})
        delete_delta(spark, uri, [Filter("v", "=", "u")])
        got = _ids(spark, uri)
        assert got == [i for i in range(30) if i != 3]

    def test_no_match_noop(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        v = DeltaLog(uri).snapshot().version
        res = update_delta(
            spark, uri, [Filter("id", ">", 999)], {"v": "'x'"}
        )
        assert res["rows_updated"] == 0
        assert DeltaLog(uri).snapshot().version == v

    def test_requires_predicate_and_known_columns(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        with pytest.raises(ValueError, match="predicate"):
            update_delta(spark, uri, [], {"v": "'x'"})
        with pytest.raises(ValueError, match="not in table schema"):
            update_delta(spark, uri, [Filter("id", "=", 1)], {"nope": "1"})

    def test_partition_column_update_moves_rows(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path, partition_by=("par",))
        update_delta(
            spark, uri, [Filter("id", "=", 2)], {"par": "'9'"}
        )
        rows = {
            r["id"]: r["par"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert rows[2] == "9" and rows[4] == "0"
        # the moved row's file lives in the par=9 directory
        assert any(
            "par=9" in f.path for f in DeltaLog(uri).snapshot().files
        )

    def test_time_travel_sees_old_values(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        update_delta(spark, uri, [Filter("id", "=", 0)], {"v": "'new'"})
        latest = {
            r["id"]: r["v"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        old = {
            r["id"]: r["v"]
            for r in DeltalakeTable("t", uri)(
                spark=spark, version=2
            ).collect()
        }
        assert latest[0] == "new" and old[0] == "r0"


class TestDistributedDV:
    """The 100 TB contract: deleted-row positions never materialize on
    the driver — DV blobs are serialized executor-side on write, and
    reads above the broadcast threshold filter per-file in the scan."""

    def test_large_delete_no_driver_positions(self, spark, tmp_path):
        """~10^5-row predicate delete: the driver must only ever see
        per-file descriptor rows (asserted by instrumenting the blob
        serializer to fail on the driver), and the result must be
        exact."""
        from pyspark.sql import functions as F

        from datarepo_spark.tables import delta_dv as dvmod
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = str(tmp_path / "big")
        df = spark.range(0, 200_000).select(
            F.col("id"), (F.col("id") % 7).alias("m")
        )
        write_delta(df.repartition(4), uri)

        # serialize_bitmap_array must run ONLY in executor tasks: poison
        # it on the driver for the duration of the delete. (local-mode
        # python workers are separate processes, so the monkeypatch
        # never reaches them.)
        real = dvmod.serialize_bitmap_array

        def _driver_poisoned(positions):
            raise AssertionError(
                "DV blob serialized on the DRIVER — the delete path "
                "must build deletion vectors executor-side"
            )

        dvmod.serialize_bitmap_array = _driver_poisoned
        try:
            res = delete_delta(spark, uri, [Filter("m", "<", 4)])
        finally:
            dvmod.serialize_bitmap_array = real
        # ids with id%7 in {0,1,2,3}: ceil-ish count
        expected_deleted = sum(1 for i in range(200_000) if i % 7 < 4)
        assert res["rows_deleted"] == expected_deleted
        assert _ids(spark, uri) == [
            i for i in range(200_000) if i % 7 >= 4
        ]

    def test_read_switches_to_map_in_pandas(self, spark, tmp_path):
        """Above DV_BROADCAST_MAX_CARDINALITY the read plan must not
        broadcast the position set; rows still come back exact."""
        import datarepo_spark.tables.delta_table as dtmod
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "in", [1, 5, 12, 23])])
        old = dtmod.DV_BROADCAST_MAX_CARDINALITY
        dtmod.DV_BROADCAST_MAX_CARDINALITY = 0
        try:
            tbl = DeltalakeTable("t", uri)
            out = tbl(spark=spark)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" in plan
            assert sorted(r.id for r in out.collect()) == [
                i for i in range(30) if i not in (1, 5, 12, 23)
            ]
            # filters/pruning still correct through the python stage
            filtered = tbl(
                spark=spark, filters=[Filter("id", ">", 10)]
            )
            assert sorted(r.id for r in filtered.collect()) == [
                i for i in range(11, 30) if i not in (12, 23)
            ]
        finally:
            dtmod.DV_BROADCAST_MAX_CARDINALITY = old

    def test_small_dv_still_broadcasts(self, spark, tmp_path):
        """At/below the threshold the JVM-side broadcast anti-join is
        kept (no Arrow transit of data columns)."""
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 3)])
        out = DeltalakeTable("t", uri)(spark=spark)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan

    def test_rewrite_threshold_copy_on_write(self, spark, tmp_path):
        """A file crossing the deleted fraction threshold is rewritten
        (live rows re-staged, no near-full DV kept)."""
        from datarepo_spark.tables.delta_writer import delete_delta

        uri = _plain_table(spark, tmp_path)
        # delete 8 of file A's 10 rows -> 0.8 >= threshold 0.5 -> CoW;
        # file B loses 1 of 10 -> DV; file C untouched
        res = delete_delta(
            spark,
            uri,
            [Filter("id", "in", [0, 1, 2, 3, 4, 5, 6, 7, 12])],
            rewrite_threshold=0.5,
        )
        assert res["rows_deleted"] == 9
        assert res["files_added"] >= 1
        snap = DeltaLog(uri).snapshot()
        # no file carries a DV with >= half its rows deleted
        for f in snap.files:
            if f.deletion_vector:
                assert int(f.deletion_vector["cardinality"]) <= 1
        assert _ids(spark, uri) == [8, 9] + [
            i for i in range(10, 30) if i != 12
        ]

    def test_update_txn_idempotent_replay(self, spark, tmp_path):
        """ADVICE r4: update_delta carries the SetTransaction ledger —
        replaying a landed version must not double-apply ``id*2``-style
        non-idempotent assignments."""
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        res1 = update_delta(
            spark,
            uri,
            [Filter("id", "=", 4)],
            {"v": "concat(v, '!')"},
            txn_app_id="etl",
            txn_version=1,
        )
        assert res1["rows_updated"] == 1
        res2 = update_delta(
            spark,
            uri,
            [Filter("id", "=", 4)],
            {"v": "concat(v, '!')"},
            txn_app_id="etl",
            txn_version=1,
        )
        assert res2["rows_updated"] == 0
        assert res2["version"] == res1["version"]
        vals = {
            r["id"]: r["v"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert vals[4] == "r4!"  # applied exactly once

    def test_update_rewrite_threshold(self, spark, tmp_path):
        """CoW on update: heavily-updated file is rewritten; live rows
        survive alongside the updated ones."""
        from datarepo_spark.tables.delta_writer import update_delta

        uri = _plain_table(spark, tmp_path)
        res = update_delta(
            spark,
            uri,
            [Filter("id", "<", 9)],
            {"v": "'u'"},
            rewrite_threshold=0.5,
        )
        assert res["rows_updated"] == 9
        snap = DeltaLog(uri).snapshot()
        for f in snap.files:
            assert f.deletion_vector is None  # CoW, not a 90% DV
        vals = {
            r["id"]: r["v"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert all(vals[i] == "u" for i in range(9))
        assert vals[9] == "r9"
        assert len(vals) == 30
