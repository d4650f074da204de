"""Delta write path: Spark-written commits must round-trip through both the
log reader and DeltalakeTable, including partitioning, append/overwrite,
time travel, and streaming foreachBatch ingestion."""

import os
import json
import threading
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_writer import compact, write_delta


def vals(df):
    return sorted(r.v for r in df.select("v").collect())


class TestWriteDelta:
    def test_create_and_append(self, spark, tmp_path):
        uri = str(tmp_path / "t1")
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["v", "k"])
        assert write_delta(df1, uri) == 0
        df2 = spark.createDataFrame([(3, "a")], ["v", "k"])
        assert write_delta(df2, uri) == 1
        t = DeltalakeTable("t1", uri)
        assert vals(t(spark=spark)) == [1, 2, 3]
        assert vals(t(version=0, spark=spark)) == [1, 2]

    def test_partitioned_write_prunes(self, spark, tmp_path):
        uri = str(tmp_path / "t2")
        df = spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "x")], ["v", "part"]
        )
        write_delta(df, uri, partition_by=["part"])
        snap = DeltaLog(uri).snapshot()
        assert snap.partition_columns == ["part"]
        assert all(f.partition_values.get("part") for f in snap.files)
        from datarepo_spark.core.filters import Filter

        t = DeltalakeTable("t2", uri)
        assert vals(t(filters=[Filter("part", "=", "x")], spark=spark)) == [1, 3]

    def test_overwrite(self, spark, tmp_path):
        uri = str(tmp_path / "t3")
        write_delta(spark.createDataFrame([(1,)], ["v"]), uri)
        write_delta(
            spark.createDataFrame([(9,)], ["v"]), uri, mode="overwrite"
        )
        t = DeltalakeTable("t3", uri)
        assert vals(t(spark=spark)) == [9]
        assert vals(t(version=0, spark=spark)) == [1]

    def test_partitioning_mismatch_raises(self, spark, tmp_path):
        uri = str(tmp_path / "t4")
        write_delta(
            spark.createDataFrame([(1, "x")], ["v", "p"]), uri,
            partition_by=["p"],
        )
        with pytest.raises(ValueError, match="partitioning"):
            write_delta(
                spark.createDataFrame([(2, "y")], ["v", "p"]), uri,
                partition_by=["v"],  # conflicts with table partitioning
            )
        # empty partition_by adopts the table's existing partitioning
        write_delta(
            spark.createDataFrame([(2, "y")], ["v", "p"]), uri,
            partition_by=[],
        )
        t = DeltalakeTable("t4", uri)
        assert vals(t(spark=spark)) == [1, 2]

    def test_concurrent_appends_all_land(self, spark, tmp_path):
        uri = str(tmp_path / "t5")
        write_delta(spark.createDataFrame([(0,)], ["v"]), uri)
        errors = []

        def appender(v):
            try:
                write_delta(spark.createDataFrame([(v,)], ["v"]), uri)
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        threads = [
            threading.Thread(target=appender, args=(i,)) for i in (1, 2, 3)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        tbl = DeltalakeTable("t5", uri)
        assert vals(tbl(spark=spark)) == [0, 1, 2, 3]
        assert DeltaLog(uri).snapshot().version == 3


class TestSchemaEvolution:
    def test_type_change_always_rejected(self, spark, tmp_path):
        uri = str(tmp_path / "se1")
        write_delta(spark.createDataFrame([(1, "a")], ["v", "s"]), uri)
        bad = spark.createDataFrame([(2, 3.5)], ["v", "s"])
        for mode in ("strict", "merge"):
            with pytest.raises(ValueError, match="type mismatch"):
                write_delta(bad, uri, schema_mode=mode)

    def test_new_column_requires_merge(self, spark, tmp_path):
        uri = str(tmp_path / "se2")
        write_delta(spark.createDataFrame([(1,)], ["v"]), uri)
        widened = spark.createDataFrame([(2, "x")], ["v", "extra"])
        with pytest.raises(ValueError, match="schema_mode='merge'"):
            write_delta(widened, uri)
        write_delta(widened, uri, schema_mode="merge")
        t = DeltalakeTable("se2", uri)
        rows = {r.v: r.extra for r in t(spark=spark).collect()}
        assert rows == {1: None, 2: "x"}  # old files read null for the new col
        snap = DeltaLog(uri).snapshot()
        assert [f.name for f in snap.schema.fields] == ["v", "extra"]

    def test_subset_append_is_fine_in_strict(self, spark, tmp_path):
        uri = str(tmp_path / "se3")
        write_delta(spark.createDataFrame([(1, "a")], ["v", "s"]), uri)
        write_delta(spark.createDataFrame([(2,)], ["v"]), uri)  # no 's'
        t = DeltalakeTable("se3", uri)
        rows = {r.v: r.s for r in t(spark=spark).collect()}
        assert rows == {1: "a", 2: None}


class TestSnapshotCache:
    def test_fingerprint_hit_and_commit_invalidation(self, spark, tmp_path):
        """Repeated snapshot() calls serve the memo after one listing
        check; a new commit (same process or not) is seen immediately."""
        from datarepo_spark.tables import delta_log as DL

        uri = str(tmp_path / "snapcache")
        write_delta(
            spark.createDataFrame([(1,)], ["v"]), uri,
        )
        log = DeltaLog(uri)
        s1 = log.snapshot()
        assert log.snapshot() is s1  # fingerprint-validated memo hit
        write_delta(
            spark.createDataFrame([(2,)], ["v"]), uri,
        )
        s2 = log.snapshot()
        assert s2 is not s1 and s2.version == 1

        # TTL mode: serve without I/O inside the window even if the log
        # grew underneath (the documented trade) — but the write path's
        # invalidation keeps same-process readers exact, so simulate an
        # external writer by restoring the stale entry.
        s3 = log.snapshot(cache_ttl=3600)
        key = (log.uri, None)
        fp, ts, _snap = DL._SNAPSHOT_CACHE[key]
        import json as _json
        import os as _os

        with open(
            _os.path.join(uri, "_delta_log", f"{2:020d}.json"), "w"
        ) as fh:
            fh.write(_json.dumps({"add": {
                "path": "bogus.parquet", "partitionValues": {},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }}) + "\n")
        DL._SNAPSHOT_CACHE[key] = (fp, ts, _snap)
        assert log.snapshot(cache_ttl=3600) is s3  # TTL hit, stale OK
        got = log.snapshot()  # fingerprint check sees the new commit
        assert got.version == 2
        DL.invalidate_snapshot_cache(uri)

    def test_cache_options_parse_and_flow(self, spark, tmp_path):
        from datarepo_spark.tables.delta_table import (
            DeltaCacheOptions,
            parse_duration,
        )

        assert parse_duration("300") == 300.0
        assert parse_duration("300s") == 300.0
        assert parse_duration("5m") == 300.0
        assert parse_duration("1.5h") == 5400.0
        assert parse_duration(None) is None
        with pytest.raises(ValueError, match="Unparseable"):
            parse_duration("5 fortnights")
        opts = DeltaCacheOptions(
            file_cache_last_checkpoint_valid_duration="2m"
        )
        assert opts.ttl_seconds() == 120.0

        uri = str(tmp_path / "optflow")
        write_delta(spark.createDataFrame([(7,)], ["v"]), uri)
        t = DeltalakeTable("optflow", uri)
        assert vals(
            t(spark=spark, cache_options=opts, timeout="30s")
        ) == [7]
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        assert hconf.get("fs.s3a.connection.timeout") == "30000"


class TestDiskSnapshotCache:
    """file_cache_path (VERDICT r5 #5, reference parity
    deltalake_table.py:40-65): snapshots persist as JSON under the cache
    dir — a COLD process resolves from the file (no log replay), a
    commit through our write path invalidates, and an externally-staled
    entry fails the fingerprint check and replays."""

    def test_warm_dir_skips_replay_in_fresh_process_state(
        self, spark, tmp_path
    ):
        from datarepo_spark.tables import delta_log as DL

        uri = str(tmp_path / "diskcache")
        cache_dir = str(tmp_path / "snapdir")
        write_delta(spark.createDataFrame([(1,), (2,)], ["v"]), uri)
        # warm the disk cache, then wipe ALL in-process state (what a
        # new process sees)
        DeltaLog(uri).snapshot(file_cache_path=cache_dir)
        DL._SNAPSHOT_CACHE.clear()
        DL._DISK_CACHE_DIRS.clear()
        assert any(
            n.startswith("snap-") for n in os.listdir(cache_dir)
        )
        log = DeltaLog(uri)
        # replay must NOT run: the snapshot resolves purely from disk
        log._replay = lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("replayed despite warm disk cache")
        )
        snap = log.snapshot(file_cache_path=cache_dir)
        assert snap.version == 0
        assert sorted(f.name for f in snap.schema.fields) == ["v"]
        assert len(snap.files) >= 1
        # and the rehydrated snapshot actually reads
        t = DeltalakeTable("diskcache", uri)
        assert sorted(vals(t(spark=spark))) == [1, 2]

    def test_commit_invalidates_disk_entries(self, spark, tmp_path):
        from datarepo_spark.tables import delta_log as DL

        uri = str(tmp_path / "diskinval")
        cache_dir = str(tmp_path / "snapdir2")
        write_delta(spark.createDataFrame([(1,)], ["v"]), uri)
        DeltaLog(uri).snapshot(file_cache_path=cache_dir)
        assert any(n.startswith("snap-") for n in os.listdir(cache_dir))
        write_delta(spark.createDataFrame([(2,)], ["v"]), uri)
        # the write path's invalidate_snapshot_cache removed the entry
        assert not any(
            n.startswith("snap-") for n in os.listdir(cache_dir)
        )
        snap = DeltaLog(uri).snapshot(file_cache_path=cache_dir)
        assert snap.version == 1
        DL.invalidate_snapshot_cache(uri)

    def test_externally_stale_entry_revalidates(self, spark, tmp_path):
        """An entry left by another process whose table moved on must
        fail the stored-fingerprint check and fall through to replay —
        the disk cache can never serve a wrong snapshot."""
        from datarepo_spark.tables import delta_log as DL

        uri = str(tmp_path / "diskstale")
        cache_dir = str(tmp_path / "snapdir3")
        write_delta(spark.createDataFrame([(1,)], ["v"]), uri)
        DeltaLog(uri).snapshot(file_cache_path=cache_dir)
        [entry] = [
            n for n in os.listdir(cache_dir) if n.startswith("snap-")
        ]
        saved = open(os.path.join(cache_dir, entry)).read()
        write_delta(spark.createDataFrame([(2,)], ["v"]), uri)
        # simulate the stale file surviving (external writer: no
        # invalidation ran)
        with open(os.path.join(cache_dir, entry), "w") as fh:
            fh.write(saved)
        DL._SNAPSHOT_CACHE.clear()
        snap = DeltaLog(uri).snapshot(file_cache_path=cache_dir)
        assert snap.version == 1  # replayed, not the stale v0
        DL.invalidate_snapshot_cache(uri)

    def test_corrupt_entry_is_ignored(self, spark, tmp_path):
        from datarepo_spark.tables import delta_log as DL

        uri = str(tmp_path / "diskcorrupt")
        cache_dir = str(tmp_path / "snapdir4")
        write_delta(spark.createDataFrame([(5,)], ["v"]), uri)
        os.makedirs(cache_dir, exist_ok=True)
        path = DL._disk_cache_file(cache_dir, uri, None)
        with open(path, "w") as fh:
            fh.write("{not json")
        DL._SNAPSHOT_CACHE.clear()
        snap = DeltaLog(uri).snapshot(file_cache_path=cache_dir)
        assert snap.version == 0
        DL.invalidate_snapshot_cache(uri)


class TestIdempotentTxn:
    def test_replayed_epoch_is_skipped(self, spark, tmp_path):
        """SetTransaction ledger: a (appId, version) write replayed after
        a failure must not duplicate rows — the foreachBatch
        exactly-once contract."""
        from datarepo_spark.tables.delta_writer import write_delta

        uri = str(tmp_path / "txn")
        write_delta(
            spark.createDataFrame([(1,)], ["v"]), uri,
            txn_app_id="q1", txn_version=0,
        )
        v = write_delta(
            spark.createDataFrame([(2,)], ["v"]), uri,
            txn_app_id="q1", txn_version=1,
        )
        assert v == 1
        # replay of epoch 1: skipped, version unchanged, no extra rows
        v2 = write_delta(
            spark.createDataFrame([(2,)], ["v"]), uri,
            txn_app_id="q1", txn_version=1,
        )
        assert v2 == 1
        t = DeltalakeTable("txn", uri)
        assert vals(t(spark=spark)) == [1, 2]
        # another app's ledger is independent
        write_delta(
            spark.createDataFrame([(3,)], ["v"]), uri,
            txn_app_id="q2", txn_version=0,
        )
        assert vals(t(spark=spark)) == [1, 2, 3]
        snap = DeltaLog(uri).snapshot()
        assert snap.app_transactions == {"q1": 1, "q2": 0}

    def test_txn_survives_checkpoint(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            write_checkpoint,
            write_delta,
        )
        import os

        uri = str(tmp_path / "txn_ckpt")
        write_delta(
            spark.createDataFrame([(1,)], ["v"]), uri,
            txn_app_id="app", txn_version=7,
        )
        write_checkpoint(uri)
        os.remove(
            os.path.join(uri, "_delta_log", f"{0:020d}.json")
        )
        snap = DeltaLog(uri).snapshot()
        assert snap.app_transactions == {"app": 7}
        # idempotence still enforced off the checkpointed ledger
        v = write_delta(
            spark.createDataFrame([(9,)], ["v"]), uri,
            txn_app_id="app", txn_version=7,
        )
        assert v == snap.version
        assert vals(DeltalakeTable("t", uri)(spark=spark)) == [1]

    def test_partial_txn_args_raise(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import write_delta

        with pytest.raises(ValueError, match="together"):
            write_delta(
                spark.createDataFrame([(1,)], ["v"]),
                str(tmp_path / "x"),
                txn_app_id="a",
            )


class TestCompactionAndVacuum:
    def test_compact_preserves_content_and_shrinks_files(
        self, spark, tmp_path
    ):
        from datarepo_spark.tables.delta_writer import write_delta

        uri = str(tmp_path / "cmp")
        for i in range(4):  # 4 append commits → ≥4 files per partition set
            write_delta(
                spark.createDataFrame(
                    [(10 * i + j, "p" if j % 2 else "q") for j in range(4)],
                    ["v", "part"],
                ),
                uri,
                partition_by=["part"],
            )
        before = DeltaLog(uri).snapshot()
        t = DeltalakeTable("cmp", uri)
        expect = vals(t(spark=spark))

        stats = compact(spark, uri)
        assert stats["files_removed"] == len(before.files)
        assert stats["files_added"] == 2  # one per partition value
        after = DeltaLog(uri).snapshot()
        assert len(after.files) == 2
        assert vals(t(spark=spark)) == expect
        # partition pruning still works off the compacted files
        only_p = t(filters=[Filter("part", "=", "p")], spark=spark)
        assert all(r.part == "p" for r in only_p.collect())
        # time travel to pre-compaction still works: old files on disk
        assert vals(t(version=before.version, spark=spark)) == expect

    def test_compact_noop_below_threshold(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import write_delta

        uri = str(tmp_path / "cmp1")
        write_delta(
            spark.createDataFrame([(1,)], ["v"]).coalesce(1), uri,
        )
        stats = compact(spark, uri)
        assert stats == {
            "files_before": 1,
            "files_removed": 0,
            "files_added": 0,
            "version": -1,
        }

    def test_vacuum_deletes_only_unreferenced(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            compact,
            vacuum,
            write_delta,
        )
        import os

        uri = str(tmp_path / "vac")
        for i in range(3):
            write_delta(
                spark.createDataFrame([(i,)], ["v"]), uri,
            )
        before = DeltaLog(uri).snapshot()
        compact(spark, uri)
        preview = vacuum(uri, dry_run=True)
        assert sorted(preview) == sorted(
            unq.path for unq in before.files
        )
        assert all(
            os.path.exists(os.path.join(uri, p)) for p in preview
        )  # dry run deletes nothing
        deleted = vacuum(uri)
        assert deleted == preview
        t = DeltalakeTable("vac", uri)
        assert vals(t(spark=spark)) == [0, 1, 2]  # current version intact
        # old version's files are gone now
        with pytest.raises(Exception):
            t(version=before.version, spark=spark).collect()


class TestStreamingIntoDelta:
    def test_foreach_batch_sink(self, spark, tmp_path, sf_dir):
        """Streaming → Delta: foreachBatch lands each micro-batch as one
        commit; the table is then queryable (and time-travelable) by the
        batch reader — the classic bronze-ingestion shape."""
        import os
        import shutil

        import pyarrow.parquet as pq

        src = tmp_path / "stream_src"
        src.mkdir()
        table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        half = table.num_rows // 2
        pq.write_table(table.slice(0, half), str(src / "a.parquet"))
        pq.write_table(table.slice(half), str(src / "b.parquet"))

        uri = str(tmp_path / "bronze")
        from datarepo_spark.streaming.events import read_events_stream

        stream = read_events_stream(
            spark, str(src), max_files_per_trigger=1
        )
        query = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(
                lambda batch_df, _epoch: write_delta(batch_df, uri)
            )
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()

        t = DeltalakeTable("bronze", uri)
        total = t(spark=spark).count()
        assert total == table.num_rows
        assert DeltaLog(uri).snapshot().version >= 1  # ≥2 commits landed
        shutil.rmtree(str(src), ignore_errors=True)

    def test_foreach_batch_exactly_once_via_txn(self, spark, tmp_path, sf_dir):
        """End-to-end exactly-once: the sink writes each micro-batch with
        txn(appId=query, version=epoch). Re-running the stream from a
        FRESH checkpoint (the classic replay-after-checkpoint-loss
        failure) re-delivers every batch; the txn ledger must swallow
        the duplicates."""
        import os

        import pyarrow.parquet as pq

        src = tmp_path / "stream_src2"
        src.mkdir()
        table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        half = table.num_rows // 2
        pq.write_table(table.slice(0, half), str(src / "a.parquet"))
        pq.write_table(table.slice(half), str(src / "b.parquet"))

        uri = str(tmp_path / "bronze_txn")
        from datarepo_spark.streaming.events import read_events_stream

        def run(checkpoint: str) -> None:
            stream = read_events_stream(
                spark, str(src), max_files_per_trigger=1
            )
            query = (
                stream.writeStream.outputMode("append")
                .option("checkpointLocation", checkpoint)
                .foreachBatch(
                    lambda batch_df, epoch: write_delta(
                        batch_df, uri,
                        txn_app_id="bronze_txn", txn_version=epoch,
                    )
                )
                .start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()

        run(str(tmp_path / "ckpt_a"))
        n1 = DeltalakeTable("b", uri)(spark=spark).count()
        assert n1 == table.num_rows
        # replay from scratch: same epochs re-delivered, all skipped
        run(str(tmp_path / "ckpt_b"))
        n2 = DeltalakeTable("b", uri)(spark=spark).count()
        assert n2 == table.num_rows


class TestCheckpointing:
    def test_auto_checkpoint_and_truncated_log_replay(self, spark, tmp_path):
        """write_delta checkpoints at the delta cadence (every 10th
        commit); a log whose pre-checkpoint commits were vacuumed still
        resolves — O(files) replay, the property that keeps planning
        flat on a long-lived table."""
        import os

        from datarepo_spark.tables.delta_log import DeltaLog

        uri = str(tmp_path / "ckpt")
        for i in range(12):
            write_delta(
                spark.createDataFrame([(i,)], ["v"]), uri, mode="append"
            )
        log_dir = os.path.join(uri, "_delta_log")
        assert os.path.exists(
            os.path.join(log_dir, f"{10:020d}.checkpoint.parquet")
        )
        last = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
        assert last["version"] == 10

        # metaData id survives the checkpoint verbatim
        snap_before = DeltaLog(uri).snapshot()
        for v in range(10):  # vacuum everything below the checkpoint
            os.remove(os.path.join(log_dir, f"{v:020d}.json"))
        snap = DeltaLog(uri).snapshot()
        assert snap.version == 11
        assert snap.raw_metadata["id"] == snap_before.raw_metadata["id"]
        vals = sorted(
            r.v
            for r in spark.read.parquet(
                *[os.path.join(uri, f.path) for f in snap.files]
            ).collect()
        )
        assert vals == list(range(12))
        # gap AFTER the checkpoint still raises
        write_delta(spark.createDataFrame([(99,)], ["v"]), uri)  # v12
        os.remove(os.path.join(log_dir, f"{11:020d}.json"))
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError, match="gap"):
            DeltaLog(uri).snapshot()

    def test_checkpointed_partitioned_table_reads_correctly(
        self, spark, tmp_path
    ):
        from datarepo_spark.tables.delta_table import DeltalakeTable
        from datarepo_spark.tables.delta_writer import write_checkpoint

        uri = str(tmp_path / "ckpt_part")
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], ["v", "p"]
        )
        write_delta(df, uri, partition_by=["p"])
        write_delta(
            spark.createDataFrame([(4, "b")], ["v", "p"]),
            uri,
            partition_by=["p"],
        )
        write_checkpoint(uri)
        t = DeltalakeTable("t", uri)
        got = sorted((r.v, r.p) for r in t(spark=spark).collect())
        assert got == [(1, "a"), (2, "b"), (3, "a"), (4, "b")]
        # partition prune still works off checkpoint partitionValues
        only_a = t(filters=[Filter("p", "=", "a")], spark=spark)
        assert sorted(r.v for r in only_a.collect()) == [1, 3]

    def test_checkpoint_schema_is_protocol_conformant(self, spark, tmp_path):
        """The checkpoint parquet must use the PROTOCOL.md classic
        checkpoint schema — partitionValues as a parquet MAP (not an
        inferred struct), remove tombstones carried forward, txn column
        present — or external engines (delta-spark, delta-rs) cannot read
        a table once its 10th commit auto-checkpoints."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from datarepo_spark.tables.delta_writer import write_checkpoint

        uri = str(tmp_path / "ckpt_schema")
        write_delta(
            spark.createDataFrame([(1, "a"), (2, "b")], ["v", "p"]),
            uri,
            partition_by=["p"],
        )
        # overwrite creates remove tombstones for version-0 files
        write_delta(
            spark.createDataFrame([(9, "a")], ["v", "p"]),
            uri,
            mode="overwrite",
        )
        path = write_checkpoint(uri)
        schema = pq.read_schema(path)
        assert set(schema.names) >= {
            "txn", "add", "remove", "metaData", "protocol"
        }
        add_t = schema.field("add").type
        pv = add_t.field(add_t.get_field_index("partitionValues")).type
        assert pa.types.is_map(pv), f"partitionValues must be map, got {pv}"
        assert pa.types.is_string(pv.key_type)
        assert pa.types.is_string(pv.item_type)
        rm_t = schema.field("remove").type
        rm_pv = rm_t.field(rm_t.get_field_index("partitionValues")).type
        assert pa.types.is_map(rm_pv)
        meta_t = schema.field("metaData").type
        conf = meta_t.field(meta_t.get_field_index("configuration")).type
        assert pa.types.is_map(conf)

        rows = pq.read_table(path).to_pylist()
        removes = [r["remove"] for r in rows if r["remove"] is not None]
        assert len(removes) == 2, "overwritten files must appear as tombstones"
        assert all(not r["dataChange"] for r in removes)
        adds = [r["add"] for r in rows if r["add"] is not None]
        assert len(adds) == 1
        assert dict(adds[0]["partitionValues"]) == {"p": "a"}

        # the in-repo reader still round-trips after log vacuum
        log_dir = os.path.join(uri, "_delta_log")
        for v in (0, 1):
            os.remove(os.path.join(log_dir, f"{v:020d}.json"))
        snap = DeltaLog(uri).snapshot()
        assert [f.partition_values for f in snap.files] == [{"p": "a"}]
        assert {t.path for t in snap.tombstones} == {r["path"] for r in removes}
        t = DeltalakeTable("t", uri)
        assert vals(t(spark=spark)) == [9]

    def test_gap_headed_replay_warns(self, spark, tmp_path):
        """A checkpoint-less log missing its leading commits silently
        drops their adds; the reader must at least warn (r3 verdict
        item 10)."""
        import os
        import warnings

        # synthesize a log whose leading commits were deleted along with
        # the checkpoint that covered them: versions 5-6 remain, with the
        # metaData re-emitted at 5 (as checkpoint-cleaned logs have)
        uri = str(tmp_path / "gaphead")
        write_delta(
            spark.createDataFrame([(0,)], ["v"]), uri,
        )
        log_dir = os.path.join(uri, "_delta_log")
        os.rename(
            os.path.join(log_dir, f"{0:020d}.json"),
            os.path.join(log_dir, f"{5:020d}.json"),
        )
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            snap = DeltaLog(uri).snapshot()
        assert any(
            "replay starts at version" in str(w.message) for w in caught
        )
        assert snap.version == 5
        # an intact log does not warn
        uri2 = str(tmp_path / "intact")
        write_delta(spark.createDataFrame([(1,)], ["v"]), uri2)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            DeltaLog(uri2).snapshot()
        assert not [
            w for w in caught if "replay starts" in str(w.message)
        ]

    def test_readd_cancels_tombstone(self, spark, tmp_path):
        """Protocol reconciliation: an add of a previously-removed path
        drops its tombstone from the next checkpoint."""
        import json as _json
        import os

        uri = str(tmp_path / "readd")
        write_delta(
            spark.createDataFrame([(1,)], ["v"]), uri,
        )
        snap = DeltaLog(uri).snapshot()
        path0 = snap.files[0].path
        log_dir = os.path.join(uri, "_delta_log")
        with open(os.path.join(log_dir, f"{1:020d}.json"), "w") as fh:
            fh.write(_json.dumps({"remove": {
                "path": path0, "deletionTimestamp": 5, "dataChange": True,
            }}) + "\n")
        assert DeltaLog(uri).snapshot().tombstones[0].path == path0
        with open(os.path.join(log_dir, f"{2:020d}.json"), "w") as fh:
            fh.write(_json.dumps({"add": {
                "path": path0, "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True,
            }}) + "\n")
        snap2 = DeltaLog(uri).snapshot()
        assert snap2.tombstones == []
        assert path0 in {f.path for f in snap2.files}


class TestCommitConflicts:
    """Optimistic-concurrency validation on commit-number collision."""

    def _table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        uri = str(tmp_path / "cc")
        df = spark.range(0, 10).select(
            F.col("id"), F.concat(F.lit("r"), "id").alias("v")
        )
        write_delta(df, uri)
        return uri

    def _land(self, uri, actions, version):
        import json as _json

        from datarepo_spark.tables.delta_log import (
            invalidate_snapshot_cache,
        )

        path = os.path.join(uri, "_delta_log", f"{version:020d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")
        invalidate_snapshot_cache(uri)

    def test_concurrent_appends_commute(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import _commit_atomically

        uri = self._table(spark, tmp_path)
        # another writer appends at v1 after our snapshot (v0)
        self._land(
            uri,
            [{"add": {"path": "other.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            1,
        )
        v = _commit_atomically(
            uri,
            [{"add": {"path": "mine.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            snapshot=DeltaLog(uri).snapshot(0),
        )
        assert v.version == 2

    def test_concurrent_remove_conflicts(self, spark, tmp_path):
        from datarepo_spark.tables.delta_log import DeltaLog
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            _commit_atomically,
        )

        uri = self._table(spark, tmp_path)
        (victim,) = [f.path for f in DeltaLog(uri).snapshot().files][:1]
        # another writer (a compaction, say) removes the file at v1
        self._land(
            uri,
            [{"remove": {"path": victim, "deletionTimestamp": 0,
                         "dataChange": False}}],
            1,
        )
        with pytest.raises(ConcurrentModificationError, match="stale"):
            _commit_atomically(
                uri,
                [{"remove": {"path": victim, "deletionTimestamp": 0,
                             "dataChange": True}}],
                snapshot=DeltaLog(uri).snapshot(0),
            )

    def test_concurrent_metadata_conflicts(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            _commit_atomically,
        )

        uri = self._table(spark, tmp_path)
        self._land(
            uri,
            [{"metaData": {"id": "x", "schemaString": "{}",
                           "partitionColumns": [],
                           "configuration": {}}}],
            1,
        )
        with pytest.raises(
            ConcurrentModificationError, match="metadata/protocol"
        ):
            _commit_atomically(
                uri,
                [{"add": {"path": "mine.parquet", "partitionValues": {},
                          "size": 1, "modificationTime": 0,
                          "dataChange": True}}],
                snapshot=DeltaLog(uri).snapshot(0),
            )

    def test_racing_idempotent_txn_short_circuits(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import _commit_atomically

        uri = self._table(spark, tmp_path)
        self._land(
            uri,
            [
                {"txn": {"appId": "ingest", "version": 7,
                         "lastUpdated": 0}},
                {"add": {"path": "theirs.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}},
            ],
            1,
        )
        before = sorted(os.listdir(os.path.join(uri, "_delta_log")))
        commit = _commit_atomically(
            uri,
            [{"add": {"path": "mine.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            snapshot=DeltaLog(uri).snapshot(0),
            txn=("ingest", 7),
        )
        # the racing batch already landed: nothing new was committed,
        # and the caller is told which version holds the batch
        assert commit == (1, True)
        after = sorted(os.listdir(os.path.join(uri, "_delta_log")))
        assert before == after

    @pytest.mark.parametrize(
        "op",
        ["write_delta", "merge_delta", "delete_delta_dv",
         "delete_delta_rewrite", "update_delta", "overwrite_where"],
    )
    def test_superseded_write_discards_staged_files(
        self, spark, tmp_path, monkeypatch, op
    ):
        """An idempotent write whose commit loses the race to a replay
        of its own batch must remove every data and DV file it staged
        into the table and report zero effect at the racer's version."""
        from datarepo_spark.core.exec import local_frame
        from datarepo_spark.tables import delta_writer as dw

        uri = self._table(spark, tmp_path)
        real_commit = dw._commit_atomically
        staged = []

        def racing_commit(uri, actions, **kw):
            # land the same txn from a 'concurrent writer' after this
            # transaction staged its files but before its commit
            monkeypatch.setattr(dw, "_commit_atomically", real_commit)
            staged.extend(kw["staged"])
            assert all(
                os.path.exists(os.path.join(uri, unquote(p))) for p in staged
            )
            real_commit(
                uri,
                [{"add": {"path": "racer.parquet", "partitionValues": {},
                          "size": 1, "modificationTime": 0,
                          "dataChange": True}}],
                txn=("app", 3),
            )
            return real_commit(uri, actions, **kw)

        def on_disk():
            return {
                os.path.relpath(os.path.join(root, n), uri)
                for root, _dirs, names in os.walk(uri)
                if "_delta_log" not in root
                for n in names
            }

        def frame(*rows):
            return local_frame(spark, list(rows), "id long, v string")

        txn = {"txn_app_id": "app", "txn_version": 3}
        one = [Filter("id", "=", 1)]
        calls = {
            "write_delta": lambda: dw.write_delta(
                frame((100, "a")), uri, **txn),
            "merge_delta": lambda: dw.merge_delta(
                spark, uri, frame((1, "x"), (100, "y")), on=["id"], **txn),
            "delete_delta_dv": lambda: dw.delete_delta(
                spark, uri, one, **txn),
            "delete_delta_rewrite": lambda: dw.delete_delta(
                spark, uri, one, rewrite_threshold=0.0, **txn),
            "update_delta": lambda: dw.update_delta(
                spark, uri, one, {"v": "'x'"}, **txn),
            "overwrite_where": lambda: dw.overwrite_where(
                spark, uri, frame((1, "x")), one, **txn),
        }
        before = on_disk()
        monkeypatch.setattr(dw, "_commit_atomically", racing_commit)
        result = calls[op]()
        if op == "write_delta":
            assert result == 1  # the racer's commit
        else:
            assert result["version"] == 1
            assert all(v == 0 for k, v in result.items() if k != "version")
        # it staged data files, and DV files where it soft-deletes; none
        # is left on disk
        kinds = {os.path.splitext(p)[1] for p in staged}
        dv = op in ("delete_delta_dv", "update_delta", "overwrite_where")
        assert kinds == ({".bin"} if op == "delete_delta_dv" else
                         {".parquet", ".bin"} if dv else {".parquet"})
        assert on_disk() == before
        assert DeltaLog(uri).snapshot().version == 1

    def test_strict_mode_refuses_any_intervening_commit(
        self, spark, tmp_path
    ):
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            _commit_atomically,
        )

        uri = self._table(spark, tmp_path)
        self._land(
            uri,
            [{"add": {"path": "other.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            1,
        )
        with pytest.raises(
            ConcurrentModificationError, match="full-table snapshot"
        ):
            _commit_atomically(
                uri,
                [{"metaData": {"id": "x", "schemaString": "{}",
                               "partitionColumns": [],
                               "configuration": {}}}],
                snapshot=DeltaLog(uri).snapshot(0),
                strict=True,
            )

    def test_no_read_version_skips_validation(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import _commit_atomically

        uri = self._table(spark, tmp_path)
        self._land(
            uri,
            [{"metaData": {"id": "x", "schemaString": "{}",
                           "partitionColumns": [],
                           "configuration": {}}}],
            1,
        )
        v = _commit_atomically(
            uri,
            [{"add": {"path": "mine.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
        )
        assert v.version == 2


class TestCheckConstraints:
    def _table(self, spark, tmp_path):
        uri = str(tmp_path / "con")
        df = spark.range(0, 10).select(
            F.col("id"), (F.col("id") * 2.0).alias("x")
        )
        write_delta(df, uri)
        return uri

    def test_add_enforce_drop(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            ConstraintViolationError,
            add_check_constraint,
            drop_check_constraint,
        )

        uri = self._table(spark, tmp_path)
        add_check_constraint(spark, uri, "x_nonneg", "x >= 0")
        snap = DeltaLog(uri).snapshot()
        assert snap.configuration["delta.constraints.x_nonneg"] == "x >= 0"
        assert snap.raw_protocol["minWriterVersion"] >= 3

        good = spark.range(10, 12).select(
            F.col("id"), (F.col("id") * 1.0).alias("x")
        )
        write_delta(good, uri)
        bad = spark.range(12, 14).select(
            F.col("id"), (F.col("id") * -1.0).alias("x")
        )
        with pytest.raises(ConstraintViolationError, match="x_nonneg"):
            write_delta(bad, uri)

        drop_check_constraint(uri, "x_nonneg")
        write_delta(bad, uri)
        t = DeltalakeTable("con", uri)
        assert t(spark=spark).count() == 14

    def test_existing_violations_block_add(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            ConstraintViolationError,
            add_check_constraint,
        )

        uri = self._table(spark, tmp_path)
        with pytest.raises(ConstraintViolationError, match="Existing"):
            add_check_constraint(spark, uri, "small", "id < 5")

    def test_update_and_merge_enforce(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            ConstraintViolationError,
            add_check_constraint,
            merge_delta,
            update_delta,
        )

        uri = self._table(spark, tmp_path)
        add_check_constraint(spark, uri, "x_nonneg", "x >= 0")
        with pytest.raises(ConstraintViolationError):
            update_delta(
                spark, uri, [Filter("id", "=", 3)], {"x": "-5.0"}
            )
        bad_src = spark.range(3, 4).select(
            F.col("id"), F.lit(-1.0).alias("x")
        )
        with pytest.raises(ConstraintViolationError):
            merge_delta(spark, uri, bad_src, on=["id"])

    def test_null_passes_sql_check_semantics(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            add_check_constraint,
        )

        uri = self._table(spark, tmp_path)
        add_check_constraint(spark, uri, "x_nonneg", "x >= 0")
        with_null = spark.range(20, 21).select(
            F.col("id"), F.lit(None).cast("double").alias("x")
        )
        write_delta(with_null, uri)
        assert DeltalakeTable("con", uri)(spark=spark).count() == 11

    def test_feature_table_gets_writer_feature(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            add_check_constraint,
            delete_delta,
        )

        uri = self._table(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 0)])  # upgrades to v7
        add_check_constraint(spark, uri, "x_nonneg", "x >= 0")
        proto = DeltaLog(uri).snapshot().raw_protocol
        assert "checkConstraints" in proto["writerFeatures"]

    def test_bad_name_rejected(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            add_check_constraint,
        )

        uri = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="identifier"):
            add_check_constraint(spark, uri, "bad name!", "x >= 0")


class TestHistoryAndRestore:
    def _seed(self, spark, tmp_path):
        uri = str(tmp_path / "hr")
        for lo in (0, 5):
            df = spark.range(lo, lo + 5).select(
                F.col("id"), (F.col("id") * 1.0).alias("x")
            )
            write_delta(df, uri)
        return uri

    def test_describe_history(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            delete_delta,
            describe_history,
        )

        uri = self._seed(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "=", 3)])
        hist = describe_history(spark, uri).collect()
        assert [r["version"] for r in hist] == [2, 1, 0]
        assert [r["operation"] for r in hist] == [
            "DELETE", "WRITE", "WRITE",
        ]
        assert hist[0]["n_removes"] == 1 and hist[0]["n_adds"] == 1

    def test_restore_undoes_delete(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            delete_delta,
            restore_table,
        )

        uri = self._seed(spark, tmp_path)
        delete_delta(spark, uri, [Filter("id", "<", 3)])
        assert DeltalakeTable("t", uri)(spark=spark).count() == 7
        res = restore_table(spark, uri, 1)
        assert res["version"] == 3
        assert DeltalakeTable("t", uri)(spark=spark).count() == 10
        # the restore itself is time-travelable (history preserved)
        assert DeltalakeTable("t", uri)(
            spark=spark, version=2
        ).count() == 7

    def test_restore_undoes_overwrite(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import restore_table

        uri = self._seed(spark, tmp_path)
        write_delta(
            spark.range(100, 102).select(
                F.col("id"), (F.col("id") * 1.0).alias("x")
            ),
            uri, mode="overwrite",
        )
        assert DeltalakeTable("t", uri)(spark=spark).count() == 2
        restore_table(spark, uri, 1)
        got = sorted(
            r["id"] for r in DeltalakeTable("t", uri)(spark=spark).collect()
        )
        assert got == list(range(10))

    def test_restore_refuses_after_vacuum(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            restore_table,
            vacuum,
        )

        uri = self._seed(spark, tmp_path)
        write_delta(
            spark.range(50, 52).select(
                F.col("id"), (F.col("id") * 1.0).alias("x")
            ),
            uri, mode="overwrite",
        )
        vacuum(uri)
        with pytest.raises(ValueError, match="vacuumed"):
            restore_table(spark, uri, 1)

    def test_restore_noop_at_current(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import restore_table

        uri = self._seed(spark, tmp_path)
        res = restore_table(spark, uri, 1)
        assert res == {
            "version": 1, "files_added": 0, "files_removed": 0,
        }


class TestConstraintReviewFixes:
    def test_v3_upgrade_carries_check_constraints_feature(
        self, spark, tmp_path
    ):
        """writer v3 (constraint) table upgraded to table features by a
        DV delete must keep the checkConstraints gate."""
        from datarepo_spark.tables.delta_writer import (
            add_check_constraint,
            delete_delta,
        )

        uri = str(tmp_path / "t")
        df = spark.range(0, 6).select(
            F.col("id"), (F.col("id") * 1.0).alias("x")
        )
        write_delta(df, uri)
        add_check_constraint(spark, uri, "x_nonneg", "x >= 0")
        delete_delta(spark, uri, [Filter("id", "=", 1)])
        proto = DeltaLog(uri).snapshot().raw_protocol
        assert "checkConstraints" in proto["writerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]

    def test_subset_append_with_constraint_on_missing_column(
        self, spark, tmp_path
    ):
        """A legal subset append omitting a constrained column must
        succeed (missing reads as NULL; NULL passes SQL CHECK)."""
        from datarepo_spark.tables.delta_writer import (
            add_check_constraint,
        )

        uri = str(tmp_path / "t")
        df = spark.range(0, 3).select(
            F.col("id"), (F.col("id") * 1.0).alias("x")
        )
        write_delta(df, uri)
        add_check_constraint(spark, uri, "x_nonneg", "x >= 0")
        subset = spark.range(10, 12).select(F.col("id"))
        write_delta(subset, uri)
        rows = {
            r["id"]: r["x"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert rows[10] is None and len(rows) == 5


class TestGeneratedColumns:
    def _create(self, spark, tmp_path):
        uri = str(tmp_path / "gen")
        df = spark.range(0, 5).select(
            F.col("id"), (F.col("id") * 2.5).alias("x")
        )
        write_delta(
            df, uri,
            generated_cols={"bucket": "CAST(id % 3 AS BIGINT)"},
        )
        return uri

    def test_creation_computes_and_records(self, spark, tmp_path):
        uri = self._create(spark, tmp_path)
        snap = DeltaLog(uri).snapshot()
        assert snap.raw_protocol["minWriterVersion"] == 4
        field = next(f for f in snap.schema.fields if f.name == "bucket")
        assert (
            field.metadata["delta.generationExpression"]
            == "CAST(id % 3 AS BIGINT)"
        )
        rows = {
            r["id"]: r["bucket"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert rows == {i: i % 3 for i in range(5)}

    def test_append_computes_when_omitted(self, spark, tmp_path):
        uri = self._create(spark, tmp_path)
        more = spark.range(10, 12).select(
            F.col("id"), (F.col("id") * 1.0).alias("x")
        )
        write_delta(more, uri)
        rows = {
            r["id"]: r["bucket"]
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert rows[10] == 1 and rows[11] == 2

    def test_append_validates_when_provided(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            ConstraintViolationError,
        )

        uri = self._create(spark, tmp_path)
        ok = spark.range(20, 21).select(
            F.col("id"), F.lit(0.0).alias("x"),
            (F.col("id") % 3).cast("long").alias("bucket"),
        )
        write_delta(ok, uri)
        bad = spark.range(21, 22).select(
            F.col("id"), F.lit(0.0).alias("x"),
            F.lit(99).cast("long").alias("bucket"),
        )
        with pytest.raises(
            ConstraintViolationError, match="GENERATED ALWAYS AS"
        ):
            write_delta(bad, uri)

    def test_update_recomputes_generated(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import update_delta

        uri = self._create(spark, tmp_path)
        with pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
            update_delta(
                spark, uri, [Filter("id", "=", 1)], {"bucket": "7"}
            )
        # updating a SOURCE column is allowed; generated recomputes.
        # (id is the source here; x is independent.)
        update_delta(spark, uri, [Filter("x", "=", 2.5)], {"x": "9.9"})
        rows = {
            r["id"]: (r["x"], r["bucket"])
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert rows[1] == (9.9, 1)

    def test_creation_only(self, spark, tmp_path):
        uri = self._create(spark, tmp_path)
        more = spark.range(30, 31).select(
            F.col("id"), F.lit(0.0).alias("x")
        )
        with pytest.raises(ValueError, match="creation"):
            write_delta(
                more, uri,
                generated_cols={"other": "id"},
            )


class TestConvertToDelta:
    def test_unpartitioned_roundtrip(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import convert_to_delta

        plain = str(tmp_path / "plain")
        df = spark.range(0, 20).select(
            F.col("id"), (F.col("id") * 1.5).alias("x")
        )
        df.write.parquet(plain)
        v = convert_to_delta(spark, plain)
        assert v == 0
        got = sorted(
            r["id"] for r in DeltalakeTable("t", plain)(spark=spark).collect()
        )
        assert got == list(range(20))

    def test_hive_partitioned_with_pruning(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import convert_to_delta

        part = str(tmp_path / "part")
        df = spark.range(0, 30).select(
            F.col("id"), (F.col("id") % 3).alias("par")
        )
        df.write.partitionBy("par").parquet(part)
        convert_to_delta(spark, part)
        snap = DeltaLog(part).snapshot()
        assert snap.partition_columns == ["par"]
        assert all(
            f.partition_values.get("par") in {"0", "1", "2"}
            for f in snap.files
        )
        # hive inference types par as INT (dir values are numeric) —
        # filter with the inferred type, like any hive read
        got = DeltalakeTable("t", part)(
            spark=spark, filters=[Filter("par", "=", 1)]
        )
        assert sorted(r["id"] for r in got.collect()) == [
            i for i in range(30) if i % 3 == 1
        ]

    def test_converted_table_is_writable(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            convert_to_delta,
            delete_delta,
        )

        plain = str(tmp_path / "rw")
        spark.range(0, 10).select(
            F.col("id"), (F.col("id") * 1.0).alias("x")
        ).write.parquet(plain)
        convert_to_delta(spark, plain)
        write_delta(
            spark.range(10, 12).select(
                F.col("id"), (F.col("id") * 1.0).alias("x")
            ),
            plain,
        )
        delete_delta(spark, plain, [Filter("id", "=", 0)])
        got = sorted(
            r["id"] for r in DeltalakeTable("t", plain)(spark=spark).collect()
        )
        assert got == list(range(1, 12))

    def test_refuses_existing_delta(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import convert_to_delta

        uri = str(tmp_path / "d")
        write_delta(
            spark.range(3).select("id"), uri
        )
        with pytest.raises(ValueError, match="already"):
            convert_to_delta(spark, uri)

    def test_stats_enable_skipping(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import convert_to_delta

        plain = str(tmp_path / "sk")
        spark.range(0, 100).select(
            F.col("id")
        ).repartitionByRange(4, "id").write.parquet(plain)
        convert_to_delta(spark, plain)
        snap = DeltaLog(plain).snapshot()
        assert all(f.stats for f in snap.files)

    def test_rejects_override_omitting_hive_level(self, spark, tmp_path):
        """ADVICE r4: an override omitting a discovered key=value level
        would leave that column's values only in directory names —
        subsequent reads would return NULL for it. Refuse loudly."""
        from datarepo_spark.tables.delta_writer import convert_to_delta

        part = str(tmp_path / "two_level")
        df = spark.range(0, 12).select(
            F.col("id"),
            (F.col("id") % 2).alias("a"),
            (F.col("id") % 3).alias("b"),
        )
        df.write.partitionBy("a", "b").parquet(part)
        with pytest.raises(ValueError, match="omits hive level"):
            convert_to_delta(spark, part, partition_columns=["a"])


class TestCompactWhere:
    def test_scopes_to_matching_partitions(self, spark, tmp_path):
        uri = str(tmp_path / "cw")
        for _ in range(3):  # 3 files per partition (coalesced writes)
            df = spark.range(0, 10).select(
                F.col("id"), (F.col("id") % 2).cast("string").alias("par")
            ).coalesce(1)
            write_delta(
                df, uri, partition_by=["par"]
            )
        stats = compact(spark, uri, where=[Filter("par", "=", "1")])
        assert stats["files_removed"] == 3 and stats["files_added"] == 1
        snap = DeltaLog(uri).snapshot()
        by_par = {}
        for f in snap.files:
            by_par.setdefault(f.partition_values["par"], []).append(f)
        assert len(by_par["1"]) == 1     # compacted
        assert len(by_par["0"]) == 3     # untouched
        assert DeltalakeTable("t", uri)(spark=spark).count() == 30

    def test_rejects_data_column_scope(self, spark, tmp_path):
        uri = str(tmp_path / "cw2")
        df = spark.range(0, 4).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("par")
        )
        write_delta(df, uri, partition_by=["par"])
        with pytest.raises(ValueError, match="partition columns only"):
            compact(spark, uri, where=[Filter("id", ">", 1)])


class TestConcurrentAppendReadSet:
    """ADVICE r4: WriteSerializable must raise when a concurrent
    dataChange append lands files a DELETE/UPDATE/MERGE predicate read
    (delta-spark's ConcurrentAppendException) — appends only commute
    with each other."""

    def _table(self, spark, tmp_path):
        uri = str(tmp_path / "cc")
        df = spark.range(0, 10).select(
            F.col("id"), F.concat(F.lit("r"), "id").alias("v")
        )
        write_delta(df, uri)
        return uri

    def _land_append(self, uri, version, lo, hi, data_change=True, stats=True):
        import json as _json

        from datarepo_spark.tables.delta_log import (
            invalidate_snapshot_cache,
        )

        stats = _json.dumps(
            {
                "numRecords": hi - lo,
                "minValues": {"id": lo},
                "maxValues": {"id": hi - 1},
                "nullCount": {"id": 0},
            }
        ) if stats else None
        path = os.path.join(uri, "_delta_log", f"{version:020d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(
                _json.dumps(
                    {
                        "add": {
                            "path": f"other-{version}.parquet",
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": data_change,
                            "stats": stats,
                        }
                    }
                )
                + "\n"
            )
        invalidate_snapshot_cache(uri)

    def test_append_inside_predicate_conflicts(self, spark, tmp_path):
        from datarepo_spark.core.filters import normalize_filters
        from datarepo_spark.tables.delta_log import DeltaLog
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            _commit_atomically,
        )

        uri = self._table(spark, tmp_path)
        snap = DeltaLog(uri).snapshot()
        self._land_append(uri, 1, lo=2, hi=5)  # overlaps id < 5
        with pytest.raises(
            ConcurrentModificationError, match="read\\s*set|read set"
        ):
            _commit_atomically(
                uri,
                [{"remove": {"path": "x.parquet", "deletionTimestamp": 0,
                             "dataChange": True}}],
                snapshot=snap,
                read_predicate=normalize_filters([Filter("id", "<", 5)]),
            )

    def test_append_outside_predicate_commutes(self, spark, tmp_path):
        from datarepo_spark.core.filters import normalize_filters
        from datarepo_spark.tables.delta_log import DeltaLog
        from datarepo_spark.tables.delta_writer import _commit_atomically

        uri = self._table(spark, tmp_path)
        snap = DeltaLog(uri).snapshot()
        self._land_append(uri, 1, lo=100, hi=110)  # provably not id < 5
        v = _commit_atomically(
            uri,
            [{"add": {"path": "mine.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            snapshot=snap,
            read_predicate=normalize_filters([Filter("id", "<", 5)]),
        )
        assert v.version == 2

    def test_merge_whole_table_read_conflicts_on_any_append(
        self, spark, tmp_path
    ):
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            _commit_atomically,
        )

        uri = self._table(spark, tmp_path)
        self._land_append(uri, 1, lo=100, hi=110)
        with pytest.raises(ConcurrentModificationError, match="append"):
            _commit_atomically(
                uri,
                [{"add": {"path": "mine.parquet", "partitionValues": {},
                          "size": 1, "modificationTime": 0,
                          "dataChange": True}}],
                snapshot=DeltaLog(uri).snapshot(0),
                read_whole_table=True,
            )

    def test_optimize_rewrite_never_conflicts(self, spark, tmp_path):
        from datarepo_spark.core.filters import normalize_filters
        from datarepo_spark.tables.delta_log import DeltaLog
        from datarepo_spark.tables.delta_writer import _commit_atomically

        uri = self._table(spark, tmp_path)
        snap = DeltaLog(uri).snapshot()
        # dataChange: false rewrite (compaction) fully inside the band
        self._land_append(uri, 1, lo=0, hi=10, data_change=False)
        v = _commit_atomically(
            uri,
            [{"add": {"path": "mine.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0,
                      "dataChange": True}}],
            snapshot=snap,
            read_predicate=normalize_filters([Filter("id", "<", 5)]),
        )
        assert v.version == 2

    def test_end_to_end_racing_append_vs_delete(self, spark, tmp_path):
        """delete_delta planned against a snapshot; an append lands in
        its read set before the commit → the DELETE must refuse."""
        from datarepo_spark.tables import delta_writer as W
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            delete_delta,
        )

        uri = self._table(spark, tmp_path)
        real = W._commit_atomically
        raced = {"done": False}

        def racing_commit(uri, actions, **kw):
            if not raced["done"]:
                raced["done"] = True
                self._land_append(uri, 1, lo=0, hi=3)
            return real(uri, actions, **kw)

        W._commit_atomically = racing_commit
        try:
            with pytest.raises(
                ConcurrentModificationError, match="read set"
            ):
                delete_delta(spark, uri, [Filter("id", "<", 5)])
        finally:
            W._commit_atomically = real

    @pytest.mark.parametrize(
        "lo, hi, stats, key_max, conflicts",
        [
            (100, 110, True, None, False),
            (0, 5, True, None, True),
            (100, 110, False, None, True),
            (100, 110, True, 0, True),
        ],
        ids=["stats_exclude_every_key", "holds_a_key", "no_stats",
             "past_the_bound"],
    )
    def test_end_to_end_racing_append_vs_merge(
        self, spark, tmp_path, monkeypatch, lo, hi, stats, key_max, conflicts
    ):
        """A MERGE's read set is its source keys (a concurrent append
        conflicts unless its stats exclude every key), or past the key
        bound the whole table."""
        from datarepo_spark.core.exec import local_frame
        from datarepo_spark.tables import delta_writer as W
        from datarepo_spark.tables.delta_writer import (
            ConcurrentModificationError,
            merge_delta,
        )

        uri = self._table(spark, tmp_path)
        if key_max is not None:
            monkeypatch.setattr(W, "MERGE_KEY_PRUNE_MAX", key_max)
        real = W._commit_atomically
        raced = {"done": False}

        def racing_commit(uri, actions, **kw):
            if not raced["done"]:
                raced["done"] = True
                self._land_append(uri, 1, lo=lo, hi=hi, stats=stats)
            return real(uri, actions, **kw)

        monkeypatch.setattr(W, "_commit_atomically", racing_commit)
        src = local_frame(
            spark, [(3, "n3"), (7, "n7"), (50, "n50")], "id long, v string"
        )
        if conflicts:
            with pytest.raises(ConcurrentModificationError, match="read set"):
                merge_delta(spark, uri, src, on=["id"])
        else:
            assert merge_delta(spark, uri, src, on=["id"])["version"] == 2


class TestIdentityColumns:
    """GENERATED ALWAYS AS IDENTITY (writer protocol v6): dense
    writer-assigned LONGs tracked by a high-water mark; explicit values
    refused; racing allocation aborts via the metaData conflict rule."""

    def test_creation_assigns_dense_ids(self, spark, tmp_path):
        uri = str(tmp_path / "ident")
        write_delta(
            spark.createDataFrame([("a",), ("b",), ("c",)], ["v"]),
            uri,
            identity_cols={"row_id": {"start": 1, "step": 1}},
        )
        snap = DeltaLog(uri).snapshot()
        assert snap.raw_protocol["minWriterVersion"] == 6
        f = next(x for x in snap.schema.fields if x.name == "row_id")
        assert f.metadata["delta.identity.start"] == 1
        assert f.metadata["delta.identity.highWaterMark"] == 3
        ids = sorted(
            r.row_id
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        )
        assert ids == [1, 2, 3]

    def test_appends_continue_from_high_water(self, spark, tmp_path):
        uri = str(tmp_path / "ident")
        write_delta(
            spark.range(5).selectExpr("concat('v', id) AS v"),
            uri,
            identity_cols={"row_id": {"start": 100, "step": 10}},
        )
        write_delta(
            spark.range(3).selectExpr("concat('w', id) AS v"), uri
        )
        rows = DeltalakeTable("t", uri)(spark=spark).collect()
        ids = sorted(r.row_id for r in rows)
        assert ids == [100, 110, 120, 130, 140, 150, 160, 170]
        assert len({r.row_id for r in rows}) == 8  # unique
        snap = DeltaLog(uri).snapshot()
        f = next(x for x in snap.schema.fields if x.name == "row_id")
        assert f.metadata["delta.identity.highWaterMark"] == 170

    def test_explicit_values_refused(self, spark, tmp_path):
        uri = str(tmp_path / "ident")
        write_delta(
            spark.createDataFrame([("a",)], ["v"]),
            uri,
            identity_cols={"row_id": {}},
        )
        with pytest.raises(ValueError, match="IDENTITY"):
            write_delta(
                spark.createDataFrame([(99, "x")], ["row_id", "v"]), uri
            )

    def test_update_and_merge_guards(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import (
            merge_delta,
            update_delta,
        )

        uri = str(tmp_path / "ident")
        write_delta(
            spark.createDataFrame([("a",), ("b",)], ["v"]),
            uri,
            identity_cols={"row_id": {}},
        )
        with pytest.raises(ValueError, match="IDENTITY"):
            update_delta(
                spark, uri, [Filter("v", "=", "a")], {"row_id": "99"}
            )
        # updating OTHER columns preserves the assigned ids
        update_delta(spark, uri, [Filter("v", "=", "a")], {"v": "'z'"})
        rows = {
            r.v: r.row_id
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        }
        assert sorted(rows.values()) == [1, 2]
        with pytest.raises(NotImplementedError, match="identity"):
            merge_delta(
                spark, uri,
                spark.createDataFrame([(1, "q")], ["row_id", "v"]),
                on=["row_id"],
            )

    def test_deterministic_per_sorted_input(self, spark, tmp_path):
        """Dense block allocation: ids are unique and exactly span
        [start, start + step*(n-1)] regardless of partitioning."""
        uri = str(tmp_path / "ident")
        df = spark.range(0, 97).selectExpr("concat('v', id) AS v")
        write_delta(
            df.repartition(7), uri, identity_cols={"row_id": {}}
        )
        ids = sorted(
            r.row_id
            for r in DeltalakeTable("t", uri)(spark=spark).collect()
        )
        assert ids == list(range(1, 98))


class TestDescribeDetail:
    def test_snapshot_card(self, spark, tmp_path):
        from datarepo_spark.tables.delta_writer import describe_detail

        uri = str(tmp_path / "dd")
        df = spark.createDataFrame(
            [(1, "x", "a"), (2, "y", "b")], ["k", "v", "part"]
        )
        write_delta(df, uri, partition_by=["part"])
        row = describe_detail(spark, uri).head()
        assert row.format == "parquet"
        assert row.version == 0
        assert row.num_files == 2
        assert row.partition_columns == ["part"]
        assert row.size_in_bytes > 0
        assert "k:bigint" in row.schema_string
        # evolves with the log
        write_delta(
            spark.createDataFrame([(3, "z", "a")], ["k", "v", "part"]),
            uri,
        )
        row2 = describe_detail(spark, uri).head()
        assert row2.version == 1 and row2.num_files == 3
