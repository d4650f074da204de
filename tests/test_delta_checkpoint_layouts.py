"""Checkpoint layout interop: classic multi-part and v2 (manifest +
sidecars) checkpoints must replay identically to the single-part form,
and a PARTIAL multi-part upload must be invisible, never half-read."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datarepo_spark.tables.delta_log import (
    DeltaLog,
    invalidate_snapshot_cache,
)
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    checkpoint_arrow_schema,
    write_checkpoint,
    write_delta,
)


def _seed(spark, tmp_path):
    """Two-commit table + classic checkpoint at version 1."""
    uri = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], ["v", "k"]), uri,
    )
    write_delta(
        spark.createDataFrame([(3, "c")], ["v", "k"]), uri,
    )
    write_checkpoint(uri)
    return uri


def _strip_commits(uri):
    """Delete the JSON commits so replay MUST come from the checkpoint."""
    log = os.path.join(uri, "_delta_log")
    for n in list(os.listdir(log)):
        if n.endswith(".json") and len(n) == 25:
            os.remove(os.path.join(log, n))
    invalidate_snapshot_cache()


def _checkpoint_rows(uri):
    log = os.path.join(uri, "_delta_log")
    name = [n for n in os.listdir(log) if n.endswith(".checkpoint.parquet")][0]
    table = pq.read_table(os.path.join(log, name))
    os.remove(os.path.join(log, name))
    return table, log


def _vals(spark, uri):
    return sorted(
        r.v for r in DeltalakeTable("t", uri)(spark=spark).collect()
    )


class TestMultipart:
    def test_multipart_replay(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        table, log = _checkpoint_rows(uri)
        # split the classic checkpoint's rows into 2 parts
        half = max(1, table.num_rows // 2)
        for i, sl in enumerate(
            (table.slice(0, half), table.slice(half)), start=1
        ):
            pq.write_table(
                sl,
                os.path.join(
                    log,
                    f"{1:020d}.checkpoint.{i:010d}.{2:010d}.parquet",
                ),
            )
        _strip_commits(uri)
        assert _vals(spark, uri) == [1, 2, 3]
        assert DeltaLog(uri).snapshot().version == 1

    def test_partial_multipart_invisible(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        table, log = _checkpoint_rows(uri)
        # only part 1 of 2 lands (torn upload): the checkpoint must be
        # ignored entirely — with the commits still present, replay
        # falls back to them and still sees everything
        pq.write_table(
            table.slice(0, 1),
            os.path.join(
                log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
            ),
        )
        invalidate_snapshot_cache()
        assert DeltaLog(uri)._checkpoint_versions() == []
        assert _vals(spark, uri) == [1, 2, 3]

    def test_classic_preferred_over_multipart(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        log = os.path.join(uri, "_delta_log")
        # bogus multi-part alongside the intact classic file: catalog
        # must pick the classic one
        pq.write_table(
            pa.Table.from_pylist([], schema=checkpoint_arrow_schema()),
            os.path.join(
                log, f"{1:020d}.checkpoint.{1:010d}.{1:010d}.parquet"
            ),
        )
        invalidate_snapshot_cache()
        cat = DeltaLog(uri)._checkpoint_catalog()
        assert cat[1]["kind"] == "classic"
        _strip_commits(uri)
        assert _vals(spark, uri) == [1, 2, 3]


class TestV2:
    def _to_v2(self, uri, manifest_format="parquet"):
        """Rewrite the classic checkpoint as a v2 manifest + one sidecar."""
        table, log = _checkpoint_rows(uri)
        rows = table.to_pylist()
        file_rows = [
            r for r in rows if r.get("add") or r.get("remove")
        ]
        meta_rows = [
            r for r in rows if not (r.get("add") or r.get("remove"))
        ]
        sidecars = os.path.join(log, "_sidecars")
        os.makedirs(sidecars, exist_ok=True)
        sc_name = "part-0001-uuid.parquet"
        pq.write_table(
            pa.Table.from_pylist(
                file_rows, schema=checkpoint_arrow_schema()
            ),
            os.path.join(sidecars, sc_name),
        )
        sidecar_action = {
            "sidecar": {
                "path": sc_name,
                "sizeInBytes": os.path.getsize(
                    os.path.join(sidecars, sc_name)
                ),
                "modificationTime": 0,
            }
        }
        manifest = f"{1:020d}.checkpoint.80a083e8-7026.{manifest_format}"
        if manifest_format == "json":
            with open(os.path.join(log, manifest), "w") as fh:
                for r in meta_rows:
                    fh.write(
                        json.dumps(
                            {
                                k: v
                                for k, v in r.items()
                                if v is not None
                            },
                            default=str,
                        )
                        + "\n"
                    )
                fh.write(json.dumps(sidecar_action) + "\n")
        else:
            schema = checkpoint_arrow_schema()
            sidecar_field = pa.field(
                "sidecar",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("sizeInBytes", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                    ]
                ),
            )
            schema = pa.schema(list(schema) + [sidecar_field])
            pq.write_table(
                pa.Table.from_pylist(
                    meta_rows + [sidecar_action], schema=schema
                ),
                os.path.join(log, manifest),
            )
        _strip_commits(uri)

    @pytest.mark.parametrize("fmt", ["parquet", "json"])
    def test_v2_replay(self, spark, tmp_path, fmt):
        uri = _seed(spark, tmp_path)
        self._to_v2(uri, manifest_format=fmt)
        cat = DeltaLog(uri)._checkpoint_catalog()
        assert cat[1]["kind"] == "v2"
        assert _vals(spark, uri) == [1, 2, 3]
        assert DeltaLog(uri).snapshot().version == 1

    def test_v2_reader_feature_accepted(self, spark, tmp_path):
        uri = _seed(spark, tmp_path)
        self._to_v2(uri)
        # stamp a v3 protocol with the v2Checkpoint reader feature —
        # must no longer raise
        log = os.path.join(uri, "_delta_log")
        with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
            fh.write(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": ["v2Checkpoint"],
                            "writerFeatures": ["v2Checkpoint"],
                        }
                    }
                )
                + "\n"
            )
        invalidate_snapshot_cache()
        assert _vals(spark, uri) == [1, 2, 3]

    def test_unknown_reader_feature_refused(self, spark, tmp_path):
        """The feature gate is an ALLOWLIST: anything unrecognized must
        refuse (a future feature can change read semantics arbitrarily);
        everything we implement — deletionVectors included — passes."""
        uri = _seed(spark, tmp_path)
        log = os.path.join(uri, "_delta_log")
        with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
            fh.write(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": [
                                "deletionVectors",
                                "someFutureFeature",
                            ],
                        }
                    }
                )
                + "\n"
            )
        invalidate_snapshot_cache()
        with pytest.raises(NotImplementedError, match="someFutureFeature"):
            DeltaLog(uri).snapshot()
