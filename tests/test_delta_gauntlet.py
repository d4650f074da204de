"""End-to-end Delta lifecycle gauntlet.

One table driven through every writer/maintenance operation in
sequence — append, idempotent (replayed) append, overwrite, schema
evolution, checkpoint, log vacuum, compaction, file vacuum — with the
expected content tracked in a plain Python model and the table re-read
(and spot time-traveled) after every step. This is the integration-level
complement to the per-feature tests: the operations must COMPOSE."""

import os

import pytest
from pyspark.sql import types as T

from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    compact,
    vacuum,
    write_checkpoint,
    write_delta,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def read_all(spark, uri, version=None):
    t = DeltalakeTable("gauntlet", uri)
    rows = t(version=version, spark=spark).collect()
    return sorted((r.k, r.v) for r in rows)


def df_of(spark, pairs):
    return spark.createDataFrame(pairs, SCHEMA)


def test_full_lifecycle_composes(spark, tmp_path):
    uri = str(tmp_path / "gauntlet")
    model: dict[int, tuple] = {}

    # v0-v2: three idempotent appends (epoch 1 written TWICE — the
    # replay must be swallowed)
    batches = [
        [(1, "a"), (2, "b")],
        [(3, "c")],
        [(4, "d"), (5, "e")],
    ]
    for epoch, rows in enumerate(batches):
        write_delta(
            df_of(spark, rows), uri,
            txn_app_id="gauntlet", txn_version=epoch,
        )
        if epoch == 1:
            write_delta(
                df_of(spark, rows), uri,
                txn_app_id="gauntlet", txn_version=epoch,
            )
        for k, v in rows:
            model[k] = (k, v)
        assert read_all(spark, uri) == sorted(model.values())
    assert DeltaLog(uri).snapshot().version == 2

    # v3: overwrite with a subset
    write_delta(
        df_of(spark, [(10, "x"), (11, "y")]), uri,
        mode="overwrite",
    )
    model = {10: (10, "x"), 11: (11, "y")}
    assert read_all(spark, uri) == sorted(model.values())
    # time travel back across the overwrite
    assert read_all(spark, uri, version=2) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")
    ]

    # v4: schema evolution (new column), then checkpoint the result
    widened = spark.createDataFrame(
        [(12, "z", 3.5)],
        T.StructType(
            SCHEMA.fields + [T.StructField("score", T.DoubleType())]
        ),
    )
    write_delta(widened, uri, schema_mode="merge")
    write_checkpoint(uri)
    snap = DeltaLog(uri).snapshot()
    assert snap.version == 4
    assert [f.name for f in snap.schema.fields] == ["k", "v", "score"]
    assert snap.app_transactions == {"gauntlet": 2}

    # log vacuum: everything at/below the checkpoint goes away; replay
    # must come off the checkpoint (schema + txn ledger intact)
    log_dir = os.path.join(uri, "_delta_log")
    for v in range(4):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    t = DeltalakeTable("gauntlet", uri)
    got = sorted(
        (r.k, r.v, r.score) for r in t(spark=spark).collect()
    )
    assert got == [(10, "x", None), (11, "y", None), (12, "z", 3.5)]
    # replayed epoch still skipped after log vacuum
    before = DeltaLog(uri).snapshot().version
    write_delta(
        df_of(spark, [(99, "dup")]), uri,
        txn_app_id="gauntlet", txn_version=2,
    )
    assert DeltaLog(uri).snapshot().version == before

    # v5-v6: two more appends (strict mode, subset of evolved schema ok)
    write_delta(df_of(spark, [(13, "m")]), uri)
    write_delta(df_of(spark, [(14, "n")]), uri)

    # compact everything into one file per (unpartitioned) table
    n_before = len(DeltaLog(uri).snapshot().files)
    stats = compact(spark, uri)
    assert stats["files_removed"] == n_before
    content_after_compact = sorted(
        (r.k, r.v, r.score) for r in t(spark=spark).collect()
    )
    assert content_after_compact == [
        (10, "x", None), (11, "y", None), (12, "z", 3.5),
        (13, "m", None), (14, "n", None),
    ]

    # vacuum superseded files — the compacted inputs AND the files the
    # v3 overwrite superseded; current read intact, pre-compaction
    # versions become unreadable (the documented trade)
    removed = vacuum(uri)
    assert len(removed) >= n_before  # compact inputs + overwritten v0-v2
    assert sorted(
        (r.k, r.v, r.score) for r in t(spark=spark).collect()
    ) == content_after_compact
    with pytest.raises(Exception):
        t(version=6, spark=spark).collect()

    # and the table still checkpoints + replays cleanly at the end
    write_checkpoint(uri)
    snap = DeltaLog(uri).snapshot()
    assert snap.app_transactions == {"gauntlet": 2}
    assert len(snap.files) == 1


class TestRandomLifecycles:
    """Hypothesis-driven random op sequences against a Python model.
    Few examples (Spark actions are ~1 s each) but randomized ORDER —
    the scripted gauntlet fixes one composition; this explores others."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    OPS = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 2)),
            st.tuples(st.just("overwrite"), st.integers(3, 5)),
            st.tuples(st.just("delete"), st.integers(0, 5)),
            st.tuples(st.just("update"), st.integers(0, 5)),
            st.just(("zorder",)),
            st.just(("checkpoint",)),
            st.just(("compact",)),
            st.just(("vacuum",)),
        ),
        min_size=2,
        max_size=7,
    )

    @given(ops=OPS)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_random_sequence_matches_model(self, spark, tmp_path_factory, ops):
        from datarepo_spark.core.filters import Filter
        from datarepo_spark.tables.delta_writer import (
            delete_delta,
            update_delta,
            zorder_by,
        )

        uri = str(tmp_path_factory.mktemp("rand_delta") / "t")
        model: list = []  # multiset: appends legitimately duplicate rows
        version = -1
        for op in ops:
            if op[0] == "append":
                rows = [(op[1] * 10 + j, f"v{op[1]}") for j in range(2)]
                write_delta(
                    df_of(spark, rows), uri
                )
                model.extend(rows)
                version += 1
            elif op[0] == "overwrite":
                rows = [(op[1] * 10 + j, f"o{op[1]}") for j in range(2)]
                write_delta(
                    df_of(spark, rows), uri,
                    mode="overwrite",
                )
                model = list(rows)
                version += 1
            elif version >= 0 and op[0] == "delete":
                key = op[1] * 10  # first row of that batch, if present
                res = delete_delta(spark, uri, [Filter("k", "=", key)])
                assert res["rows_deleted"] == sum(
                    1 for r in model if r[0] == key
                )
                if res["rows_deleted"]:
                    version += 1
                model = [r for r in model if r[0] != key]
            elif version >= 0 and op[0] == "update":
                key = op[1] * 10 + 1
                res = update_delta(
                    spark, uri, [Filter("k", "=", key)], {"v": "'upd'"}
                )
                assert res["rows_updated"] == sum(
                    1 for r in model if r[0] == key
                )
                if res["rows_updated"]:
                    version += 1
                model = [
                    (k, "upd") if k == key else (k, v) for k, v in model
                ]
            elif version >= 0 and op[0] == "zorder" and model:
                zorder_by(spark, uri, ["k"], target_files=1)
                version += 1
            elif version >= 0 and op[0] == "checkpoint":
                write_checkpoint(uri)
            elif version >= 0 and op[0] == "compact":
                stats = compact(spark, uri)
                if stats["version"] >= 0:
                    version += 1
            elif version >= 0 and op[0] == "vacuum":
                vacuum(uri)
            if version >= 0:
                assert read_all(spark, uri) == sorted(model), op
        if version >= 0:
            snap = DeltaLog(uri).snapshot()
            assert snap.version == version
