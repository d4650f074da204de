"""Randomized Delta DML gauntlet: seeded random op programs vs a model.

The per-feature suites prove each operation alone; the sequential
gauntlet proves one fixed composition. This drives a table through
SEEDED RANDOM sequences of append / DV delete / update / merge /
compact / zorder / checkpoint / restore / shallow-clone while
maintaining the expected content in a plain dict — any divergence
between the log-replayed read and the model is a composition bug.
Seeds are fixed (no flaky shrinking, reproducible failures); three
programs of ~12 ops each cover hundreds of operation-pair orderings
across runs of the suite."""

import os
import random

import pytest
from pyspark.sql import types as T

from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import (
    compact,
    delete_delta,
    merge_delta,
    restore_table,
    update_delta,
    write_checkpoint,
    write_delta,
    zorder_by,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("x", T.DoubleType()),
    ]
)


def _read(spark, uri):
    rows = DeltalakeTable("rg", uri)(spark=spark).collect()
    return sorted((r.k, r.v, r.x) for r in rows)


def _model_rows(model):
    return sorted((k, v, x) for k, (v, x) in model.items())


def _run_program(spark, tmp_path, seed, n_ops=12):
    rng = random.Random(seed)
    uri = str(tmp_path / f"rg{seed}")
    model: dict[int, tuple] = {}
    next_key = 0
    history: list[tuple[int, dict]] = []  # (version, model snapshot)

    def fresh_rows(n):
        nonlocal next_key
        rows = []
        for _ in range(n):
            rows.append(
                (next_key, f"v{next_key % 7}", float(next_key % 13))
            )
            next_key += 1
        return rows

    # seed commit
    rows = fresh_rows(rng.randint(3, 8))
    write_delta(
        spark.createDataFrame(rows, SCHEMA), uri
    )
    for k, v, x in rows:
        model[k] = (v, x)
    history.append((DeltaLog(uri).snapshot().version, dict(model)))

    ops = ["append", "delete", "update", "merge", "compact",
           "zorder", "checkpoint", "restore", "enable_mapping"]
    mapped = False
    for step in range(n_ops):
        op = rng.choice(ops)
        if op == "append":
            rows = fresh_rows(rng.randint(1, 6))
            write_delta(
                spark.createDataFrame(rows, SCHEMA), uri,
            )
            for k, v, x in rows:
                model[k] = (v, x)
        elif op == "delete":
            if not model:
                continue
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(0, 5)
            delete_delta(
                spark, uri,
                [Filter("k", ">=", lo), Filter("k", "<=", hi)],
                rewrite_threshold=rng.choice([None, 0.5]),
            )
            for k in [k for k in model if lo <= k <= hi]:
                del model[k]
        elif op == "update":
            if not model:
                continue
            tag = f"u{step}"
            mod = rng.randint(2, 4)
            upd_key = rng.choice(sorted(model))
            update_delta(
                spark, uri,
                [Filter("k", "=", upd_key)],
                {"v": f"'{tag}'", "x": f"x + {mod}"},
            )
            old_v, old_x = model[upd_key]
            model[upd_key] = (tag, old_x + mod)
        elif op == "merge":
            src_rows = fresh_rows(rng.randint(1, 3))
            if model and rng.random() < 0.5:
                upd_k = rng.choice(sorted(model))
                src_rows.append((upd_k, f"m{step}", -1.0))
            merge_delta(
                spark, uri,
                spark.createDataFrame(src_rows, SCHEMA), on=["k"],
            )
            for k, v, x in src_rows:
                model[k] = (v, x)
        elif op == "compact":
            compact(spark, uri, min_files_per_partition=2)
        elif op == "zorder":
            zorder_by(spark, uri, ["k"])
        elif op == "checkpoint":
            write_checkpoint(uri)
        elif op == "restore":
            if mapped:
                continue  # restoring past the mapping upgrade would
                # resurrect the unmapped metaData — out of model scope
            cur = DeltaLog(uri).snapshot().version
            cands = [(v, m) for v, m in history if v < cur]
            if cands and rng.random() < 0.5:
                version, snap_model = rng.choice(cands)
                restore_table(spark, uri, version)
                model = dict(snap_model)
        elif op == "enable_mapping":
            if not mapped:
                from datarepo_spark.tables.delta_writer import (
                    enable_column_mapping,
                )

                enable_column_mapping(uri)
                mapped = True
                # content unchanged; every later op runs MAPPED

        assert _read(spark, uri) == _model_rows(model), (
            f"divergence after step {step} op={op} (seed {seed})"
        )
        history.append((DeltaLog(uri).snapshot().version, dict(model)))

    return uri, model


@pytest.mark.parametrize("seed", [11, 29, 47])
def test_random_dml_program_matches_model(spark, tmp_path, seed):
    _run_program(spark, tmp_path, seed)


def test_random_program_then_clone_isolated(spark, tmp_path):
    from datarepo_spark.tables.clone import clone_delta

    uri, model = _run_program(spark, tmp_path, seed=5, n_ops=8)
    dst = str(tmp_path / "cloned")
    clone_delta(uri, dst)
    assert _read(spark, dst) == _model_rows(model)
    # clone-side DML leaves the source alone
    if model:
        delete_delta(
            spark, dst, [Filter("k", "=", sorted(model)[0])]
        )
        assert _read(spark, uri) == _model_rows(model)
