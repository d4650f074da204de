"""Every Delta write ends in one commit step
(``delta_writer._commit_atomically``): it writes the commit, keeps the
idempotent-writer ledger and writes a checkpoint at every
``CHECKPOINT_INTERVAL``-th version, whatever the operation.

A snapshot read through a checkpoint must equal a replay of the JSON
commits alone (files, deletion vectors, tombstones, the SetTransaction
ledger, metadata and protocol), on a plain and on a column-mapped table.
A source scan pins that no other code creates files in ``_delta_log``.
"""

import ast
import json
import os
import pathlib
import shutil

import pytest

from datarepo_spark.core.exec import local_frame
from datarepo_spark.core.filters import Filter
from datarepo_spark.tables.delta_log import DeltaLog
from datarepo_spark.tables.delta_writer import (
    CHECKPOINT_INTERVAL,
    add_check_constraint,
    carry_transactions,
    compact,
    delete_delta,
    drop_check_constraint,
    enable_column_mapping,
    merge_delta,
    overwrite_where,
    restore_table,
    update_delta,
    write_delta,
)

SCHEMA = "id long, v string"


def frame(spark, *rows):
    return local_frame(spark, list(rows), SCHEMA)


def canonical(snap):
    """What a snapshot says about the table, in a form equal however it
    was replayed."""
    proto = snap.raw_protocol or {}
    dv_keys = ("storageType", "pathOrInlineDv", "offset", "sizeInBytes", "cardinality")
    return {
        "version": snap.version,
        "files": sorted(
            (
                f.path,
                sorted(f.partition_values.items()),
                f.size,
                f.stats,
                f.deletion_vector and [f.deletion_vector.get(k) for k in dv_keys],
            )
            for f in snap.files
        ),
        "tombstones": sorted(t.path for t in snap.tombstones),
        "app_transactions": snap.app_transactions,
        "schema": snap.schema.json(),
        "partition_columns": snap.partition_columns,
        "configuration": dict(snap.configuration),
        "table_id": snap.raw_metadata["id"],
        "protocol": (
            proto.get("minReaderVersion"),
            proto.get("minWriterVersion"),
            sorted(proto.get("readerFeatures") or []),
            sorted(proto.get("writerFeatures") or []),
        ),
    }


def assert_checkpoint_equals_json_replay(uri, version, work_dir):
    """The checkpoint at ``version`` alone, and the JSON commits up to
    ``version`` alone, replay to the same snapshot."""
    log = os.path.join(uri, "_delta_log")
    name = f"{version:020d}.checkpoint.parquet"
    assert os.path.exists(os.path.join(log, name))
    ckpt_log = os.path.join(work_dir, f"ckpt{version}", "_delta_log")
    json_log = os.path.join(work_dir, f"json{version}", "_delta_log")
    os.makedirs(ckpt_log)
    os.makedirs(json_log)
    shutil.copy(os.path.join(log, name), ckpt_log)
    with open(os.path.join(ckpt_log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version}, fh)
    for v in range(version + 1):
        shutil.copy(os.path.join(log, f"{v:020d}.json"), json_log)
    from_ckpt = DeltaLog(os.path.dirname(ckpt_log)).snapshot()
    from_json = DeltaLog(os.path.dirname(json_log)).snapshot()
    assert from_ckpt.version == from_json.version == version
    assert canonical(from_ckpt) == canonical(from_json)


def _base_table(spark, uri, mapped):
    """Two data files; on request a CHECK constraint and then column
    mapping (constraints are added to unmapped tables only). Returns
    the table's version."""
    write_delta(
        frame(spark, *[(i, f"r{i}") for i in range(8)]).repartition(2), uri
    )
    if not mapped:
        return 0
    add_check_constraint(spark, uri, "nonneg", "id >= 0")
    return enable_column_mapping(uri)


def _constraint_change(spark, uri, base):
    if DeltaLog(uri).snapshot().column_mapping_mode == "none":
        return add_check_constraint(spark, uri, "nonneg", "id >= 0")
    return drop_check_constraint(uri, "nonneg")


OPS = {
    "append": lambda spark, uri, base: write_delta(frame(spark, (50, "a")), uri),
    "merge": lambda spark, uri, base: merge_delta(
        spark, uri, frame(spark, (1, "m"), (60, "n")), on=["id"]
    ),
    "delete_dv": lambda spark, uri, base: delete_delta(
        spark, uri, [Filter("id", "=", 1)]
    ),
    "delete_rewrite": lambda spark, uri, base: delete_delta(
        spark, uri, [Filter("id", "=", 1)], rewrite_threshold=0.0
    ),
    "update": lambda spark, uri, base: update_delta(
        spark, uri, [Filter("id", "=", 2)], {"v": "'u'"}
    ),
    "overwrite_where": lambda spark, uri, base: overwrite_where(
        spark, uri, frame(spark, (3, "o")), [Filter("id", "=", 3)]
    ),
    "compact": lambda spark, uri, base: compact(spark, uri),
    "restore": lambda spark, uri, base: restore_table(spark, uri, base),
    "check_constraint": _constraint_change,
}


@pytest.mark.parametrize("mapped", [False, True], ids=["plain", "column_mapped"])
@pytest.mark.parametrize("op", list(OPS))
def test_every_commit_path_checkpoints(spark, tmp_path, op, mapped):
    """Each operation lands the table on version 10 and writes its
    checkpoint. Before it: an append (so RESTORE and OPTIMIZE have files
    to change) and ledger-only commits, or for MERGE a history of
    merges only. The constraint change is ADD CONSTRAINT on the plain
    table and DROP CONSTRAINT on the mapped one, where adding is
    refused."""
    uri = str(tmp_path / "t")
    base = _base_table(spark, uri, mapped)
    if op == "merge":
        for k in range(base + 1, CHECKPOINT_INTERVAL):
            merge_delta(
                spark, uri, frame(spark, (k, f"m{k}"), (100 + k, "new")),
                on=["id"], txn_app_id="merger", txn_version=k,
            )
    else:
        write_delta(frame(spark, (40, "x")), uri)
        for k in range(base + 2, CHECKPOINT_INTERVAL):
            carry_transactions(uri, {"ledger": k})
    assert DeltaLog(uri).snapshot().version == CHECKPOINT_INTERVAL - 1
    assert not any(
        n.endswith(".checkpoint.parquet")
        for n in os.listdir(os.path.join(uri, "_delta_log"))
    )
    OPS[op](spark, uri, base)
    assert DeltaLog(uri).snapshot().version == CHECKPOINT_INTERVAL
    with open(os.path.join(uri, "_delta_log", "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == CHECKPOINT_INTERVAL
    assert_checkpoint_equals_json_replay(
        uri, CHECKPOINT_INTERVAL, str(tmp_path / "replays")
    )


def test_a_merge_fed_table_checkpoints_at_the_interval(spark, tmp_path):
    """30 upserts after the first write: checkpoints at v10, v20 and
    v30, each equal to the JSON replay of the same version."""
    uri = str(tmp_path / "merged")
    write_delta(frame(spark, *[(i, f"r{i}") for i in range(20)]), uri)
    for k in range(1, 31):
        merge_delta(
            spark, uri, frame(spark, (k % 20, f"u{k}"), (100 + k, "new")),
            on=["id"], txn_app_id="upserts", txn_version=k,
        )
    log = os.path.join(uri, "_delta_log")
    assert sorted(n for n in os.listdir(log) if "checkpoint." in n) == [
        f"{v:020d}.checkpoint.parquet" for v in (10, 20, 30)
    ]
    for v in (10, 20, 30):
        assert_checkpoint_equals_json_replay(uri, v, str(tmp_path / "replays"))
    assert DeltaLog(uri).snapshot().app_transactions == {"upserts": 30}


IDEMPOTENT_OPS = {
    "write_delta": lambda spark, uri, **txn: write_delta(
        frame(spark, (1, "a")), uri, **txn),
    "merge_delta": lambda spark, uri, **txn: merge_delta(
        spark, uri, frame(spark, (1, "a")), on=["id"], **txn),
    "delete_delta": lambda spark, uri, **txn: delete_delta(
        spark, uri, [Filter("id", "=", 1)], **txn),
    "update_delta": lambda spark, uri, **txn: update_delta(
        spark, uri, [Filter("id", "=", 1)], {"v": "'u'"}, **txn),
    "overwrite_where": lambda spark, uri, **txn: overwrite_where(
        spark, uri, frame(spark, (1, "a")), [Filter("id", "=", 1)], **txn),
}


@pytest.mark.parametrize("op", list(IDEMPOTENT_OPS))
def test_idempotent_ops_share_the_txn_rules(spark, tmp_path, op):
    """Half a ledger entry is refused; a replayed (appId, version) is a
    no-op that commits nothing."""
    uri = str(tmp_path / "t")
    write_delta(frame(spark, (1, "r1"), (2, "r2")), uri)
    with pytest.raises(ValueError, match="together"):
        IDEMPOTENT_OPS[op](spark, uri, txn_app_id="app")
    with pytest.raises(ValueError, match="together"):
        IDEMPOTENT_OPS[op](spark, uri, txn_version=1)
    carry_transactions(uri, {"app": 5})
    result = IDEMPOTENT_OPS[op](spark, uri, txn_app_id="app", txn_version=5)
    assert (result if op == "write_delta" else result["version"]) == 1
    assert DeltaLog(uri).snapshot().version == 1


# -- only the commit step writes the log ---------------------------------------

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "datarepo_spark"
LOG_WRITERS = {
    "tables/delta_writer.py::_commit_atomically",
    "tables/delta_writer.py::write_checkpoint",
}
_CREATES = {
    "open", "makedirs", "mkdir", "write_table", "move", "copy", "copy2",
    "copyfile", "copytree", "rename", "replace", "symlink", "link",
}


def _creates_a_file(call: ast.Call) -> bool:
    fn = call.func
    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
    if name not in _CREATES:
        return False
    if name == "open" and isinstance(fn, ast.Name):
        # builtin open: only a writing mode creates a file
        mode = call.args[1] if len(call.args) > 1 else next(
            (k.value for k in call.keywords if k.arg == "mode"), None
        )
        return not (
            mode is None
            or isinstance(mode, ast.Constant) and not set("wax+") & set(mode.value)
        )
    return True


def _names_the_log(node: ast.AST, tainted: set[str]) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and "_delta_log" in n.value:
            return True
        if isinstance(n, ast.Name) and n.id in tainted:
            return True
        if isinstance(n, ast.Attribute) and n.attr == "log_dir":
            return True
    return False


def _writes_the_log(fn: ast.AST) -> bool:
    """Whether ``fn`` creates a file or directory at a path built from
    the log directory (directly, through a ``log_dir`` name, or through
    local names bound to it)."""
    tainted = {"log_dir"}
    while True:  # names bound to the log directory, to a fixpoint
        grown = {
            target.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Assign) and _names_the_log(n.value, tainted)
            for target in n.targets
            if isinstance(target, ast.Name)
        } | tainted
        if grown == tainted:
            break
        tainted = grown
    return any(
        isinstance(n, ast.Call)
        and _creates_a_file(n)
        and any(
            _names_the_log(arg, tainted)
            for arg in [*n.args, *(k.value for k in n.keywords)]
        )
        for n in ast.walk(fn)
    )


def log_writers(source: str, module: str) -> set[str]:
    """``module::function`` for each top-level function or method that
    creates a file or directory in the log directory."""
    tree = ast.parse(source)
    scopes = [
        (f"{node.name}.{item.name}", item)
        for node in tree.body
        if isinstance(node, ast.ClassDef)
        for item in node.body
        if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
    ] + [
        (node.name, node)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    return {f"{module}::{name}" for name, fn in scopes if _writes_the_log(fn)}


def test_the_scan_flags_a_hand_written_commit():
    snippet = (
        "def fixture(uri):\n"
        "    with open(os.path.join(uri, '_delta_log', f'{1:020d}.json'), 'w') as fh:\n"
        "        fh.write('{}')\n"
        "def reader(uri):\n"
        "    with open(os.path.join(uri, '_delta_log', 'x.json')) as fh:\n"
        "        return fh.read()\n"
    )
    assert log_writers(snippet, "m.py") == {"m.py::fixture"}


def test_only_the_commit_step_writes_the_delta_log():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        found |= log_writers(path.read_text(encoding="utf-8"), module)
    assert found == LOG_WRITERS
