"""Delta Lake write path: append/overwrite a DataFrame as a Delta commit.

The reference library is read-only (SURVEY.md §2A: "no write paths") — but
an engine that reads Delta should also land data transactionally. This
module is the jar-less write path that mirrors
:mod:`datarepo_spark.tables.delta_log`: write partitioned parquet with
Spark's distributed writer, then append one atomic JSON commit describing
the files (public Delta protocol actions).

Concurrency note: commit atomicity relies on the object store's
put-if-absent for the next ``NNN.json`` (same contract delta-rs uses);
this local-FS implementation uses O_EXCL create and, on collision,
validates the intervening commits against the transaction's snapshot
(WriteSerializable conflict rules — see :func:`_check_commit_conflicts`)
before retrying at the next version number. Every write ends in
:func:`_commit_atomically`, which also keeps the idempotent-writer
ledger and writes a checkpoint at every :data:`CHECKPOINT_INTERVAL`-th
version, whatever the operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import uuid
from typing import NamedTuple, Optional, Sequence
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame

from ..core.exec import local_frame
from .delta_log import DeltaLog
from .delta_stats import collect_file_stats

# MERGE/UPDATE/DELETE pull ONE metadata row per affected file to the
# driver (never row data) — bounded by file count. At pathological
# scale (millions of affected files) that bound is still a driver-
# memory ceiling, so the collect is capped: crossing it raises a clear
# "partition the operation" error instead of an opaque OOM. Callers
# can raise the cap per call (max_affected_files=).
DEFAULT_MAX_AFFECTED_FILES = 1_000_000

# MERGE collects up to this many source keys to prune its target scan to
# the files that can hold them; past it the merge scans the whole table.
# Measured on the 60-file lakebench readings table (4 vCPU, local[4]): a
# merge whose keys sit in few files ran 1.5x faster pruned from 1k to 10k
# keys, 1.2x at 20k, and lost at 40k (41 of 60 files kept); keys spread
# over every file cost the same on both paths up to 10k and 0.25 s more
# pruned at 20k-40k, the cost of collecting the keys (0.15-0.25 s at 10k,
# 0.25-0.45 s at 20k-40k). 10k is where the spread case stops breaking
# even.
MERGE_KEY_PRUNE_MAX = 10_000

# Delta's default delta.checkpointInterval: every commit that lands on a
# multiple of it writes a checkpoint, whatever the operation, so a log
# replays O(files) + at most this many JSON commits
CHECKPOINT_INTERVAL = 10


def _check_affected_cap(n_collected: int, cap: int, op: str) -> None:
    if n_collected > cap:
        raise ValueError(
            f"{op} touches more than {cap} data files; collecting their "
            f"metadata would risk driver memory. Partition the {op} "
            f"(split the source/predicate by table partition or key "
            f"range and run per slice), or pass a higher "
            f"max_affected_files if the driver is sized for it."
        )


def _schema_string(df: DataFrame) -> str:
    return json.dumps(df.schema.jsonValue())


def _reject_column_mapping(snapshot, op: str) -> None:
    """Operations that embed LOGICAL column names in places the mapped
    protocol keys physically (constraint expressions today) refuse
    loudly. Data writes no longer come through here — they stage under
    physical names via :func:`_remap_to_physical`."""
    mode = snapshot.column_mapping_mode
    if mode != "none":
        raise NotImplementedError(
            f"{op} on a column-mapped table (delta.columnMapping.mode="
            f"{mode!r}) is not supported"
        )


def _remap_to_physical(df: DataFrame, snapshot, schema=None):
    """Inverse of delta_table._remap_to_logical: project a LOGICAL-layout
    frame into the table's PHYSICAL parquet layout (col-<uuid> names from
    ``delta.columnMapping.physicalName`` field metadata), recursing
    through structs, arrays, and map keys and values. Pure projection —
    codegen, no shuffle. Partition columns are renamed too, so partitionBy
    staging produces physically-keyed directory names → physically-keyed
    partitionValues, as the mapped protocol requires. ``schema``
    overrides the snapshot's (schema-merge writes map against the
    MERGED, already-annotated schema)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def conv(col: Column, f: T.StructField) -> Column:
        dt = f.dataType
        if isinstance(dt, T.StructType):
            rebuilt = F.struct(
                *[
                    conv(col[sub.name], sub).alias(
                        snapshot.physical_name(sub)
                    )
                    for sub in dt.fields
                ]
            )
            # struct(...) of a NULL struct is a row of nulls, not NULL
            return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
        if isinstance(dt, T.ArrayType):
            if not isinstance(
                dt.elementType, (T.StructType, T.ArrayType, T.MapType)
            ):
                return col
            elem = T.StructField("element", dt.elementType, True)
            return F.transform(col, lambda x: conv(x, elem))
        if isinstance(dt, T.MapType):
            nested = (T.StructType, T.ArrayType, T.MapType)
            if isinstance(dt.keyType, nested):
                key = T.StructField("key", dt.keyType, False)
                col = F.transform_keys(col, lambda k, _v: conv(k, key))
            if isinstance(dt.valueType, nested):
                val = T.StructField("value", dt.valueType, True)
                col = F.transform_values(col, lambda _k, v: conv(v, val))
            return col
        return col

    out = []
    for lf in (schema or snapshot.schema).fields:
        if lf.name not in df.columns:
            continue  # subset writes: missing columns stay missing
        out.append(
            conv(F.col(f"`{lf.name}`"), lf).alias(
                snapshot.physical_name(lf)
            )
        )
    return df.select(*out)


def _physical_partition_cols(snapshot) -> list[str]:
    return [
        snapshot.physical_name(snapshot.partition_field(c))
        for c in snapshot.partition_columns
    ]


def _physical_struct(schema, snapshot, exclude=()):
    """An arbitrary (annotated) logical schema renamed field-by-field to
    its physical layout — the merged-schema analogue of
    snapshot.physical_data_schema."""
    from pyspark.sql import types as T

    def conv_dt(dt):
        if isinstance(dt, T.StructType):
            return T.StructType([conv_field(f) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(conv_dt(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                conv_dt(dt.keyType),
                conv_dt(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    def conv_field(f):
        return T.StructField(
            snapshot.physical_name(f), conv_dt(f.dataType), f.nullable
        )

    return T.StructType(
        [conv_field(f) for f in schema.fields if f.name not in set(exclude)]
    )


def _stage_frame_for(snapshot, df: DataFrame):
    """(frame, partition_cols, file_schema) for _stage_adds: physical
    when the table is column-mapped, logical (the declared table
    layout) otherwise. ``df`` must carry the full table schema."""
    if snapshot.column_mapping_mode == "none":
        return df, snapshot.partition_columns, snapshot.data_schema
    return (
        _remap_to_physical(df, snapshot),
        _physical_partition_cols(snapshot),
        snapshot.physical_data_schema,
    )


def enable_column_mapping(uri: str, mode: str = "name") -> int:
    """Upgrade an existing table to column mapping (delta's ALTER TABLE
    SET TBLPROPERTIES ('delta.columnMapping.mode' = 'name')).

    Every field (recursively) is assigned ``delta.columnMapping.id``
    and a ``physicalName`` equal to its CURRENT name — the same upgrade
    delta-spark performs, so files already on disk remain readable
    while all future writes key physically. Returns the committed
    version."""
    import copy

    from pyspark.sql import types as T

    if mode not in ("name", "id"):
        raise ValueError(f"mode must be name|id, got {mode!r}")
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    if snapshot.column_mapping_mode != "none":
        raise ValueError(
            f"{uri} already has delta.columnMapping.mode="
            f"{snapshot.column_mapping_mode!r}"
        )

    next_id = [0]

    def assign(f: T.StructField) -> T.StructField:
        next_id[0] += 1
        meta = dict(f.metadata or {})
        meta["delta.columnMapping.id"] = next_id[0]
        meta["delta.columnMapping.physicalName"] = f.name
        return T.StructField(f.name, conv_dt(f.dataType), f.nullable, meta)

    def conv_dt(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([assign(sub) for sub in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(conv_dt(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                conv_dt(dt.keyType),
                conv_dt(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    new_schema = T.StructType([assign(f) for f in snapshot.schema.fields])

    # same legacy-feature carry as _dv_feature_actions: jumping to
    # table features must list every feature the old versions implied
    proto = snapshot.raw_protocol or {}
    reader_feats = set(proto.get("readerFeatures") or [])
    writer_feats = set(proto.get("writerFeatures") or [])
    if not writer_feats:
        implied = {
            2: {"appendOnly", "invariants"},
            3: {"checkConstraints"},
            4: {"changeDataFeed", "generatedColumns"},
            5: {"columnMapping"},
            6: {"identityColumns"},
        }
        legacy = int(proto.get("minWriterVersion", 2))
        for v, feats in implied.items():
            if legacy >= v:
                writer_feats |= feats

    meta = copy.deepcopy(dict(snapshot.raw_metadata or {}))
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    meta["schemaString"] = json.dumps(new_schema.jsonValue())
    config = dict(meta.get("configuration") or {})
    config["delta.columnMapping.mode"] = mode
    config["delta.columnMapping.maxColumnId"] = str(next_id[0])
    meta["configuration"] = config

    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(
                    reader_feats | {"columnMapping"}
                ),
                "writerFeatures": sorted(
                    writer_feats | {"columnMapping"}
                ),
            }
        },
        {"metaData": meta},
    ]
    return _commit_atomically(
        uri, actions,
        snapshot=snapshot,
        operation="SET TBLPROPERTIES",
        operation_params={"columnMapping.mode": mode},
    ).version


class _micros_timestamps:
    """Write-scope conf: Spark's default INT96 parquet timestamps carry NO
    column statistics (deprecated physical type), which would silently
    exclude every timestamp column from add.stats data skipping —
    TIMESTAMP_MICROS is the layout modern Delta writers emit. Set for the
    staging write, restored after (never leak conf into the caller's
    session)."""

    KEY = "spark.sql.parquet.outputTimestampType"

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.KEY)
            self.spark.conf.set(self.KEY, "TIMESTAMP_MICROS")
        except Exception:
            self.prev = None
        return self

    def __exit__(self, *exc):
        if self.prev is not None:
            try:
                self.spark.conf.set(self.KEY, self.prev)
            except Exception:
                pass
        return False


def _strip_meta(dt):
    """``dt`` without nested field metadata and nullability: a
    column-mapped table's nested mapping annotations, or a frame whose
    literal structs are non-nullable, must not read as a type mismatch
    (parquet stores the values identically either way)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _strip_meta(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_meta(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_meta(dt.keyType), _strip_meta(dt.valueType), dt.valueContainsNull
        )
    return dt


def _check_schema(
    df: DataFrame, snapshot, schema_mode: str
) -> Optional[dict]:
    """Enforce writer-side schema compatibility (delta-spark semantics):

    - columns present in both must agree on type (never negotiable);
    - columns missing from ``df`` are fine (files without a column read
      as null under the table schema);
    - NEW columns require ``schema_mode='merge'`` (delta's mergeSchema):
      they are appended to the table schema and the updated metaData
      action is returned for inclusion in this commit.

    Without this check an appended drifted frame writes files that
    disagree with the table's metaData — readers planning with the
    declared schema would silently null out (or fail on) the drift."""
    from pyspark.sql import types as T

    table_fields = {f.name: f for f in snapshot.schema.fields}
    new_fields = []
    for f in df.schema.fields:
        existing = table_fields.get(f.name)
        if existing is None:
            new_fields.append(f)
        elif _strip_meta(existing.dataType) != _strip_meta(f.dataType):
            raise ValueError(
                f"Column {f.name!r} type mismatch: table has "
                f"{existing.dataType.simpleString()}, dataframe has "
                f"{f.dataType.simpleString()} (schema evolution cannot "
                f"change types)"
            )
    if not new_fields:
        return None
    if schema_mode != "merge":
        raise ValueError(
            f"DataFrame adds columns {[f.name for f in new_fields]} not in "
            f"the table schema; pass schema_mode='merge' to evolve"
        )
    meta = dict(snapshot.raw_metadata or {})
    # maps replayed from a checkpoint arrive as (k, v) tuple lists
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    if snapshot.column_mapping_mode != "none":
        # mapped table evolution: every new field (recursively) gets a
        # FRESH physical name (col-<uuid>, never a reused logical name)
        # and the next column id; maxColumnId bumps in the same commit
        config = dict(meta.get("configuration") or {})
        next_id = [int(config.get("delta.columnMapping.maxColumnId", 0))]

        def annotate(f: T.StructField) -> T.StructField:
            next_id[0] += 1
            fmeta = dict(f.metadata or {})
            fmeta["delta.columnMapping.id"] = next_id[0]
            fmeta["delta.columnMapping.physicalName"] = (
                f"col-{uuid.uuid4().hex[:16]}"
            )
            return T.StructField(
                f.name, annotate_dt(f.dataType), f.nullable, fmeta
            )

        def annotate_dt(dt: T.DataType) -> T.DataType:
            if isinstance(dt, T.StructType):
                return T.StructType([annotate(s) for s in dt.fields])
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(
                    annotate_dt(dt.elementType), dt.containsNull
                )
            if isinstance(dt, T.MapType):
                return T.MapType(
                    annotate_dt(dt.keyType),
                    annotate_dt(dt.valueType),
                    dt.valueContainsNull,
                )
            return dt

        new_fields = [annotate(f) for f in new_fields]
        config["delta.columnMapping.maxColumnId"] = str(next_id[0])
        meta["configuration"] = config
    merged = T.StructType(list(snapshot.schema.fields) + new_fields)
    meta["schemaString"] = json.dumps(merged.jsonValue())
    return {"metaData": meta}


class ConstraintViolationError(ValueError):
    """A write contained rows violating a CHECK constraint."""


def _enforce_constraints(df: DataFrame, snapshot) -> None:
    """Enforce the table's ``delta.constraints.<name>`` CHECK expressions
    on a frame about to land (delta-spark semantics: a row violates when
    the expression evaluates FALSE; NULL passes, per SQL CHECK). One
    combined pass regardless of constraint count."""
    from pyspark.sql import functions as F

    constraints = {
        k[len("delta.constraints."):]: v
        for k, v in (snapshot.configuration or {}).items()
        if k.startswith("delta.constraints.")
    }
    if not constraints:
        return
    # subset appends legally omit columns (_check_schema: missing reads
    # as null) — materialize the omitted ones as NULL so a constraint
    # referencing them resolves and passes per three-valued CHECK,
    # instead of dying on UNRESOLVED_COLUMN
    present = set(df.columns)
    for field in snapshot.schema.fields:
        if field.name not in present:
            df = df.withColumn(
                field.name, F.lit(None).cast(field.dataType)
            )
    violated = None
    for name, expr in constraints.items():
        cond = F.expr(expr)
        # FALSE violates; NULL satisfies (SQL CHECK three-valued logic)
        v = cond.isNotNull() & ~cond
        violated = v if violated is None else (violated | v)
    bad = df.filter(violated).limit(1).collect()
    if bad:
        detail = {
            name: expr for name, expr in sorted(constraints.items())
        }
        raise ConstraintViolationError(
            f"Write violates CHECK constraint(s) {detail}; offending "
            f"row example: {bad[0].asDict()}"
        )


def _identity_fields(snapshot) -> dict[str, dict]:
    """name → {start, step, high} for every GENERATED ALWAYS AS IDENTITY
    column (``delta.identity.*`` field metadata, the public layout).
    ``high`` is None before the first assignment."""
    out = {}
    for f in snapshot.schema.fields:
        meta = f.metadata or {}
        if "delta.identity.start" in meta:
            hw = meta.get("delta.identity.highWaterMark")
            out[f.name] = {
                "start": int(meta["delta.identity.start"]),
                "step": int(meta.get("delta.identity.step", 1)),
                "high": int(hw) if hw is not None else None,
            }
    return out


def _assign_identity(df: DataFrame, name: str, next_value: int, step: int):
    """Assign dense identity values ``next_value, next_value+step, …``
    distributed: pin the partitioning with an eager localCheckpoint
    (two jobs must observe the same layout), take per-partition counts
    (one tiny collect — |partitions| rows), and number rows inside each
    partition against its cumulative offset. No global sort, no
    single-partition window; the per-partition window shuffle is keyed
    on the partition id. Returns (df_with_column, new_high_water).

    delta-spark's own identity allocates per-task blocks (gaps
    allowed); dense blocks per partition are a strictly stronger
    layout."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = df.localCheckpoint(eager=True)
    counts = (
        df.select(F.spark_partition_id().alias("__pid"))
        .groupBy("__pid")
        .count()
        .collect()
    )
    offsets = []
    acc = 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((int(row["__pid"]), acc))
        acc += int(row["count"])
    if acc == 0:
        return df.withColumn(name, F.lit(None).cast("long")), None
    spark = df.sparkSession
    off_df = local_frame(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(
        F.monotonically_increasing_id()
    )
    out = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(
            name,
            (
                F.lit(next_value)
                + F.lit(step)
                * (F.col("__off") + F.col("__rn") - F.lit(1))
            ).cast("long"),
        )
        .drop("__pid", "__rn", "__off")
    )
    return out, next_value + step * (acc - 1)


def _identity_metadata_update(snapshot, meta_action, highs: dict[str, int]):
    """Fold new high-water marks into a metaData action (creating one
    from the snapshot's if the commit had none)."""
    import copy

    from pyspark.sql import types as T

    meta = (
        copy.deepcopy(meta_action["metaData"])
        if meta_action
        else copy.deepcopy(dict(snapshot.raw_metadata or {}))
    )
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    fields = []
    for f in schema.fields:
        if f.name in highs:
            fm = dict(f.metadata or {})
            fm["delta.identity.highWaterMark"] = int(highs[f.name])
            f = T.StructField(f.name, f.dataType, f.nullable, fm)
        fields.append(f)
    meta["schemaString"] = json.dumps(T.StructType(fields).jsonValue())
    return {"metaData": meta}


def _generation_exprs(snapshot) -> dict[str, tuple[str, object]]:
    """name → (generation SQL, declared type) for every generated
    column (``delta.generationExpression`` field metadata, the public
    Delta layout)."""
    out = {}
    for f in snapshot.schema.fields:
        expr = (f.metadata or {}).get("delta.generationExpression")
        if expr:
            out[f.name] = (expr, f.dataType)
    return out


def _apply_generated(df: DataFrame, snapshot) -> DataFrame:
    """Materialize missing generated columns from their expressions and
    validate explicitly-provided ones (null-safe equality — the same
    check delta-spark runs; a mismatch would silently desynchronize the
    column from its definition)."""
    from pyspark.sql import functions as F

    gens = _generation_exprs(snapshot)
    flags = {}
    provided = {}
    for name, (expr, dtype) in gens.items():
        generated = F.expr(expr).cast(dtype)
        if name not in df.columns:
            df = df.withColumn(name, generated)
        else:
            provided[name] = expr
            flags[name] = ~F.col(name).eqNullSafe(generated)
    if flags:
        # ONE validation job for all provided generated columns (the
        # combined-predicate shape _enforce_constraints uses), with
        # per-column flags carried so the error names the culprit(s)
        mismatched = None
        for m in flags.values():
            mismatched = m if mismatched is None else (mismatched | m)
        probe = df.filter(mismatched).select(
            "*",
            *[m.alias(f"__bad_{name}") for name, m in flags.items()],
        )
        bad = probe.limit(1).collect()
        if bad:
            row = bad[0].asDict()
            culprits = {
                name: provided[name]
                for name in flags
                if row.pop(f"__bad_{name}", False)
            }
            raise ConstraintViolationError(
                f"GENERATED ALWAYS AS column(s) {culprits} disagree "
                f"with their expression on a written row: {row}"
            )
    return df


def add_check_constraint(
    spark, uri: str, name: str, expression: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: record a CHECK expression in the
    table metadata (``delta.constraints.<name>``, the public Delta
    layout) after verifying every EXISTING row satisfies it — the same
    full-scan validation delta-spark performs (one boolean aggregate;
    the scan is the unavoidable cost of a sound constraint). Subsequent
    write_delta/merge_delta/update_delta calls enforce it on the
    incoming frame and refuse violating writes.

    The commit upgrades ``minWriterVersion`` to >= 3 (the protocol
    version that introduced CHECK-constraint enforcement) or, on a
    table-features protocol, adds the ``checkConstraints`` writer
    feature — so external writers that do not understand constraints
    correctly refuse to write rather than corrupt the invariant."""
    import re as _re

    from .delta_table import DeltalakeTable

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"constraint name must be an identifier: {name!r}")
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    _reject_column_mapping(snapshot, "add_check_constraint")
    key = f"delta.constraints.{name}"
    if key in (snapshot.configuration or {}):
        raise ValueError(f"constraint {name!r} already exists")

    from pyspark.sql import functions as F

    existing = DeltalakeTable(os.path.basename(uri), uri)(spark=spark)
    cond = F.expr(expression)
    bad = existing.filter(cond.isNotNull() & ~cond).limit(1).collect()
    if bad:
        raise ConstraintViolationError(
            f"Existing rows violate {expression!r}; example: "
            f"{bad[0].asDict()}"
        )

    meta = dict(snapshot.raw_metadata or {})
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    conf = dict(meta.get("configuration") or {})
    conf[key] = expression
    meta["configuration"] = conf

    actions: list[dict] = []
    proto = dict(snapshot.raw_protocol or {})
    writer_feats = proto.get("writerFeatures")
    if writer_feats is not None:
        feats = set(writer_feats)
        if "checkConstraints" not in feats:
            proto["writerFeatures"] = sorted(
                feats | {"checkConstraints"}
            )
            actions.append({"protocol": proto})
    elif int(proto.get("minWriterVersion", 2)) < 3:
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": int(
                        proto.get("minReaderVersion", 1)
                    ),
                    "minWriterVersion": 3,
                }
            }
        )
    actions.append({"metaData": meta})
    return _commit_atomically(
        uri, actions,
        snapshot=snapshot,
        operation="ADD CONSTRAINT",
        operation_params={"name": name, "expr": expression},
        strict=True,
    ).version


def drop_check_constraint(uri: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: remove the CHECK expression."""
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    key = f"delta.constraints.{name}"
    if key not in (snapshot.configuration or {}):
        raise ValueError(f"no constraint named {name!r}")
    meta = dict(snapshot.raw_metadata or {})
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    conf = dict(meta.get("configuration") or {})
    del conf[key]
    meta["configuration"] = conf
    return _commit_atomically(
        uri, [{"metaData": meta}],
        snapshot=snapshot,
        operation="DROP CONSTRAINT",
        operation_params={"name": name},
    ).version


def write_delta(
    df: DataFrame,
    uri: str,
    mode: str = "append",
    partition_by: Sequence[str] = (),
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
    schema_mode: str = "strict",
    generated_cols: Optional[dict] = None,
    identity_cols: Optional[dict] = None,
) -> int:
    """Write ``df`` to the Delta table at ``uri``; returns the committed
    version. ``mode``: 'append' or 'overwrite'. New tables are created with
    protocol v1 + metaData from the DataFrame schema.

    ``generated_cols`` ({name: SQL expression}, table CREATION only —
    delta's own rule): the columns are computed from the expression at
    creation, recorded as ``delta.generationExpression`` field metadata
    (writer protocol v4), and every subsequent write either computes
    them when omitted or must match the expression exactly.

    ``identity_cols`` ({name: {start, step}}, table CREATION only):
    GENERATED ALWAYS AS IDENTITY columns (writer protocol v6) — the
    writer assigns dense LONG values from the recorded high-water mark
    on every append (``delta.identity.*`` field metadata); explicit
    values are refused. Racing identity appends are safe: each append
    updates metaData, so the optimistic-concurrency check aborts the
    loser instead of double-allocating — re-run it. Assignment pins the
    batch with an eager localCheckpoint (one extra materialization of
    the APPEND batch, never the table).

    Checkpoints: every commit to a Delta table — this append, and
    equally a MERGE, DELETE, UPDATE, OPTIMIZE, RESTORE or constraint
    change — that lands on a multiple of :data:`CHECKPOINT_INTERVAL`
    (10, delta's own default cadence) writes a checkpoint. At 100 TB
    log replay without checkpoints is O(commits); with them it is
    O(files) + a handful of JSON tails.

    ``txn_app_id``/``txn_version``: idempotent-writer ledger (protocol
    SetTransaction). When set, the commit records
    ``txn {appId, version}`` and a write whose version is ≤ the app's
    last recorded version is SKIPPED (returns the current table version
    unchanged) — the exactly-once contract a streaming ``foreachBatch``
    sink needs for micro-batch replays after failure:

        write_delta(batch_df, uri, txn_app_id=query_id, txn_version=epoch)

    ``schema_mode``: 'strict' (default) rejects a DataFrame whose columns
    are not a type-compatible subset of the table schema; 'merge'
    additionally appends NEW columns to the table schema (delta's
    mergeSchema — type changes are never allowed, and existing files'
    missing values read as null).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if schema_mode not in ("strict", "merge"):
        raise ValueError(f"schema_mode must be strict|merge, got {schema_mode!r}")
    uri = uri.rstrip("/")
    exists = os.path.isdir(os.path.join(uri, "_delta_log"))
    snapshot = DeltaLog(uri).snapshot() if exists else None
    txn, landed = _idempotent_txn(snapshot, txn_app_id, txn_version)
    if landed:
        # replayed micro-batch: already landed — exactly-once skip
        return snapshot.version

    previous_files: list[str] = []
    partition_cols = list(partition_by)
    if exists:
        if partition_by and list(partition_by) != snapshot.partition_columns:
            raise ValueError(
                f"partition_by {list(partition_by)} != table partitioning "
                f"{snapshot.partition_columns}"
            )
        if generated_cols:
            raise ValueError(
                "generated_cols may only be set at table creation "
                "(delta's own GENERATED ALWAYS AS rule)"
            )
        if identity_cols:
            raise ValueError(
                "identity_cols may only be set at table creation "
                "(delta's own GENERATED ALWAYS AS IDENTITY rule)"
            )
        partition_cols = snapshot.partition_columns
        previous_files = [f.path for f in snapshot.files]
        df = _apply_generated(df, snapshot)
        identity_highs: dict[str, int] = {}
        idents = _identity_fields(snapshot)
        if idents:
            provided = sorted(set(idents) & set(df.columns))
            if provided:
                raise ValueError(
                    f"columns {provided} are GENERATED ALWAYS AS "
                    f"IDENTITY — values are assigned by the writer, "
                    f"not provided"
                )
            for name, spec in sorted(idents.items()):
                next_value = (
                    spec["start"]
                    if spec["high"] is None
                    else spec["high"] + spec["step"]
                )
                df, hw = _assign_identity(
                    df, name, next_value, spec["step"]
                )
                if hw is not None:
                    identity_highs[name] = hw
        metadata_update = _check_schema(df, snapshot, schema_mode)
        if identity_highs:
            metadata_update = _identity_metadata_update(
                snapshot, metadata_update, identity_highs
            )
        _enforce_constraints(df, snapshot)
    else:
        metadata_update = None
        if generated_cols and identity_cols and (
            set(generated_cols) & set(identity_cols)
        ):
            raise ValueError(
                "a column cannot be both generated and identity"
            )
        if generated_cols:
            from pyspark.sql import functions as F

            overlapping = set(generated_cols) & set(df.columns)
            if overlapping:
                raise ValueError(
                    f"generated columns already present in the frame: "
                    f"{sorted(overlapping)} (they are computed, not "
                    f"provided)"
                )
            for name, expr in generated_cols.items():
                df = df.withColumn(name, F.expr(expr))
        identity_highs = {}
        if identity_cols:
            overlapping = set(identity_cols) & set(df.columns)
            if overlapping:
                raise ValueError(
                    f"identity columns already present in the frame: "
                    f"{sorted(overlapping)} (they are assigned, not "
                    f"provided)"
                )
            for name, spec in sorted(identity_cols.items()):
                start = int((spec or {}).get("start", 1))
                step = int((spec or {}).get("step", 1))
                if step == 0:
                    raise ValueError("identity step must be nonzero")
                df, hw = _assign_identity(df, name, start, step)
                if hw is not None:
                    identity_highs[name] = hw

    # Stage data with Spark's distributed parquet writer, then move files
    # into the table and reference them from the commit. (Distributed
    # compute, driver-side metadata-only commit — the Delta model.)
    # data-file schema = written frame minus partition columns (those
    # live in the directory name); drives add.stats type mapping.
    # Staging mechanics (Hive-escape handling, protocol path encoding)
    # live in _stage_adds.
    from pyspark.sql import types as T

    if exists and snapshot.column_mapping_mode != "none":
        # mapped table: stage under PHYSICAL names (files, directory
        # names → partitionValues, stats keys all physical); subset
        # writes keep only the present columns in the stats schema.
        # A schema merge maps against the MERGED (freshly annotated)
        # schema so new columns land under their new col-<uuid> names.
        write_schema = (
            T.StructType.fromJson(
                json.loads(metadata_update["metaData"]["schemaString"])
            )
            if metadata_update
            else snapshot.schema
        )
        stage_df = _remap_to_physical(df, snapshot, schema=write_schema)
        stage_parts = _physical_partition_cols(snapshot)
        present = set(stage_df.columns)
        file_schema = T.StructType(
            [
                f
                for f in _physical_struct(
                    write_schema, snapshot,
                    exclude=snapshot.partition_columns,
                ).fields
                if f.name in present
            ]
        )
    else:
        stage_df, stage_parts = df, partition_cols
        file_schema = T.StructType(
            [
                f
                for f in df.schema.fields
                if f.name not in set(partition_cols)
            ]
        )
    adds = _stage_adds(
        df.sparkSession, stage_df, uri, stage_parts, file_schema,
        data_change=True,
    )

    actions: list[dict] = []
    if not exists:
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 1,
                    # generated columns are a writer-v4 protocol
                    # feature, identity columns writer-v6: an older
                    # writer unaware of them could append stale or
                    # colliding values
                    "minWriterVersion": (
                        6
                        if identity_cols
                        else 4 if generated_cols else 2
                    ),
                }
            }
        )
        create_schema = df.schema
        if generated_cols or identity_cols:

            def _field_meta(f):
                if generated_cols and f.name in generated_cols:
                    return {
                        "delta.generationExpression":
                            generated_cols[f.name]
                    }
                if identity_cols and f.name in identity_cols:
                    spec = identity_cols[f.name] or {}
                    m = {
                        "delta.identity.start": int(
                            spec.get("start", 1)
                        ),
                        "delta.identity.step": int(spec.get("step", 1)),
                        "delta.identity.allowExplicitInsert": False,
                    }
                    if f.name in identity_highs:
                        m["delta.identity.highWaterMark"] = int(
                            identity_highs[f.name]
                        )
                    return m
                return f.metadata

            create_schema = T.StructType(
                [
                    T.StructField(
                        f.name, f.dataType, f.nullable, _field_meta(f)
                    )
                    for f in df.schema.fields
                ]
            )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(create_schema.jsonValue()),
                    "partitionColumns": partition_cols,
                    "configuration": {},
                    "createdTime": 0,
                }
            }
        )
    if metadata_update is not None:
        actions.append(metadata_update)
    if mode == "overwrite":
        actions.extend(
            {
                "remove": {
                    "path": path,
                    "deletionTimestamp": 0,
                    "dataChange": True,
                }
            }
            for path in previous_files
        )
    actions.extend(adds)
    # if a racing replay of this batch landed first: the racer's version
    return _commit_atomically(
        uri, actions,
        snapshot=snapshot,
        txn=txn,
        staged=_staged(adds),
        operation="WRITE",
        operation_params={"mode": mode.capitalize()},
    ).version


def checkpoint_arrow_schema():
    """The classic-checkpoint parquet schema from the public Delta
    PROTOCOL.md ('Checkpoint Schema'): one nullable struct column per
    action type, ``partitionValues``/``configuration``/``options``/``tags``
    as ``map<string, string>`` (NOT a pyarrow-inferred struct — readers
    like delta-rs and delta-spark require the map physical type), plus the
    ``txn`` column for SetTransaction actions."""
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    dv_struct = pa.struct(
        [
            pa.field("storageType", pa.string()),
            pa.field("pathOrInlineDv", pa.string()),
            pa.field("offset", pa.int32()),
            pa.field("sizeInBytes", pa.int32()),
            pa.field("cardinality", pa.int64()),
        ]
    )
    return pa.schema(
        [
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                        pa.field("lastUpdated", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", str_map),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                        pa.field("tags", str_map),
                        # checkpoints must preserve DV descriptors or a
                        # log clean would resurrect soft-deleted rows
                        pa.field("deletionVector", dv_struct),
                    ]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("deletionTimestamp", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("extendedFileMetadata", pa.bool_()),
                        pa.field("partitionValues", str_map),
                        pa.field("size", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("name", pa.string()),
                        pa.field("description", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", str_map),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", str_map),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        # table-features protocols (reader v3 / writer v7)
                        # carry their feature lists; dropping them in a
                        # checkpoint would un-gate e.g. deletionVectors
                        # for readers replaying from it
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
        ]
    )


def write_checkpoint(uri: str, version: Optional[int] = None) -> str:
    """Materialize the snapshot at ``version`` (default: latest) as a
    single-part ``NNN.checkpoint.parquet`` plus the ``_last_checkpoint``
    pointer, per the public protocol's classic-checkpoint layout
    (:func:`checkpoint_arrow_schema` — map-typed ``partitionValues``,
    ``remove`` tombstones carried forward). Replays from the checkpoint
    are O(current files), not O(historical commits) — the thing that
    keeps a long-lived 100 TB table's planning time flat. protocol and
    metaData are re-emitted verbatim from the log (the metaData id names
    the table; synthesizing a new one would corrupt it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    uri = uri.rstrip("/")
    log_dir = os.path.join(uri, "_delta_log")
    snapshot = DeltaLog(uri).snapshot(version)
    if snapshot.raw_protocol is None or snapshot.raw_metadata is None:
        raise ValueError(f"No protocol/metaData in log at {uri}")

    def as_map(obj) -> dict:
        # raw_metadata replayed from a prior checkpoint carries maps as
        # pyarrow's list-of-(k, v)-tuples; normalize back to dict.
        return dict(obj) if obj is not None else {}

    meta = snapshot.raw_metadata
    fmt = as_map(meta.get("format"))
    metadata_row = {
        "id": meta.get("id"),
        "name": meta.get("name"),
        "description": meta.get("description"),
        "format": {
            "provider": fmt.get("provider", "parquet"),
            "options": as_map(fmt.get("options")),
        },
        "schemaString": meta.get("schemaString"),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": as_map(meta.get("configuration")),
        "createdTime": meta.get("createdTime"),
    }
    proto = snapshot.raw_protocol
    protocol_row = {
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        "readerFeatures": (
            sorted(proto["readerFeatures"])
            if proto.get("readerFeatures")
            else None
        ),
        "writerFeatures": (
            sorted(proto["writerFeatures"])
            if proto.get("writerFeatures")
            else None
        ),
    }

    rows: list[dict] = [
        {"protocol": protocol_row},
        {"metaData": metadata_row},
    ]
    def _dv_row(dv):
        if not dv:
            return None
        return {
            "storageType": dv.get("storageType"),
            "pathOrInlineDv": dv.get("pathOrInlineDv"),
            "offset": dv.get("offset"),
            "sizeInBytes": dv.get("sizeInBytes"),
            "cardinality": dv.get("cardinality"),
        }

    rows.extend(
        {
            "add": {
                "path": f.path,
                "partitionValues": dict(f.partition_values),
                "size": f.size,
                "modificationTime": 0,
                "dataChange": False,
                # carry the data-skipping index through the checkpoint —
                # dropping it would silently disable file pruning for
                # every table whose log has been cleaned past a commit
                "stats": f.stats,
                "deletionVector": _dv_row(f.deletion_vector),
            }
        }
        for f in snapshot.files
    )
    rows.extend(
        {
            "remove": {
                "path": t.path,
                "deletionTimestamp": t.deletion_timestamp,
                "dataChange": False,
                "extendedFileMetadata": t.partition_values is not None,
                "partitionValues": t.partition_values,
                "size": t.size,
            }
        }
        for t in snapshot.tombstones
    )
    rows.extend(
        {"txn": {"appId": app, "version": v, "lastUpdated": 0}}
        for app, v in sorted(snapshot.app_transactions.items())
    )
    path = os.path.join(
        log_dir, f"{snapshot.version:020d}.checkpoint.parquet"
    )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=checkpoint_arrow_schema()), path
    )
    with open(
        os.path.join(log_dir, "_last_checkpoint"), "w", encoding="utf-8"
    ) as handle:
        json.dump({"version": snapshot.version, "size": len(rows)}, handle)
    return path


def carry_transactions(
    uri: str, app_transactions: dict[str, int]
) -> Optional[int]:
    """Copy an idempotent-writer ledger into this table as one commit
    of SetTransaction actions. Needed when a maintenance operation
    RE-CREATES a table (an index generation rebuild): the fresh log
    starts with an empty ledger, so a streaming writer's crash-replayed
    epoch would no longer be detected and would land twice. Entries the
    table already holds at an equal-or-newer version are skipped; the
    commit is pure ledger (no data change). Returns the committed
    version, or None when there was nothing to carry."""
    if not app_transactions:
        return None
    uri = uri.rstrip("/")
    snap = DeltaLog(uri).snapshot()
    actions = [
        {"txn": {"appId": app, "version": int(v), "lastUpdated": 0}}
        for app, v in sorted(app_transactions.items())
        if snap.app_transactions.get(app) is None
        or snap.app_transactions[app] < v
    ]
    if not actions:
        return snap.version
    return _commit_atomically(
        uri, actions,
        snapshot=snap,
        operation="SET TRANSACTION",
        operation_params={},
    ).version


def compact(
    spark,
    uri: str,
    min_files_per_partition: int = 2,
    max_partitions: Optional[int] = None,
    where=None,
) -> dict[str, int]:
    """OPTIMIZE-style bin-packing: rewrite each partition's many small
    files into one file, committed atomically as remove(old)+add(new)
    with ``dataChange: false`` (readers see identical rows; streaming
    consumers know no new data arrived — the protocol's compaction
    marker).

    Why it exists: a micro-batch ``foreachBatch`` sink lands one file
    set per trigger; at 100 TB/day that is millions of small files in a
    week, and scan-task scheduling (plus the object store's per-request
    cost) comes to dominate query time. Compaction trades one bounded
    rewrite for every future scan's task count.

    Only partitions with ≥ ``min_files_per_partition`` files rewrite;
    ``max_partitions`` bounds one invocation's work (run incrementally).
    ``where`` (DNF filters on PARTITION columns, delta's
    ``OPTIMIZE ... WHERE``) scopes the pass to matching partitions —
    the operational shape for compacting only the partitions a
    micro-batch sink is actively writing (yesterday's date=…), instead
    of re-walking the whole table's file listing every run.
    Old files stay on disk for time travel until :func:`vacuum`.
    Returns {files_before, files_removed, files_added, version} —
    version is -1 when nothing needed compacting."""
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    mapped = snapshot.column_mapping_mode != "none"
    # mapped tables compact physical-in → physical-out: the plain
    # branch reads files under the physical schema and writes them
    # back verbatim; the DV branch's logical read is remapped back
    file_data_schema = (
        snapshot.physical_data_schema if mapped else snapshot.data_schema
    )

    candidates = snapshot.files
    if where is not None:
        from ..core.filters import normalize_filters, validate_filters

        dnf = normalize_filters(where)
        # unknown columns first (the eager contract error), THEN the
        # partition-only restriction for real data columns
        validate_filters(dnf, {f.name for f in snapshot.schema.fields})
        part_set = set(snapshot.partition_columns)
        non_part = {
            f.column for conj in dnf for f in conj
            if f.column not in part_set
        }
        if non_part:
            raise ValueError(
                f"compact(where=...) accepts partition columns only "
                f"(got {sorted(non_part)}): file-level scoping on data "
                f"columns would need a scan, which defeats the point"
            )
        from .delta_table import _partition_prune, partition_zone, typed_dnf

        typed = typed_dnf(spark, snapshot, dnf)
        tz = partition_zone(spark, snapshot)
        candidates = _partition_prune(snapshot, typed, tz)

    groups: dict[tuple, list] = {}
    for f in candidates:
        key = tuple(sorted((f.partition_values or {}).items()))
        groups.setdefault(key, []).append(f)
    # a partition qualifies by small-file count OR by carrying deletion
    # vectors: compacting a DV'd group materializes the soft deletes and
    # drops the DV files (delta's REORG ... APPLY (PURGE) semantics) —
    # at scale, accumulated DVs otherwise tax every read with the
    # broadcast anti-join forever
    todo = {
        k: fs for k, fs in groups.items()
        if len(fs) >= min_files_per_partition
        or any(f.deletion_vector for f in fs)
    }
    if max_partitions is not None:
        todo = dict(sorted(todo.items())[:max_partitions])
    if not todo:
        return {
            "files_before": len(snapshot.files),
            "files_removed": 0,
            "files_added": 0,
            "version": -1,
        }

    from dataclasses import replace as _replace

    from .delta_table import DeltalakeTable

    _table = DeltalakeTable(os.path.basename(uri), uri)
    actions: list[dict] = []
    for key, files in sorted(todo.items()):
        paths = [os.path.join(uri, unquote(f.path)) for f in files]
        part_values = dict(key)
        rel_dir = os.path.dirname(unquote(files[0].path))
        # one output file per partition: the rewrite is distributed
        # (Spark reads all inputs in parallel) but lands as a single
        # coalesced file, which is the point. Read under the TABLE's
        # data schema: after schema evolution the partition's files are
        # heterogeneous, and a bare read would adopt one file's schema —
        # silently dropping evolved columns from the rewrite.
        if any(f.deletion_vector for f in files):
            # DV-aware read: soft-deleted rows must NOT survive the
            # rewrite; the output materializes the deletions and the
            # group's DV files become vacuumable orphans
            merged = _table._read_from_log(
                spark, _replace(snapshot, files=list(files)), None
            ).select(*[f.name for f in snapshot.data_schema.fields])
            if mapped:
                merged = _remap_to_physical(merged, snapshot).select(
                    *[f.name for f in file_data_schema.fields]
                )
            merged = merged.coalesce(1)
        else:
            merged = (
                spark.read.schema(file_data_schema)
                .parquet(*paths)
                .coalesce(1)
            )
        staging = tempfile.mkdtemp(
            prefix="delta_compact_", dir=os.path.dirname(uri)
        )
        try:
            with _micros_timestamps(spark):
                merged.write.mode("overwrite").parquet(staging)
            new_files = [
                os.path.join(root, n)
                for root, _d, names in os.walk(staging)
                for n in names
                if n.endswith(".parquet")
            ]
            for src in new_files:
                fname = f"part-{uuid.uuid4().hex}.parquet"
                rel_path = (
                    os.path.join(rel_dir, fname) if rel_dir else fname
                )
                dst = os.path.join(uri, rel_path)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
                add_action = {
                    "path": quote(
                        rel_path.replace(os.sep, "/"), safe="/="
                    ),
                    "partitionValues": part_values,
                    "size": os.path.getsize(dst),
                    "modificationTime": 0,
                    "dataChange": False,
                }
                stats = collect_file_stats(dst, file_data_schema)
                if stats is not None:
                    add_action["stats"] = stats
                actions.append({"add": add_action})
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        actions.extend(
            {
                "remove": {
                    "path": f.path,
                    "deletionTimestamp": 0,
                    "dataChange": False,
                }
            }
            for f in files
        )

    version = _commit_atomically(
        uri, actions,
        snapshot=snapshot,
        operation="OPTIMIZE",
        operation_params={"auto": False},
    ).version
    n_removed = sum(len(fs) for fs in todo.values())
    return {
        "files_before": len(snapshot.files),
        "files_removed": n_removed,
        "files_added": len(actions) - n_removed,
        "version": version,
    }


def merge_delta(
    spark,
    uri: str,
    source: DataFrame,
    on: Sequence[str],
    when_matched: Optional[str] = "update",
    when_not_matched: Optional[str] = "insert",
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
    max_affected_files: Optional[int] = None,
) -> dict[str, int]:
    """Copy-on-write MERGE INTO: apply ``source`` to the table keyed by
    ``on``. ``when_matched``: 'update' (replace the whole row with the
    source row), 'delete', or None (leave matched rows). ``when_not_
    matched``: 'insert' or None. The default pair is UPSERT.

    Scale shape (the same one delta-spark's MERGE uses):
    1. find the AFFECTED files — those containing at least one matched
       key. One job collects the source's first ``MERGE_KEY_PRUNE_MAX
       + 1`` key rows as Arrow (a limit, no aggregation). At or under the
       bound that copy is all of them: the driver checks it for
       duplicates, the target scan opens only the files whose partition
       values or min/max stats can hold one of its keys, and it is the
       key side (a local relation) of the semi join that sends the
       affected file paths to the driver and of the anti join in step
       2, so the source is not read again for its keys. Past the bound
       the whole table is scanned, the key side is the source's
       distinct keys, and an update checks for duplicates with one more
       job;
    2. rewrite ONLY those files: unmatched rows pass through, matched
       rows are replaced/dropped, not-matched source rows append, cast
       to the table's types (a type Spark cannot up-cast raises before
       any job);
    3. commit remove(affected) + add(new) atomically, dataChange: true.
       A concurrent append conflicts if its stats can hold a collected
       key; past the bound, any concurrent append conflicts.

    On a key-clustered table (zorder_by / range-written) the affected
    set is a tiny fraction of the table — the rewrite cost tracks the
    UPDATE size, not the table size. Unmatched-file data never moves.

    Source rows with NULL in a key column never match (SQL join
    semantics); with 'insert' they are appended. Duplicate keys in
    ``source`` raise for 'update' (a target row would have two
    replacements — the same error delta-spark throws); 'delete' and
    pure-insert tolerate them.

    ``txn_app_id``/``txn_version``: idempotent-writer ledger, same
    contract as :func:`write_delta` — a merge whose version is <= the
    app's last recorded SetTransaction is skipped (exactly-once replay
    for incremental-maintenance consumers).

    Returns {version, files_rewritten, files_added}."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be update|delete|None, got {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched must be insert|None, got {when_not_matched!r}")
    on = list(on)
    if not on:
        raise ValueError("merge_delta requires at least one key column")
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    txn, landed = _idempotent_txn(snapshot, txn_app_id, txn_version)

    def unchanged(version: int = snapshot.version) -> dict[str, int]:
        return {"version": version, "files_rewritten": 0, "files_added": 0}

    if _identity_fields(snapshot):
        raise NotImplementedError(
            "merge_delta on a table with identity columns: the source "
            "frame would supply identity values (explicit insert, which "
            "the columns forbid); delete + append instead"
        )
    if landed:
        return unchanged()
    table_cols = [f.name for f in snapshot.schema.fields]
    if set(source.columns) != set(table_cols):
        raise ValueError(
            f"source columns {sorted(source.columns)} != table columns "
            f"{sorted(table_cols)} (merge replaces whole rows; align the "
            f"frame first)"
        )
    missing_keys = [k for k in on if k not in table_cols]
    if missing_keys:
        raise ValueError(f"merge keys not in table schema: {missing_keys}")
    source = source.select(*table_cols)
    if when_matched is None and when_not_matched is None:
        return unchanged()

    written = (
        _as_table_types(spark, snapshot, source)
        if when_matched == "update" or when_not_matched == "insert"
        else None  # a delete-only merge writes no source row
    )

    # One bounded collect of the source's keys, without aggregating.
    # Under the bound it answers the duplicate check, types the key
    # lists that prune the target scan and is the key side of both
    # joins below.
    key_frame = source.select(*on)
    keys = key_frame.limit(MERGE_KEY_PRUNE_MAX + 1).toArrow()
    bounded = keys.num_rows <= MERGE_KEY_PRUNE_MAX
    if when_matched == "update" and (
        _repeats(keys)
        if bounded
        else source.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__merge_key_rows"))
        .filter(F.col("__merge_key_rows") > 1)
        .limit(1)
        .collect()
    ):
        raise ValueError(
            "source has duplicate merge keys — a matched target row "
            "would receive multiple updates"
        )
    if bounded:
        key_dnf = _merge_key_dnf(snapshot, key_frame.schema, keys)
        src_keys = local_frame(spark, keys, key_frame.schema)
    else:
        key_dnf, src_keys = None, key_frame.distinct()

    from .delta_table import DeltalakeTable

    table = DeltalakeTable(os.path.basename(uri), uri)
    # Pruning is sound for the rewrite: a dropped file holds no source
    # key, so it has no affected row and adds nothing to tgt_keys below.
    target = table._read_from_log(spark, snapshot, key_dnf, keep_rel=True)

    cap = (
        max_affected_files
        if max_affected_files is not None
        else DEFAULT_MAX_AFFECTED_FILES
    )
    if target is not None and when_matched is not None:
        # files containing ≥1 matched key: the copy-on-write unit.
        # when_matched=None never rewrites — matched rows stay in place
        # and only the insert set lands as new files. limit(cap+1)
        # bounds the collect itself — the driver never pulls more than
        # cap+1 rows even when the true affected count is far larger.
        affected_rows = (
            target.join(src_keys, on, "left_semi")
            .select("__delta_rel")
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        _check_affected_cap(len(affected_rows), cap, "MERGE")
        affected_rel = [r[0] for r in affected_rows]
    else:
        affected_rel = []
    # __delta_rel is the scan's suffix key (partition dirs + filename,
    # percent-decoded); map it back to the EXACT add.path string for
    # the remove action (suffix-normalized so shallow-clone ABSOLUTE
    # add paths key identically)
    from .delta_table import _scan_key

    mseg = len(snapshot.partition_columns) + 1
    by_disk = {_scan_key(f.path, mseg): f for f in snapshot.files}
    affected = [by_disk[rel] for rel in affected_rel]

    pieces = []
    if affected and target is not None:
        aff_rows = target.filter(
            F.col("__delta_rel").isin(affected_rel)
        ).drop("__delta_rel")
        # rows whose key is NOT in the source pass through unchanged
        pieces.append(aff_rows.join(src_keys, on, "left_anti"))
    upsert = when_matched == "update" and when_not_matched == "insert"
    if upsert or (target is None and when_not_matched == "insert"):
        # An upsert writes its matched source rows (semi join with the
        # target's keys) and its unmatched ones (anti join, NULL keys
        # included): together, the whole source.
        pieces.append(written(source))
    elif target is not None:
        tgt_keys = target.select(*on).distinct()
        if when_matched == "update" and affected:
            pieces.append(written(source.join(tgt_keys, on, "left_semi")))
        if when_not_matched == "insert":
            pieces.append(written(source.join(tgt_keys, on, "left_anti")))
        # 'delete': matched rows simply don't reappear

    if not pieces and not affected:
        return unchanged()

    new_data = pieces[0]
    for p in pieces[1:]:
        new_data = new_data.unionByName(p)

    new_data = _apply_generated(new_data, snapshot)
    _enforce_constraints(new_data, snapshot)
    stage_df, part_cols, file_schema = _stage_frame_for(
        snapshot, new_data
    )
    adds = _stage_adds(
        spark, stage_df, uri, part_cols, file_schema,
        data_change=True,
    )
    removes = [
        {
            "remove": {
                "path": f.path,
                "deletionTimestamp": 0,
                "dataChange": True,
            }
        }
        for f in affected
    ]
    if not adds and not removes:
        # nothing matched, nothing to insert: no empty commit
        return unchanged()
    commit = _commit_atomically(
        uri, adds + removes,
        snapshot=snapshot,
        txn=txn,
        staged=_staged(adds),
        operation="MERGE",
        operation_params={"predicate": on},
        # a concurrent dataChange append may hold a matched key (the
        # key pruning saw only this snapshot's files): past the bound
        # any append conflicts, under it one whose stats can hold a key
        read_predicate=key_dnf,
        read_whole_table=key_dnf is None,
    )
    if commit.superseded:
        return unchanged(commit.version)
    return {
        "version": commit.version,
        "files_rewritten": len(affected),
        "files_added": len(adds),
    }


def _as_table_types(spark, snapshot, source: DataFrame):
    """A function casting a frame of ``source``'s columns to the table's
    types, as MERGE writes them. Raises ``ValueError`` (before any job)
    for a column whose type Spark cannot up-cast to the table's
    (``Cast.canUpCast``): a narrowing cast would change values, and a
    value of another type written as is leaves a file or a partition
    value the table's readers cannot read."""
    from pyspark.sql import functions as F

    jvm = spark._jvm
    parse = jvm.org.apache.spark.sql.types.DataType.fromJson
    casts = {}
    for field in snapshot.schema.fields:
        have = source.schema[field.name].dataType
        if _strip_meta(have) == _strip_meta(field.dataType):
            continue
        if not jvm.org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
            parse(have.json()), parse(field.dataType.json())
        ):
            raise ValueError(
                f"Column {field.name!r} type mismatch: table has "
                f"{field.dataType.simpleString()}, source has "
                f"{have.simpleString()} (MERGE writes source rows only "
                f"in types Spark up-casts to the table's)"
            )
        casts[field.name] = F.col(field.name).cast(field.dataType)
    return (lambda df: df.withColumns(casts)) if casts else (lambda df: df)


# a NaN key's group value: NaN groups with NaN, as Spark groups floats
_NAN = object()


def _group_value(value):
    """``value`` (Arrow's Python form) as a hashable value equal to
    another exactly where Spark's ``groupBy`` puts them in one group:
    NaN with NaN, -0.0 with 0.0 (equal in Python already), NULL with
    NULL, arrays and structs by value."""
    if isinstance(value, float):
        return _NAN if value != value else value
    if isinstance(value, dict):  # a struct
        value = list(value.values())
    if isinstance(value, (list, tuple)):  # also a map's (key, value) pairs
        return tuple(map(_group_value, value))
    return value


def _repeats(keys) -> bool:
    """Whether two rows of the Arrow table ``keys`` form one group of
    Spark's ``groupBy`` over all its columns."""
    seen = set()
    columns = [[_group_value(v) for v in c.to_pylist()] for c in keys.columns]
    for row in zip(*columns):
        if row in seen:
            return True
        seen.add(row)
    return False


def _merge_key_dnf(snapshot, key_schema, keys):
    """``[[Filter(k, "in", keys of k) for k in on]]`` from the collected
    Arrow table ``keys`` (of ``key_schema``, the source's key columns),
    typed as the join compares them (``typed_literal``), or None when no
    key column can prune. NULL keys are left out (they never match). So
    is a key column with a key of no typed value, or where the test
    could disagree with the join: the table type is not atomic or is
    ``timestamp`` (the keys are typed without the session zone, which a
    ``date`` or ``timestamp_ntz`` key needs to meet such a column), or a
    key is NaN (the join matches NaN to NaN; no stats bound holds NaN).
    Decimal keys prune by partition values only: stats pruning reads no
    decimal bound (see delta_stats)."""
    from pyspark.sql import types as T

    from ..core.filters import Filter
    from .delta_log import UNPRUNABLE, typed_literal

    table_types = {f.name: f.dataType for f in snapshot.schema.fields}
    conj = []
    for field, column in zip(key_schema.fields, keys.columns):
        dtype = table_types[field.name]
        if not isinstance(dtype, T.AtomicType) or isinstance(
            dtype, T.TimestampType
        ):
            continue
        values = {v for v in column.to_pylist() if v is not None}
        if any(v != v for v in values):
            continue
        # no key meets a timestamp column, so none needs the session zone
        typed = [typed_literal(v, dtype, None) for v in values]
        if UNPRUNABLE not in typed:
            conj.append(Filter(field.name, "in", typed))
    return [conj] if conj else None


def _stage_adds(
    spark,
    df: DataFrame,
    uri: str,
    partition_cols: Sequence[str],
    file_schema,
    data_change: bool,
) -> list[dict]:
    """Stage ``df`` with Spark's distributed parquet writer, move the
    files into the table, and return their ``add`` actions (per-file
    stats aggregated from the footers). The shared tail of every
    rewrite path (append, merge, zorder, update)."""
    staging = tempfile.mkdtemp(
        prefix="delta_stage_", dir=os.path.dirname(uri)
    )
    actions: list[dict] = []
    try:
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        with _micros_timestamps(spark):
            writer.parquet(staging)
        for root, _dirs, files in os.walk(staging):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                rel_dir = os.path.relpath(root, staging)
                rel_dir = "" if rel_dir == "." else rel_dir
                fname = f"part-{uuid.uuid4().hex}.parquet"
                rel_path = (
                    os.path.join(rel_dir, fname) if rel_dir else fname
                )
                dst = os.path.join(uri, rel_path)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
                partition_values = {}
                for seg in rel_dir.split(os.sep):
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        # Hive-escaped dir names → logical values (see
                        # write_delta for the full rationale)
                        partition_values[k] = (
                            None
                            if v == "__HIVE_DEFAULT_PARTITION__"
                            else unquote(v)
                        )
                stats = collect_file_stats(dst, file_schema)
                if stats is not None and json.loads(stats).get(
                    "numRecords"
                ) == 0:
                    # Spark can stage an empty part file for an empty
                    # input partition — committing it would pollute the
                    # log with zero-row adds forever
                    os.remove(dst)
                    continue
                add_action = {
                    "path": quote(
                        rel_path.replace(os.sep, "/"), safe="/="
                    ),
                    "partitionValues": partition_values,
                    "size": os.path.getsize(dst),
                    "modificationTime": 0,
                    "dataChange": data_change,
                }
                if stats is not None:
                    add_action["stats"] = stats
                actions.append({"add": add_action})
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return actions


def _dv_feature_actions(snapshot) -> list[dict]:
    """protocol + metaData actions upgrading the table to write deletion
    vectors (reader 3 / writer 7 table features, legacy writer-v2
    features carried, ``delta.enableDeletionVectors`` stamped) — or []
    when the table already has the feature."""
    proto = snapshot.raw_protocol or {}
    reader_feats = set(proto.get("readerFeatures") or [])
    if "deletionVectors" in reader_feats:
        return []
    if not reader_feats and int(proto.get("minReaderVersion", 1)) >= 2:
        # legacy reader v2 implies columnMapping; when minReaderVersion
        # jumps to 3 every ACTIVE reader feature must be listed or a
        # spec-compliant external reader sees a protocol/metadata
        # mismatch (or reads raw physical column names)
        reader_feats |= {"columnMapping"}
    writer_feats = set(proto.get("writerFeatures") or [])
    if not writer_feats:
        # upgrading a legacy writer version to v7 must carry EVERY
        # feature that version implied (protocol 'Table Features') —
        # dropping e.g. checkConstraints from a v3 table would un-gate
        # external writers from an invariant the data still declares
        implied = {
            2: {"appendOnly", "invariants"},
            3: {"checkConstraints"},
            4: {"changeDataFeed", "generatedColumns"},
            5: {"columnMapping"},
            6: {"identityColumns"},
        }
        legacy = int(proto.get("minWriterVersion", 2))
        for v, feats in implied.items():
            if legacy >= v:
                writer_feats |= feats
    meta = dict(snapshot.raw_metadata or {})
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    conf = dict(meta.get("configuration") or {})
    conf["delta.enableDeletionVectors"] = "true"
    meta["configuration"] = conf
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(
                    reader_feats | {"deletionVectors"}
                ),
                "writerFeatures": sorted(
                    writer_feats | {"deletionVectors"}
                ),
            }
        },
        {"metaData": meta},
    ]


def _dv_soft_delete_actions(
    spark,
    uri: str,
    snapshot,
    matched_df,
    rewrite_threshold: Optional[float] = None,
    max_affected_files: Optional[int] = None,
) -> tuple[list[dict], dict[str, int], list[str]]:
    """remove+add(DV) actions soft-deleting the rows of ``matched_df``
    (a DataFrame carrying ``__delta_rel`` / ``__delta_pos``).

    Scale shape: deleted-row positions NEVER materialize on the driver.
    The matched frame shuffles once keyed on ``__delta_rel`` (a path
    string), and each affected file's task merges its existing DV,
    serializes the protocol roaring blob, and writes the new DV file
    EXECUTOR-side — the same shape as delta-spark's
    DeletionVectorStore, whose tasks write DV files and ship only
    descriptors back. The driver collects ONE descriptor row per
    affected file (bounded by file count, never by deleted-row count),
    so a GDPR-style predicate delete of billions of rows holds.

    ``rewrite_threshold`` (0 < t <= 1): a file whose merged deleted
    fraction reaches the threshold is flagged for copy-on-write instead
    of carrying a near-full DV; its relative path lands in the returned
    ``rewrite_rels`` and the caller rewrites its live rows as fresh
    files. A file whose EVERY physical row is deleted is always dropped
    outright regardless of the threshold.

    Returns (actions, {rows_deleted, files_rewritten, files_removed},
    rewrite_rels); empty actions mean nothing matched."""
    import json as _json

    import pandas as pd
    from pyspark.sql import types as T

    from .delta_table import _scan_key

    nseg = len(snapshot.partition_columns) + 1
    file_meta: dict[str, tuple[Optional[dict], Optional[int], str]] = {}
    for add in snapshot.files:
        rows = None
        if add.stats:
            try:
                rows = _json.loads(add.stats).get("numRecords")
            except (ValueError, TypeError):
                rows = None
        # absolute data path rides along: add.path may itself be
        # absolute (shallow clone), where join(uri, suffix) would not
        # resolve the file
        file_meta[_scan_key(add.path, nseg)] = (
            add.deletion_vector,
            rows,
            os.path.join(uri, unquote(add.path)),
        )
    b_meta = spark.sparkContext.broadcast(
        (uri, file_meta, rewrite_threshold)
    )

    out_schema = T.StructType(
        [
            T.StructField("rel", T.StringType(), False),
            T.StructField("outcome", T.StringType(), False),
            T.StructField("new_deleted", T.LongType(), False),
            T.StructField("dv_json", T.StringType(), True),
        ]
    )

    def _emit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import json as _ejson

        import pyarrow.parquet as _pq

        from datarepo_spark.tables.delta_dv import (
            read_deletion_vector,
            write_dv_file,
        )

        table_uri, meta, threshold = b_meta.value
        rel = pdf["__delta_rel"].iloc[0]
        descriptor, rows, abs_path = meta[rel]
        new_positions = {int(p) for p in pdf["__delta_pos"]}
        existing = (
            set(read_deletion_vector(table_uri, descriptor))
            if descriptor
            else set()
        )
        merged = sorted(existing | new_positions)
        n_new = len(merged) - len(existing)
        if rows is None:
            rows = _pq.read_metadata(abs_path).num_rows
        if len(merged) >= int(rows):
            outcome, dv_json = "drop", None
        elif threshold is not None and len(merged) >= threshold * int(
            rows
        ):
            outcome, dv_json = "rewrite", None
        else:
            desc, _ = write_dv_file(table_uri, merged)
            outcome, dv_json = "dv", _ejson.dumps(desc)
        return pd.DataFrame(
            [
                {
                    "rel": rel,
                    "outcome": outcome,
                    "new_deleted": n_new,
                    "dv_json": dv_json,
                }
            ]
        )

    cap = (
        max_affected_files
        if max_affected_files is not None
        else DEFAULT_MAX_AFFECTED_FILES
    )
    per_file = (
        matched_df.select("__delta_rel", "__delta_pos")
        .groupBy("__delta_rel")
        .applyInPandas(_emit, schema=out_schema)
        .limit(cap + 1)
        .collect()
    )
    b_meta.unpersist()
    _check_affected_cap(len(per_file), cap, "DELETE/UPDATE")

    by_disk = {_scan_key(f.path, nseg): f for f in snapshot.files}
    actions: list[dict] = []
    counters = {"rows_deleted": 0, "files_rewritten": 0, "files_removed": 0}
    rewrite_rels: list[str] = []
    for row in sorted(per_file, key=lambda r: r["rel"]):
        add = by_disk[row["rel"]]
        counters["rows_deleted"] += int(row["new_deleted"])
        remove_action = {
            "remove": {
                "path": add.path,
                "deletionTimestamp": 0,
                "dataChange": True,
            }
        }
        if row["outcome"] == "drop":
            # every physical row deleted: drop the file entirely
            actions.append(remove_action)
            counters["files_removed"] += 1
        elif row["outcome"] == "rewrite":
            # past the copy-on-write threshold: the caller re-stages the
            # file's live rows; the old file is just removed
            actions.append(remove_action)
            counters["files_rewritten"] += 1
            rewrite_rels.append(row["rel"])
        else:
            add_action = {
                "path": add.path,
                "partitionValues": dict(add.partition_values),
                "size": add.size,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": _json.loads(row["dv_json"]),
            }
            if add.stats is not None:
                add_action["stats"] = add.stats
            actions.append(remove_action)
            actions.append({"add": add_action})
            counters["files_rewritten"] += 1
    return actions, counters, rewrite_rels


def delete_delta(
    spark,
    uri: str,
    filters,
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
    rewrite_threshold: Optional[float] = None,
    max_affected_files: Optional[int] = None,
) -> dict[str, int]:
    """DELETE FROM the Delta table at ``uri`` via deletion vectors: rows
    matching ``filters`` (the engine's DNF Filter algebra) are soft-
    deleted by writing protocol-format roaring bitmap DV files — no data
    file is rewritten. This is how delta-spark/delta-rs make DELETE cheap
    at scale: the write cost tracks the DELETED-row count, not the size
    of the files that contain them.

    Scale shape:
    1. plan the read with the SAME pruning stack as any scan — partition
       elision + add.stats envelopes — so only files that CAN contain
       matches are opened;
    2. evaluate the predicate distributed; matched (file, row_index)
       pairs shuffle ONCE keyed on file and each file's task merges +
       serializes + writes its DV blob executor-side — the driver sees
       only per-file descriptors, so a billion-row GDPR-style delete
       never materializes positions on the driver;
    3. commit remove(old add) + add(same path, new DV) atomically. A
       file whose every physical row is now deleted is dropped outright
       (remove, no re-add) — no tombstone-only files accumulate; a file
       whose deleted fraction reaches ``rewrite_threshold`` is
       copy-on-write rewritten (live rows re-staged as fresh files)
       instead of carrying a near-full DV.

    First DV write upgrades the protocol to table features
    (minReaderVersion 3 / minWriterVersion 7 with ``deletionVectors`` in
    both feature lists, legacy writer-v2 features carried into
    writerFeatures) and stamps ``delta.enableDeletionVectors`` — the
    same upgrade delta-spark performs, so external readers correctly
    gate on the feature.

    Returns {version, rows_deleted, files_rewritten, files_removed};
    ``version`` is unchanged when nothing matches."""
    from pyspark.sql import functions as F

    from ..core.compile import filters_to_column
    from ..core.filters import normalize_filters, validate_filters
    from .delta_table import DeltalakeTable, typed_dnf

    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    txn, landed = _idempotent_txn(snapshot, txn_app_id, txn_version)

    def unchanged(version: int = snapshot.version) -> dict[str, int]:
        return {
            "version": version,
            "rows_deleted": 0,
            "files_rewritten": 0,
            "files_removed": 0,
            "files_added": 0,
        }

    # Column-mapped tables are SUPPORTED here, unlike the staging write
    # paths: a DV delete writes no data files — the re-added add action
    # copies partitionValues/stats verbatim (already physical-keyed) and
    # the DV blob itself has no column names, so nothing logical ever
    # lands in the mapped layout.
    if landed:
        return unchanged()
    dnf = normalize_filters(filters)
    if not dnf:
        raise ValueError(
            "delete_delta requires a predicate; to clear a table use "
            "write_delta(empty_df, uri, mode='overwrite')"
        )
    validate_filters(dnf, {f.name for f in snapshot.schema.fields})

    table = DeltalakeTable(os.path.basename(uri), uri)
    typed = typed_dnf(spark, snapshot, dnf)
    df = table._read_from_log(
        spark, snapshot, typed, keep_rel=True, keep_pos=True
    )
    if df is None:
        return unchanged()
    predicate = filters_to_column(dnf)
    matched_df = df.filter(predicate)
    dv_actions, counters, rewrite_rels = _dv_soft_delete_actions(
        spark, uri, snapshot, matched_df,
        rewrite_threshold=rewrite_threshold,
        max_affected_files=max_affected_files,
    )
    if not dv_actions:
        return unchanged()

    add_actions: list[dict] = []
    if rewrite_rels:
        # copy-on-write: re-stage each flagged file's LIVE rows (its
        # remaining rows after the predicate; predicate-NULL rows are
        # live) — df already excludes rows in pre-existing DVs. On a
        # mapped table the read frame is logical; _stage_frame_for
        # remaps it back to the physical layout.
        live = df.filter(
            F.col("__delta_rel").isin(rewrite_rels)
            & ~F.coalesce(predicate, F.lit(False))
        ).drop("__delta_rel", "__delta_pos")
        stage_df, stage_parts, file_schema = _stage_frame_for(
            snapshot, live
        )
        add_actions = _stage_adds(
            spark,
            stage_df,
            uri,
            stage_parts,
            file_schema,
            data_change=True,
        )

    commit = _commit_atomically(
        uri, _dv_feature_actions(snapshot) + dv_actions + add_actions,
        snapshot=snapshot,
        txn=txn,
        staged=_staged(add_actions, dv_actions),
        operation="DELETE",
        operation_params={"predicate": [str(f) for c in dnf for f in c]},
        read_predicate=typed,
    )
    if commit.superseded:
        return unchanged(commit.version)
    return {
        "version": commit.version,
        **counters,
        "files_added": len(add_actions),
    }


def update_delta(
    spark,
    uri: str,
    filters,
    assignments: dict,
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
    rewrite_threshold: Optional[float] = None,
    max_affected_files: Optional[int] = None,
) -> dict[str, int]:
    """UPDATE ... SET on the Delta table at ``uri``: rows matching
    ``filters`` get ``assignments`` applied ({column: Column | SQL
    string}). Implemented the way delta-spark does with DVs enabled —
    the cheapest correct shape at scale:

    1. the predicate plans through partition + stats pruning, so only
       candidate files are scanned;
    2. matched rows are soft-deleted in place via merged deletion
       vectors, serialized and written EXECUTOR-side (one shuffle keyed
       on file; the driver sees only per-file descriptors, never row
       positions);
    3. the updated versions of those rows are appended as new files
       (distributed staging write, per-file stats collected);
    4. one atomic commit carries both — readers flip from old rows to
       new rows at a single version boundary.

    Cost tracks the UPDATE size: a 1000-row update of a 100 TB table
    writes one small parquet file and a few DV kilobytes. Assigned
    values are cast to the column's declared type (delta's implicit
    cast); assigning a partition column moves rows to their new
    partition directory automatically (they are re-appended, not
    rewritten in place). A file whose deleted fraction reaches
    ``rewrite_threshold`` is copy-on-write rewritten (live rows
    re-staged) instead of carrying a near-full DV.

    ``txn_app_id``/``txn_version`` give the same SetTransaction
    idempotence ledger as write_delta/merge_delta/delete_delta: a
    crash-replay of an already-landed version is a no-op, so
    non-idempotent assignments (``price * 2``) never double-apply.

    Returns {version, rows_updated, files_rewritten, files_removed,
    files_added}; ``version`` unchanged when nothing matches."""
    from pyspark.sql import Column as SparkColumn
    from pyspark.sql import functions as F

    from ..core.compile import filters_to_column
    from ..core.filters import normalize_filters, validate_filters
    from .delta_table import DeltalakeTable, typed_dnf

    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    txn, landed = _idempotent_txn(snapshot, txn_app_id, txn_version)

    def unchanged(version: int = snapshot.version) -> dict[str, int]:
        return {
            "version": version,
            "rows_updated": 0,
            "files_rewritten": 0,
            "files_removed": 0,
            "files_added": 0,
        }

    if landed:
        return unchanged()
    if not assignments:
        raise ValueError("update_delta requires at least one assignment")
    field_types = {f.name: f.dataType for f in snapshot.schema.fields}
    unknown = [c for c in assignments if c not in field_types]
    if unknown:
        raise ValueError(f"assigned columns not in table schema: {unknown}")
    gen_exprs = _generation_exprs(snapshot)
    gen_assigned = sorted(set(assignments) & set(gen_exprs))
    if gen_assigned:
        raise ValueError(
            f"columns {gen_assigned} are GENERATED ALWAYS AS — they are "
            f"recomputed from their expressions, not assigned"
        )
    ident_assigned = sorted(set(assignments) & set(_identity_fields(snapshot)))
    if ident_assigned:
        raise ValueError(
            f"columns {ident_assigned} are GENERATED ALWAYS AS IDENTITY "
            f"— their values are writer-assigned and immutable"
        )
    dnf = normalize_filters(filters)
    if not dnf:
        raise ValueError(
            "update_delta requires a predicate (an unconditional UPDATE "
            "of a 100 TB table should be an explicit overwrite)"
        )
    validate_filters(dnf, {f.name for f in snapshot.schema.fields})

    table = DeltalakeTable(os.path.basename(uri), uri)
    typed = typed_dnf(spark, snapshot, dnf)
    df = table._read_from_log(
        spark, snapshot, typed, keep_rel=True, keep_pos=True
    )
    if df is None:
        return unchanged()
    predicate = filters_to_column(dnf)
    matched_df = df.filter(predicate)
    dv_actions, counters, rewrite_rels = _dv_soft_delete_actions(
        spark, uri, snapshot, matched_df,
        rewrite_threshold=rewrite_threshold,
        max_affected_files=max_affected_files,
    )
    if not dv_actions:
        return unchanged()

    def assigned(col: str):
        v = assignments[col]
        expr = v if isinstance(v, SparkColumn) else F.expr(str(v))
        return expr.cast(field_types[col]).alias(col)

    updated = matched_df.select(
        *[
            assigned(f.name) if f.name in assignments else F.col(f.name)
            for f in snapshot.schema.fields
        ]
    )
    for name, (expr, dtype) in gen_exprs.items():
        # recompute: the assignment may have changed the expression's
        # source columns, and a stale generated value is a silent
        # desynchronization
        updated = updated.withColumn(name, F.expr(expr).cast(dtype))
    _enforce_constraints(updated, snapshot)
    if rewrite_rels:
        # copy-on-write flagged files: their live (unmatched) rows ride
        # the same staging write as the updated rows
        live = df.filter(
            F.col("__delta_rel").isin(rewrite_rels)
            & ~F.coalesce(predicate, F.lit(False))
        ).drop("__delta_rel", "__delta_pos")
        updated = updated.unionByName(live)
    stage_df, stage_parts, file_schema = _stage_frame_for(
        snapshot, updated
    )
    add_actions = _stage_adds(
        spark,
        stage_df,
        uri,
        stage_parts,
        file_schema,
        data_change=True,
    )

    commit = _commit_atomically(
        uri, _dv_feature_actions(snapshot) + dv_actions + add_actions,
        snapshot=snapshot,
        txn=txn,
        staged=_staged(add_actions, dv_actions),
        operation="UPDATE",
        operation_params={
            "predicate": [str(f) for c in dnf for f in c],
            "columns": sorted(assignments),
        },
        read_predicate=typed,
    )
    if commit.superseded:
        return unchanged(commit.version)
    return {
        "version": commit.version,
        "rows_updated": counters["rows_deleted"],
        "files_rewritten": counters["files_rewritten"],
        "files_removed": counters["files_removed"],
        "files_added": len(add_actions),
    }


def zorder_by(
    spark,
    uri: str,
    columns: Sequence[str],
    target_files: Optional[int] = None,
) -> dict[str, int]:
    """OPTIMIZE ZORDER BY: rewrite the table's data files clustered along
    the Morton (Z-order) curve over ``columns``, committed as
    remove(all old) + add(new) with ``dataChange: false`` (identical
    rows, new layout).

    Why: add.stats file skipping (delta_stats.py) prunes on a column
    only when the file layout SEPARATES that column's values. A sort on
    one column gives perfect envelopes for it and useless ones for every
    other; interleaving the bits of k rank-normalized columns gives each
    of the k dimensions ~file_count^(1/k) selectivity — the standard
    multi-dimensional clustering trade (Morton 1966; delta-spark's
    OPTIMIZE ZORDER BY makes the same one).

    Mechanics (all JVM-side, one pass):
    - per column, map values onto a 16-bit grid: numeric/date/timestamp
      scale by the table's (min, max) — one bounded agg job; strings
      rank by the first 8 big-endian bytes (prefix order = lexicographic
      order for the prefix, which is what envelope pruning sees);
    - z = interleave the 16 bucket bits of up to 4 columns (shift/or
      fold, whole-stage codegen — no UDF);
    - repartitionByRange(target_files, z) + sortWithinPartitions(z):
      one range exchange of the full table, the unavoidable cost of any
      global re-clustering;
    - stage + move + commit like write_delta, per-file stats recomputed
      from the new footers.

    Partitioned tables keep their partitioning; clustering applies
    within each partition directory. ``target_files`` defaults to the
    current active-file count. NULLs bucket to 0 (sort first).
    Returns {files_removed, files_added, version}."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    columns = list(columns)
    if not 1 <= len(columns) <= 4:
        raise ValueError("zorder_by takes 1-4 columns")
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    part_cols = snapshot.partition_columns
    bad = [c for c in columns if c in part_cols]
    if bad:
        raise ValueError(
            f"zorder columns {bad} are partition columns — partition "
            f"pruning already separates them; cluster within partitions "
            f"on data columns instead"
        )
    dtypes = {f.name: f.dataType for f in snapshot.schema.fields}
    missing = [c for c in columns if c not in dtypes]
    if missing:
        raise ValueError(f"zorder columns not in table schema: {missing}")

    from .delta_table import DeltalakeTable

    df = DeltalakeTable(os.path.basename(uri), uri)(spark=spark)

    BITS = 16
    GRID = (1 << BITS) - 1

    def numeric_proxy(col: str):
        dt = dtypes[col]
        c = F.col(col)
        if isinstance(dt, (T.DateType,)):
            return F.datediff(c, F.lit("1970-01-01")).cast("double")
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_timestamp(c).cast("double")
        if isinstance(dt, T.StringType):
            # first-4-bytes big-endian rank: prefix order IS
            # lexicographic order on the prefix — exactly the resolution
            # the min/max envelope sees. 32 bits is exact in a double;
            # short strings pad low with 0x00 (sorts first, like NULL).
            h = F.rpad(
                F.hex(F.substring(c.cast("binary"), 1, 4)), 8, "0"
            )
            return F.conv(h, 16, 10).cast("double")
        if isinstance(dt, T.BooleanType):
            return c.cast("int").cast("double")
        return c.cast("double")

    # one bounded agg job for the scaling envelope
    proxies = {c: numeric_proxy(c) for c in columns}
    bounds_row = df.agg(
        *[F.min(p).alias(f"mn_{i}") for i, p in enumerate(proxies.values())],
        *[F.max(p).alias(f"mx_{i}") for i, p in enumerate(proxies.values())],
    ).collect()[0]

    z = F.lit(0).cast("long")
    for j, col in enumerate(columns):
        mn = bounds_row[f"mn_{j}"]
        mx = bounds_row[f"mx_{j}"]
        if mn is None or mx is None or mx <= mn:
            bucket = F.lit(0).cast("long")
        else:
            scaled = (proxies[col] - F.lit(float(mn))) / F.lit(
                float(mx) - float(mn)
            )
            bucket = F.least(
                F.lit(GRID).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(scaled * GRID).cast("long"),
                ),
            )
        bucket = F.coalesce(bucket, F.lit(0).cast("long"))
        for i in range(BITS):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(bit, i * len(columns) + j)
            )

    n_out = target_files or max(1, len(snapshot.files))
    # range keys lead with the partition columns so one output task never
    # straddles partition directories (the partitionBy writer would split
    # it into nfiles × npartitions small files otherwise)
    range_keys = [F.col(c) for c in part_cols] + [F.col("__z")]
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n_out, *range_keys)
        .sortWithinPartitions("__z")
        .drop("__z")
    )

    stage_df, stage_parts, file_schema = _stage_frame_for(
        snapshot, clustered
    )
    actions: list[dict] = _stage_adds(
        spark, stage_df, uri, stage_parts, file_schema,
        data_change=False,
    )

    n_added = len(actions)
    actions.extend(
        {
            "remove": {
                "path": f.path,
                "deletionTimestamp": 0,
                "dataChange": False,
            }
        }
        for f in snapshot.files
    )
    version = _commit_atomically(
        uri, actions,
        snapshot=snapshot,
        operation="OPTIMIZE",
        operation_params={"zOrderBy": columns},
    ).version
    return {
        "files_removed": len(snapshot.files),
        "files_added": n_added,
        "version": version,
    }


def vacuum(uri: str, dry_run: bool = False) -> list[str]:
    """Delete data files no longer referenced by the LATEST snapshot —
    overwritten/compacted files kept only for time travel. After vacuum,
    reads at old versions whose files were removed will fail (the same
    trade delta-spark's VACUUM makes). Returns the deleted (or, with
    ``dry_run``, deletable) relative paths.

    Retention note: production VACUUM retains tombstones younger than a
    horizon so long-running readers don't lose files mid-query. This
    writer stamps ``deletionTimestamp: 0`` (no wall clocks in the
    engine), so the horizon is expressed operationally instead: run
    vacuum only when no reader is older than the last checkpoint."""
    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    active = {unquote(f.path) for f in snapshot.files}
    # deletion-vector files referenced by the live snapshot must survive;
    # ones orphaned by a zorder/merge rewrite (which materializes the
    # deletions) are vacuumable like any superseded data file
    from .delta_dv import dv_relative_path

    for f in snapshot.files:
        dv = f.deletion_vector
        if dv and dv.get("storageType") == "u":
            active.add(dv_relative_path(dv["pathOrInlineDv"]))
    deletable: list[str] = []
    for root, dirs, names in os.walk(uri):
        # underscore-prefixed directories are table metadata by lake
        # convention (_delta_log, _ann_index, Spark's _SUCCESS dirs) —
        # never data, never vacuumed
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for n in names:
            if not (
                n.endswith(".parquet")
                or (n.startswith("deletion_vector_") and n.endswith(".bin"))
            ):
                continue
            rel = os.path.relpath(os.path.join(root, n), uri)
            rel = rel.replace(os.sep, "/")
            if rel not in active:
                deletable.append(rel)
    if not dry_run:
        for rel in deletable:
            try:
                os.remove(os.path.join(uri, rel))
            except FileNotFoundError:
                pass
        # prune now-empty partition directories
        for root, dirs, names in os.walk(uri, topdown=False):
            if "_delta_log" in root or root == uri:
                continue
            if not os.listdir(root):
                os.rmdir(root)
    return sorted(deletable)


class ConcurrentModificationError(RuntimeError):
    """A concurrent writer committed something this transaction's
    snapshot-based actions conflict with (delta-spark's
    ConcurrentDeleteReadException / MetadataChangedException family)."""


def _check_commit_conflicts(
    log_dir: str,
    actions: list[dict],
    read_version: int,
    latest: int,
    txn: Optional[tuple[str, int]] = None,
    read_predicate=None,
    read_whole_table: bool = False,
    data_schema=None,
) -> Optional[int]:
    """Optimistic-concurrency validation before retrying a collided
    commit: replay the commits that landed AFTER this transaction's
    snapshot (``read_version``) and decide whether its actions are
    still valid (WriteSerializable, the semantics delta-spark defaults
    to):

    - an intervening SetTransaction for OUR appId (``txn``) at ≥ our
      version → the work already landed (a replayed idempotent batch
      racing itself): return that committed version to short-circuit,
      whatever else the commits hold — this transaction commits nothing;
    - a file WE remove that an intervening commit already removed →
      :class:`ConcurrentModificationError` (our rewrite/delete was
      computed from content that no longer exists — blind retry would
      double-remove and could drop the other writer's re-add);
    - an intervening metaData or protocol action → conflict (the
      schema/feature gate we validated against changed under us);
    - a concurrent dataChange APPEND that could fall inside this
      transaction's READ SET (delta-spark's
      ConcurrentAppendException): when ``read_whole_table`` (MERGE —
      the join reads every key), any such add conflicts; when
      ``read_predicate`` (DELETE/UPDATE's typed DNF), an add conflicts
      unless its stats envelope PROVES no row can match (a file
      without stats conservatively conflicts; partition-value
      elision is not attempted — sound, possibly over-strict).
      ``dataChange: false`` adds (OPTIMIZE rewrites) never conflict —
      identical rows, new layout;
    - other concurrent appends are compatible — appends commute.

    Returns a version to short-circuit to, or None to proceed."""
    our_removes = {
        a["remove"]["path"] for a in actions if "remove" in a
    }
    from .delta_log import AddFile, read_commit_actions
    from .delta_stats import stats_prune

    intervening = {}
    for v in range(read_version + 1, latest + 1):
        with contextlib.suppress(FileNotFoundError):
            intervening[v] = read_commit_actions(log_dir, v)
    if txn is not None:
        for v, commit in intervening.items():
            if any(
                "txn" in a
                and a["txn"].get("appId") == txn[0]
                and int(a["txn"].get("version", -1)) >= txn[1]
                for a in commit
            ):
                return v
    for v, commit in intervening.items():
        for action in commit:
            if "metaData" in action or "protocol" in action:
                raise ConcurrentModificationError(
                    f"Concurrent metadata/protocol change at version {v} "
                    f"in {log_dir}; re-read the table and retry the "
                    f"operation"
                )
            if "remove" in action and action["remove"]["path"] in our_removes:
                raise ConcurrentModificationError(
                    f"Concurrent writer removed "
                    f"{action['remove']['path']!r} at version {v}; this "
                    f"transaction's rewrite was computed from a stale "
                    f"snapshot — re-run the operation"
                )
            if (
                (read_whole_table or read_predicate)
                and "add" in action
                and action["add"].get("dataChange", True)
            ):
                add = action["add"]
                may_match = True
                if not read_whole_table:
                    probe = AddFile(
                        path=add.get("path", ""),
                        partition_values=dict(
                            add.get("partitionValues") or {}
                        ),
                        stats=add.get("stats"),
                    )
                    may_match = bool(
                        stats_prune([probe], read_predicate, data_schema)
                    )
                if may_match:
                    raise ConcurrentModificationError(
                        f"Concurrent append at version {v} in {log_dir} "
                        f"landed files inside this transaction's read "
                        f"set (delta-spark: ConcurrentAppendException); "
                        f"the rows it planned from are stale — re-run "
                        f"the operation"
                    )
    return None


class _Commit(NamedTuple):
    """What :func:`_commit_atomically` did: committed ``version``, or
    (``superseded``) found this transaction's SetTransaction already
    landed at ``version`` by a racing replay and committed nothing."""

    version: int
    superseded: bool = False


def _idempotent_txn(
    snapshot, app_id: Optional[str], version: Optional[int]
) -> tuple[Optional[tuple[str, int]], bool]:
    """The idempotent-writer ledger entry (protocol SetTransaction) of a
    write given ``txn_app_id``/``txn_version``: ``(txn, landed)``, where
    ``txn`` is the ``(appId, version)`` pair for
    :func:`_commit_atomically`'s ``txn=`` (None when unset) and
    ``landed`` says ``snapshot``'s ledger already holds this version or
    a later one, so the write is a replay and must do nothing
    (``snapshot`` is None for a table not created yet)."""
    if (app_id is None) != (version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    if app_id is None:
        return None, False
    last = (
        snapshot.app_transactions.get(app_id) if snapshot is not None else None
    )
    return (app_id, int(version)), last is not None and version <= last


def _staged(adds, dv_actions=()) -> list[str]:
    """Paths (as add actions carry them) of the files a transaction
    wrote into the table: its new data files and the DV files of
    ``dv_actions`` (storageType 'u' descriptors)."""
    from .delta_dv import dv_relative_path

    dvs = [a["add"].get("deletionVector") for a in dv_actions if "add" in a]
    return [a["add"]["path"] for a in adds] + [
        dv_relative_path(dv["pathOrInlineDv"])
        for dv in dvs
        if dv and dv.get("storageType") == "u"
    ]


def _commit_atomically(
    uri: str,
    actions: list[dict],
    *,
    snapshot=None,
    txn: Optional[tuple[str, int]] = None,
    staged: Sequence[str] = (),
    operation: Optional[str] = None,
    operation_params: Optional[dict] = None,
    strict: bool = False,
    read_predicate=None,
    read_whole_table: bool = False,
) -> _Commit:
    """End a Delta transaction on the table at ``uri``: write the next
    NNN.json with O_EXCL; on collision validate the intervening commits
    against ``snapshot.version`` (the snapshot this transaction planned
    from) and retry — optimistic concurrency with WriteSerializable
    conflict rules, as the protocol prescribes. Every Delta write ends
    here.

    ``snapshot=None`` skips validation (brand-new table, whose log
    directory this creates, or a caller that accepts last-writer-wins).
    ``operation`` prepends a ``commitInfo`` action (the freeform
    provenance record delta-spark writes and DESCRIBE HISTORY reads);
    timestamp is 0 like every other clock in this writer — determinism
    over wall time. ``strict=True`` refuses ANY intervening commit
    (Serializable, not WriteSerializable) — for operations whose
    correctness depends on a full-table validation at the read
    snapshot, e.g. ADD CONSTRAINT: a concurrent append could land rows
    the validation never saw. ``read_predicate`` (a DNF typed against
    ``snapshot``) and ``read_whole_table`` name the read set a
    concurrent append may conflict with.

    ``txn`` (``(appId, version)``, from :func:`_idempotent_txn`)
    appends the SetTransaction action. When a racing replay of the same
    batch has already landed it, nothing is committed: the ``staged``
    files (add-action paths relative to ``uri``) are deleted, so they
    do not linger unreferenced until vacuum, and the result is
    ``superseded`` at the racer's version.

    A commit that lands on a multiple of :data:`CHECKPOINT_INTERVAL`
    then writes its checkpoint (delta-spark's ``postCommit``)."""
    log_dir = os.path.join(uri, "_delta_log")
    if snapshot is None:
        os.makedirs(log_dir, exist_ok=True)
    read_version = None if snapshot is None else snapshot.version
    if operation is not None:
        info: dict = {
            "timestamp": 0,
            "operation": operation,
            "operationParameters": {
                k: v if isinstance(v, str) else json.dumps(v)
                for k, v in (operation_params or {}).items()
            },
            "engineInfo": "datarepo-spark",
        }
        actions = [{"commitInfo": info}] + list(actions)
    if txn is not None:
        app_id, txn_version = txn
        actions = list(actions) + [
            {
                "txn": {
                    "appId": app_id,
                    "version": txn_version,
                    "lastUpdated": 0,
                }
            }
        ]
    payload = "".join(json.dumps(a) + "\n" for a in actions)
    for _ in range(50):
        versions = [
            int(n[:20])
            for n in os.listdir(log_dir)
            if n.endswith(".json") and len(n) == 25
        ]
        version = (max(versions) + 1) if versions else 0
        if strict and read_version is not None and version > read_version + 1:
            raise ConcurrentModificationError(
                f"Concurrent commit(s) landed after version "
                f"{read_version} in {log_dir}; this operation validates "
                f"against a full-table snapshot — re-run it"
            )
        if read_version is not None and version > read_version + 1:
            landed = _check_commit_conflicts(
                log_dir, actions, read_version, version - 1,
                txn=txn,
                read_predicate=read_predicate,
                read_whole_table=read_whole_table,
                data_schema=snapshot.data_schema,
            )
            if landed is not None:
                # our idempotent batch already landed via a racing
                # writer: the table holds it exactly once without ours
                for rel in staged:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(uri, unquote(rel)))
                return _Commit(landed, superseded=True)
            read_version = version - 1  # validated up to here
        path = os.path.join(log_dir, f"{version:020d}.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w", encoding="utf-8") as handle:
            handle.write(payload)
        # same-process readers with a TTL snapshot cache must see this
        # commit immediately
        from .delta_log import invalidate_snapshot_cache

        invalidate_snapshot_cache(uri)
        if version and version % CHECKPOINT_INTERVAL == 0:
            write_checkpoint(uri, version)
        return _Commit(version)
    raise RuntimeError(f"Could not commit to {log_dir} after 50 attempts")


def describe_detail(spark, uri: str) -> "DataFrame":
    """DESCRIBE DETAIL: one row summarizing the table's current
    snapshot — id/format/location, schema, partitioning, active
    file count + total bytes, properties, protocol versions. The
    operational at-a-glance card delta-spark exposes; everything comes
    from the already-replayed snapshot (no data scan)."""
    from pyspark.sql import types as T

    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    meta = dict(snapshot.raw_metadata or {})
    proto = dict(snapshot.raw_protocol or {})
    row = (
        meta.get("id"),
        (meta.get("format") or {}).get("provider", "parquet")
        if isinstance(meta.get("format"), dict)
        else "parquet",
        uri,
        int(snapshot.version),
        len(snapshot.files),
        sum(int(f.size or 0) for f in snapshot.files),
        list(snapshot.partition_columns),
        json.dumps(dict(snapshot.configuration), sort_keys=True),
        int(proto.get("minReaderVersion", 1)),
        int(proto.get("minWriterVersion", 2)),
        snapshot.schema.simpleString(),
    )
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), True),
            T.StructField("format", T.StringType(), True),
            T.StructField("location", T.StringType(), False),
            T.StructField("version", T.LongType(), False),
            T.StructField("num_files", T.LongType(), False),
            T.StructField("size_in_bytes", T.LongType(), False),
            T.StructField(
                "partition_columns", T.ArrayType(T.StringType()), False
            ),
            T.StructField("properties", T.StringType(), False),
            T.StructField("min_reader_version", T.LongType(), False),
            T.StructField("min_writer_version", T.LongType(), False),
            T.StructField("schema_string", T.StringType(), False),
        ]
    )
    return local_frame(spark, [row], schema)


def describe_history(spark, uri: str) -> "DataFrame":
    """DESCRIBE HISTORY: one row per retained commit (newest first) —
    version, operation (+ parameters, from the commitInfo provenance
    records this writer emits), and add/remove counts. Commits written
    by other engines without commitInfo show operation NULL. Log-cleaned
    commits are absent, as in delta-spark."""
    from pyspark.sql import types as T

    from .delta_log import read_commit_actions

    uri = uri.rstrip("/")
    log_dir = os.path.join(uri, "_delta_log")
    rows = []
    for name in sorted(os.listdir(log_dir), reverse=True):
        if not (name.endswith(".json") and len(name) == 25):
            continue
        version = int(name[:20])
        op = None
        params = None
        n_adds = n_removes = 0
        for action in read_commit_actions(log_dir, version):
            if "commitInfo" in action:
                op = action["commitInfo"].get("operation")
                p = action["commitInfo"].get("operationParameters")
                params = json.dumps(p, sort_keys=True) if p else None
            elif "add" in action:
                n_adds += 1
            elif "remove" in action:
                n_removes += 1
        rows.append((version, op, params, n_adds, n_removes))
    schema = T.StructType(
        [
            T.StructField("version", T.LongType(), False),
            T.StructField("operation", T.StringType(), True),
            T.StructField("operation_parameters", T.StringType(), True),
            T.StructField("n_adds", T.LongType(), False),
            T.StructField("n_removes", T.LongType(), False),
        ]
    )
    return local_frame(spark, rows, schema)


def restore_table(spark, uri: str, version: int) -> dict[str, int]:
    """RESTORE TABLE ... TO VERSION AS OF: one commit that returns the
    LATEST snapshot to the file set (and metadata) of ``version`` —
    the undo operation. History is preserved (the restore is itself a
    new version; nothing is rewritten), so a bad restore is restorable.

    Metadata-only mechanics: removes for files not in the target
    snapshot, re-adds (stats and deletion vectors carried) for files
    the current snapshot dropped or whose DV state changed. Refuses if
    any target file was vacuumed — a silent partial restore would
    present truncated data as success (delta-spark errors identically).

    Returns {version, files_added, files_removed}."""
    uri = uri.rstrip("/")
    log = DeltaLog(uri)
    old = log.snapshot(version)
    cur = log.snapshot()
    if old.version == cur.version:
        return {
            "version": cur.version,
            "files_added": 0,
            "files_removed": 0,
        }

    from .delta_dv import dv_relative_path

    missing = []
    for f in old.files:
        if not os.path.exists(os.path.join(uri, unquote(f.path))):
            missing.append(f.path)
        dv = f.deletion_vector
        if dv and dv.get("storageType") == "u":
            rel = dv_relative_path(dv["pathOrInlineDv"])
            if not os.path.exists(os.path.join(uri, rel)):
                missing.append(rel)
    if missing:
        raise ValueError(
            f"Cannot restore to version {version}: {len(missing)} "
            f"file(s) were vacuumed, e.g. {missing[:3]}"
        )

    cur_by_path = {f.path: f for f in cur.files}
    old_by_path = {f.path: f for f in old.files}
    actions: list[dict] = []
    if (old.raw_metadata or {}) != (cur.raw_metadata or {}):
        meta = dict(old.raw_metadata or {})
        for k in ("format", "configuration"):
            if meta.get(k) is not None and not isinstance(meta[k], dict):
                meta[k] = dict(meta[k])
        actions.append({"metaData": meta})
    removes = [p for p in cur_by_path if p not in old_by_path]
    actions.extend(
        {
            "remove": {
                "path": p,
                "deletionTimestamp": 0,
                "dataChange": True,
            }
        }
        for p in sorted(removes)
    )
    n_added = 0
    for p, f in sorted(old_by_path.items()):
        existing = cur_by_path.get(p)
        if existing is not None and (
            existing.deletion_vector == f.deletion_vector
        ):
            continue  # identical file state — leave in place
        if existing is not None:
            # same path, different DV state: remove + re-add old state
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": 0,
                        "dataChange": True,
                    }
                }
            )
        add_action = {
            "path": f.path,
            "partitionValues": dict(f.partition_values),
            "size": f.size,
            "modificationTime": 0,
            "dataChange": True,
        }
        if f.stats is not None:
            add_action["stats"] = f.stats
        if f.deletion_vector is not None:
            add_action["deletionVector"] = dict(f.deletion_vector)
        actions.append({"add": add_action})
        n_added += 1

    if not actions:
        return {
            "version": cur.version,
            "files_added": 0,
            "files_removed": 0,
        }
    new_version = _commit_atomically(
        uri, actions,
        snapshot=cur,
        operation="RESTORE",
        operation_params={"version": version},
    ).version
    return {
        "version": new_version,
        "files_added": n_added,
        "files_removed": len(removes),
    }


def convert_to_delta(
    spark,
    uri: str,
    partition_columns: Optional[Sequence[str]] = None,
) -> int:
    """CONVERT TO DELTA: create a transaction log in place over an
    existing parquet directory — every current file becomes an ``add``
    (with footer-aggregated stats, so data skipping works immediately);
    nothing is rewritten or moved. The migration path for a 100 TB
    parquet lake: one metadata commit instead of a full copy.

    Hive-partitioned layouts (``col=value`` directories) are detected
    automatically; ``partition_columns`` overrides the declared ORDER
    of the partitioning (default: every ``key=value`` level found, in
    path order). An override must still include every level found on
    disk — an omitted level's values exist only in directory names and
    would read back as NULL, so that is rejected. Schema comes from
    Spark's own parquet inference over the directory (partition columns
    typed by inference, same as a normal hive read).

    Refuses if a ``_delta_log`` already exists (the table is already
    Delta — converting again would shadow its history)."""
    uri = uri.rstrip("/")
    if os.path.isdir(os.path.join(uri, "_delta_log")):
        raise ValueError(
            f"{uri} already has a _delta_log; it is already a Delta table"
        )

    from pyspark.sql import types as T

    inferred = spark.read.option("basePath", uri).parquet(uri)
    schema = inferred.schema

    data_files: list[tuple[str, dict]] = []
    seen_part_cols: list[str] = []
    for root, dirs, names in os.walk(uri):
        # underscore/dot-prefixed directories are metadata/temporary by
        # lake convention (_temporary task attempts, _ann_index, …) —
        # spark.read's inference ignores them, so must the conversion
        dirs[:] = [
            d for d in dirs
            if not d.startswith("_") and not d.startswith(".")
        ]
        rel_dir = os.path.relpath(root, uri)
        rel_dir = "" if rel_dir == "." else rel_dir
        partition_values: dict = {}
        for seg in rel_dir.split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                partition_values[k] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else unquote(v)
                )
                if k not in seen_part_cols:
                    seen_part_cols.append(k)
        for name in names:
            if (
                name.endswith(".parquet")
                and not name.startswith("_")
                and not name.startswith(".")
            ):
                rel = (
                    os.path.join(rel_dir, name) if rel_dir else name
                )
                data_files.append((rel, partition_values))
    if not data_files:
        raise ValueError(f"no parquet files under {uri}")

    part_cols = (
        list(partition_columns)
        if partition_columns is not None
        else seen_part_cols
    )
    missing = [c for c in part_cols if c not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(
            f"partition columns {missing} not in the inferred schema"
        )
    # An override that OMITS a discovered key=value level would keep
    # that column in the data schema while its values live only in
    # directory names — every subsequent read returns NULL for it.
    # Refuse instead of silently corrupting.
    dropped = [c for c in seen_part_cols if c not in set(part_cols)]
    if dropped:
        raise ValueError(
            f"partition_columns override omits hive level(s) {dropped} "
            f"found on disk; their values exist only in directory names "
            f"and would read back as NULL — include them, or materialize "
            f"the column in the parquet files first"
        )
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in set(part_cols)]
    )

    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema.jsonValue()),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": 0,
            }
        },
    ]
    for rel, pv in sorted(data_files):
        full = os.path.join(uri, rel)
        add_action = {
            "path": quote(rel.replace(os.sep, "/"), safe="/="),
            "partitionValues": {
                k: v for k, v in pv.items() if k in set(part_cols)
            },
            "size": os.path.getsize(full),
            "modificationTime": 0,
            "dataChange": True,
        }
        stats = collect_file_stats(full, data_schema)
        if stats is not None:
            add_action["stats"] = stats
        actions.append({"add": add_action})

    return _commit_atomically(
        uri, actions, operation="CONVERT",
        operation_params={"numFiles": len(data_files)},
    ).version


def overwrite_where(
    spark,
    uri: str,
    df: DataFrame,
    filters,
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
    rewrite_threshold: Optional[float] = None,
    max_affected_files: Optional[int] = None,
) -> dict[str, int]:
    """Atomic predicate-scoped overwrite (delta-spark's ``replaceWhere``):
    in ONE commit, rows matching ``filters`` are removed and ``df`` is
    written in their place — the partition-reload / backfill primitive
    ("replace March with this recomputed March"). Reference parity
    note: the reference library is read-only (SURVEY.md §2A); this
    extends the repo's write path alongside write/merge/update/delete.

    Semantics are delta-spark's:
    - every row of ``df`` must satisfy the predicate (otherwise the
      "overwrite WHERE x" would smuggle rows outside x — ValueError
      before anything is staged);
    - existing matched rows are removed via the same executor-side
      deletion-vector machinery as :func:`delete_delta` (cost tracks
      the replaced-row count; ``rewrite_threshold`` flips near-empty
      files to copy-on-write);
    - a predicate matching nothing degrades to a plain append of
      ``df`` — still one commit, still predicate-validated;
    - readers flip from old rows to new rows at a single version
      boundary (remove + add in one atomic commit, operation WRITE
      with the predicate recorded).

    Schema: ``df`` must be a type-compatible subset of the table
    schema (strict mode; missing columns land as nulls). Generated
    columns are recomputed/validated; identity tables are refused
    (identity assignment is an append-path feature — use write_delta).

    Returns {version, rows_replaced, files_rewritten, files_removed,
    files_added}."""
    from pyspark.sql import functions as F

    from ..core.compile import filters_to_column
    from ..core.filters import normalize_filters, validate_filters
    from .delta_table import DeltalakeTable, typed_dnf

    uri = uri.rstrip("/")
    snapshot = DeltaLog(uri).snapshot()
    txn, landed = _idempotent_txn(snapshot, txn_app_id, txn_version)

    def unchanged(version: int = snapshot.version) -> dict[str, int]:
        return {
            "version": version,
            "rows_replaced": 0,
            "files_rewritten": 0,
            "files_removed": 0,
            "files_added": 0,
        }

    if landed:
        return unchanged()
    if _identity_fields(snapshot):
        raise ValueError(
            "overwrite_where is not supported on IDENTITY tables — "
            "identity values are append-assigned; write_delta the "
            "replacement instead"
        )
    dnf = normalize_filters(filters)
    if not dnf:
        raise ValueError(
            "overwrite_where requires a predicate; a full overwrite is "
            "write_delta(df, uri, mode='overwrite')"
        )
    validate_filters(dnf, {f.name for f in snapshot.schema.fields})
    predicate = filters_to_column(dnf)

    # normalize the replacement frame to the table schema (strict
    # compatibility; missing columns become nulls), recompute/validate
    # generated columns, then enforce the replaceWhere constraint:
    # every replacement row must satisfy the predicate
    _check_schema(df, snapshot, "strict")
    normalized = df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in snapshot.schema.fields
        ]
    )
    normalized = _apply_generated(normalized, snapshot)
    _enforce_constraints(normalized, snapshot)
    offender = normalized.filter(
        ~F.coalesce(predicate, F.lit(False))
    ).limit(1).collect()
    if offender:
        raise ValueError(
            f"overwrite_where replacement rows must satisfy the "
            f"predicate {[str(f) for c in dnf for f in c]}; offending "
            f"row: {offender[0].asDict()}"
        )

    table = DeltalakeTable(os.path.basename(uri), uri)
    typed = typed_dnf(spark, snapshot, dnf)
    existing = table._read_from_log(
        spark, snapshot, typed, keep_rel=True, keep_pos=True
    )
    dv_actions: list[dict] = []
    counters = {"rows_deleted": 0, "files_rewritten": 0, "files_removed": 0}
    rewrite_rels: list[str] = []
    if existing is not None:
        matched_df = existing.filter(predicate)
        dv_actions, counters, rewrite_rels = _dv_soft_delete_actions(
            spark, uri, snapshot, matched_df,
            rewrite_threshold=rewrite_threshold,
            max_affected_files=max_affected_files,
        )

    staged = normalized
    if rewrite_rels:
        live = existing.filter(
            F.col("__delta_rel").isin(rewrite_rels)
            & ~F.coalesce(predicate, F.lit(False))
        ).drop("__delta_rel", "__delta_pos")
        staged = staged.unionByName(live)
    stage_df, stage_parts, file_schema = _stage_frame_for(snapshot, staged)
    add_actions = _stage_adds(
        spark, stage_df, uri, stage_parts, file_schema, data_change=True
    )

    features = _dv_feature_actions(snapshot) if dv_actions else []
    commit = _commit_atomically(
        uri, features + dv_actions + add_actions,
        snapshot=snapshot,
        txn=txn,
        staged=_staged(add_actions, dv_actions),
        operation="WRITE",
        operation_params={
            "mode": "Overwrite",
            "predicate": [str(f) for c in dnf for f in c],
        },
        read_predicate=typed,
    )
    if commit.superseded:
        return unchanged(commit.version)
    return {
        "version": commit.version,
        "rows_replaced": counters["rows_deleted"],
        "files_rewritten": counters["files_rewritten"],
        "files_removed": counters["files_removed"],
        "files_added": len(add_actions),
    }
