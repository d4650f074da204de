"""Minimal Delta Lake transaction-log reader (public Delta protocol).

Replays ``_delta_log/`` (checkpoint parquet + JSON commits) to resolve the
active file set, table schema, and partition values at a version — the same
job delta-rs does for the reference (deltalake_table.py:286-300) and the
Delta PROTOCOL.md documents publicly.

Why it exists: it reads Delta without delta-spark jars, so
``spark.read.format("delta")`` is never needed. The log is small, driver-side
metadata (one record per data file — the same thing delta-spark's Snapshot
holds on the driver); the *data* path stays fully distributed:
``spark.read.parquet(<active files>)`` with partition values joined back in.

Supported: JSON commits, checkpoints in all three public layouts
(classic single-part, classic multi-part — only when every part is
present, v2 manifest + sidecars), add/remove reconciliation,
partitionValues, schemaString, time travel (versionAsOf), column mapping
(name mode; id mode via the physicalName fallback), deletion vectors
(portable roaring bitmaps → row_index anti-join, :mod:`delta_dv`).
Refused loudly: any reader feature outside the supported allowlist.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import numbers
import os
import re
import struct
import zoneinfo
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import types as T


@dataclass
class AddFile:
    path: str
    partition_values: dict[str, Optional[str]]
    size: int = 0
    # the add action's data-skipping JSON (numRecords/minValues/
    # maxValues/nullCount) — consumed by delta_stats.stats_prune
    stats: Optional[str] = None
    # deletion-vector descriptor (storageType/pathOrInlineDv/offset/
    # sizeInBytes/cardinality) — rows at these indexes are soft-deleted;
    # resolved by delta_dv.read_deletion_vector at scan time
    deletion_vector: Optional[dict[str, Any]] = None


@dataclass
class RemoveFile:
    """An unexpired tombstone. Checkpoints must carry these forward
    (PROTOCOL.md: 'Checkpoints ... must contain ... remove actions that
    have not expired') so that concurrent readers replaying from the
    checkpoint still see the deletion."""

    path: str
    deletion_timestamp: int = 0
    partition_values: Optional[dict[str, Optional[str]]] = None
    size: Optional[int] = None


@dataclass
class DeltaSnapshot:
    version: int
    schema: T.StructType
    partition_columns: list[str]
    files: list[AddFile] = field(default_factory=list)
    tombstones: list[RemoveFile] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)
    # appId → highest committed SetTransaction version (protocol 'txn'
    # action) — the idempotent-writer ledger streaming sinks check
    app_transactions: dict[str, int] = field(default_factory=dict)
    # raw protocol/metaData actions as last seen in the log — a checkpoint
    # must re-emit them verbatim (the metaData id identifies the TABLE;
    # synthesizing a new one would violate the protocol)
    raw_protocol: Optional[dict[str, Any]] = None
    raw_metadata: Optional[dict[str, Any]] = None

    @property
    def data_schema(self) -> T.StructType:
        part = set(self.partition_columns)
        return T.StructType(
            [f for f in self.schema.fields if f.name not in part]
        )

    # -- column mapping (protocol §column-mapping) ------------------------

    @property
    def column_mapping_mode(self) -> str:
        """'none' | 'name' | 'id'. With mapping active, parquet files
        store PHYSICAL column names (``delta.columnMapping.physicalName``
        field metadata, typically ``col-<uuid>``), and partitionValues /
        stats keys are physical too. 'id' mode formally matches by
        parquet field id; delta-spark sets physicalName in both modes,
        which is what this reader matches by (documented fallback)."""
        return self.configuration.get("delta.columnMapping.mode", "none")

    def physical_name(self, field: T.StructField) -> str:
        meta = field.metadata or {}
        return meta.get("delta.columnMapping.physicalName", field.name)

    @property
    def physical_name_map(self) -> dict[str, str]:
        """logical top-level column name → physical parquet name."""
        return {f.name: self.physical_name(f) for f in self.schema.fields}

    @property
    def physical_data_schema(self) -> T.StructType:
        """data_schema with every (arbitrarily nested) field renamed to
        its physical name — the schema the parquet files actually have."""
        part = set(self.partition_columns)

        def conv_dt(dt: T.DataType) -> T.DataType:
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

        def conv_field(f: T.StructField) -> T.StructField:
            return T.StructField(
                self.physical_name(f), conv_dt(f.dataType), f.nullable
            )

        return T.StructType(
            [conv_field(f) for f in self.schema.fields if f.name not in part]
        )

    def partition_field(self, name: str) -> T.StructField:
        for f in self.schema.fields:
            if f.name == name:
                return f
        raise KeyError(name)


def read_commit_actions(log_dir: str, version: int) -> list[dict[str, Any]]:
    """Parse one NNN.json commit into its action dicts — the single
    reading convention shared by log replay, conflict validation, and
    DESCRIBE HISTORY."""
    path = os.path.join(log_dir, f"{version:020d}.json")
    actions = []
    with open(path, "r", encoding="utf-8") as handle:
        for line in handle:
            line = line.strip()
            if line:
                actions.append(json.loads(line))
    return actions


# Protocol rule: a reader MUST refuse any readerFeature it does not
# recognize (an allowlist, not a blocklist — a future feature could
# change read semantics arbitrarily). Supported here: columnMapping
# (name mode; id via physicalName fallback), v2Checkpoint (manifest +
# sidecar replay), deletionVectors (portable roaring parse + row_index
# anti-join, delta_dv.py), timestampNtz (schema-driven, no special
# handling), vacuumProtocolCheck (a writer-side contract; reads are
# unaffected).
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "v2Checkpoint",
    "deletionVectors",
    "timestampNtz",
    "vacuumProtocolCheck",
}

# (table uri, version) → (log-dir fingerprint, validated-at, snapshot).
# The fingerprint is the sorted log-file listing: any commit, checkpoint,
# or log clean changes it, so a fingerprint-validated hit is always
# current — the cache trades a full log replay (read every JSON tail +
# checkpoint parquet) for one directory listing. A TTL (from the
# reference's file_cache_last_checkpoint_valid_duration knob) skips even
# the listing within the window.
_SNAPSHOT_CACHE: dict[tuple[str, Optional[int]], tuple[tuple, float, "DeltaSnapshot"]] = {}

# uri → every file_cache_path this process has used for it, so a commit
# can also invalidate the ON-DISK entries (the reference's
# file_cache_path semantics, deltalake_table.py:40-65). Disk entries are
# additionally self-invalidating via the stored log-dir fingerprint, so
# a stale file left by another process is harmless — it revalidates and
# falls through to a replay.
_DISK_CACHE_DIRS: dict[str, set] = {}


def invalidate_snapshot_cache(uri: Optional[str] = None) -> None:
    """Drop cached snapshots for ``uri`` (or all) — the in-memory memo
    AND any on-disk entries this process wrote. Called by the write
    path after every commit so same-process TTL reads never serve a
    pre-write snapshot."""
    if uri is None:
        for u in list(_DISK_CACHE_DIRS):
            invalidate_snapshot_cache(u)
        _SNAPSHOT_CACHE.clear()
        return
    uri = uri.rstrip("/")
    for key in [k for k in _SNAPSHOT_CACHE if k[0] == uri]:
        del _SNAPSHOT_CACHE[key]
    for cache_dir in _DISK_CACHE_DIRS.get(uri, ()):
        prefix = _disk_cache_prefix(uri)
        try:
            names = os.listdir(cache_dir)
        except OSError:
            continue
        for name in names:
            if name.startswith(prefix):
                try:
                    os.remove(os.path.join(cache_dir, name))
                except OSError:
                    pass


def _disk_cache_prefix(uri: str) -> str:
    import hashlib

    return "snap-" + hashlib.sha256(
        uri.rstrip("/").encode()
    ).hexdigest()[:16]


def _disk_cache_file(cache_dir: str, uri: str, version: Optional[int]) -> str:
    tag = "latest" if version is None else f"v{version}"
    return os.path.join(
        cache_dir, f"{_disk_cache_prefix(uri)}-{tag}.json"
    )


def _snapshot_to_json(snap: "DeltaSnapshot") -> dict[str, Any]:
    from dataclasses import asdict

    return {
        "version": snap.version,
        "schema": snap.schema.jsonValue(),
        "partition_columns": snap.partition_columns,
        "files": [asdict(a) for a in snap.files],
        "tombstones": [asdict(r) for r in snap.tombstones],
        "configuration": snap.configuration,
        "app_transactions": snap.app_transactions,
        "raw_protocol": snap.raw_protocol,
        "raw_metadata": snap.raw_metadata,
    }


def _snapshot_from_json(doc: dict[str, Any]) -> "DeltaSnapshot":
    return DeltaSnapshot(
        version=doc["version"],
        schema=T.StructType.fromJson(doc["schema"]),
        partition_columns=list(doc["partition_columns"]),
        files=[AddFile(**a) for a in doc["files"]],
        tombstones=[RemoveFile(**r) for r in doc["tombstones"]],
        configuration=dict(doc["configuration"]),
        app_transactions=dict(doc["app_transactions"]),
        raw_protocol=doc["raw_protocol"],
        raw_metadata=doc["raw_metadata"],
    )


class DeltaLog:
    """Reads the transaction log of one Delta table rooted at ``uri``."""

    def __init__(self, uri: str) -> None:
        self.uri = uri.rstrip("/")
        self.log_dir = os.path.join(self.uri, "_delta_log")
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(
                f"Not a Delta table (no _delta_log): {self.uri}"
            )

    # -- log file discovery ------------------------------------------------

    def _commit_versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and len(name) == 25:
                try:
                    out.append(int(name[:20]))
                except ValueError:
                    continue
        return sorted(out)

    def _checkpoint_catalog(self) -> dict[int, dict[str, Any]]:
        """version → the COMPLETE checkpoint found there, as
        {"kind": "classic" | "multipart" | "v2", "files": [ordered names]}.

        Three public layouts (PROTOCOL.md 'Checkpoints'):
        - classic single-part   NNN.checkpoint.parquet
        - classic multi-part    NNN.checkpoint.PPPPPPPPPP.TTTTTTTTTT.parquet
          (usable only when all T parts are present — a partial upload
          must be invisible, not a truncated file set)
        - v2                    NNN.checkpoint.<uuid>.(parquet|json): a
          manifest whose ``sidecar`` actions point into _sidecars/
        """
        import re

        classic: dict[int, str] = {}
        multi: dict[int, dict[int, dict[int, str]]] = {}
        v2: dict[int, str] = {}
        for name in os.listdir(self.log_dir):
            m = re.match(r"^(\d{20})\.checkpoint\.parquet$", name)
            if m:
                classic[int(m.group(1))] = name
                continue
            m = re.match(
                r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$", name
            )
            if m:
                v, part, total = (int(m.group(i)) for i in (1, 2, 3))
                multi.setdefault(v, {}).setdefault(total, {})[part] = name
                continue
            m = re.match(
                r"^(\d{20})\.checkpoint\.[0-9a-zA-Z_-]+\.(parquet|json)$",
                name,
            )
            if m:
                v2[int(m.group(1))] = name

        out: dict[int, dict[str, Any]] = {}
        for v, name in v2.items():
            out[v] = {"kind": "v2", "files": [name]}
        for v, by_total in multi.items():
            for total, parts in by_total.items():
                if len(parts) == total:
                    out[v] = {
                        "kind": "multipart",
                        "files": [parts[i] for i in range(1, total + 1)],
                    }
                    break
        for v, name in classic.items():
            out[v] = {"kind": "classic", "files": [name]}
        return out

    def _checkpoint_versions(self) -> list[int]:
        return sorted(self._checkpoint_catalog())

    def latest_version(self) -> int:
        versions = self._commit_versions()
        checkpoints = self._checkpoint_versions()
        if not versions and not checkpoints:
            raise FileNotFoundError(f"Empty _delta_log in {self.uri}")
        return max(versions + checkpoints)

    # -- action iteration ---------------------------------------------------

    def _commit_actions(self, version: int) -> list[dict[str, Any]]:
        return read_commit_actions(self.log_dir, version)

    _ACTION_KEYS = ("add", "remove", "metaData", "protocol", "txn")

    def _rows_to_actions(self, rows) -> list[dict[str, Any]]:
        actions: list[dict[str, Any]] = []
        for row in rows:
            for key in self._ACTION_KEYS:
                value = row.get(key)
                if value is not None:
                    actions.append({key: value})
        return actions

    def _checkpoint_actions(self, version: int) -> list[dict[str, Any]]:
        import pyarrow.parquet as pq

        entry = self._checkpoint_catalog().get(version)
        if entry is None:
            raise FileNotFoundError(
                f"No complete checkpoint at version {version} in "
                f"{self.log_dir}"
            )
        if entry["kind"] in ("classic", "multipart"):
            actions: list[dict[str, Any]] = []
            for name in entry["files"]:
                table = pq.read_table(os.path.join(self.log_dir, name))
                actions.extend(self._rows_to_actions(table.to_pylist()))
            return actions

        # v2: manifest (parquet or json) + sidecar expansion. The
        # manifest's own rows may carry any action; `sidecar` rows point
        # at _delta_log/_sidecars/<file>.parquet holding the file actions.
        name = entry["files"][0]
        path = os.path.join(self.log_dir, name)
        if name.endswith(".json"):
            rows = []
            with open(path, "r", encoding="utf-8") as handle:
                for line in handle:
                    line = line.strip()
                    if line:
                        rows.append(json.loads(line))
        else:
            rows = pq.read_table(path).to_pylist()
        actions = self._rows_to_actions(rows)
        for row in rows:
            sc = row.get("sidecar")
            if sc is None or sc.get("path") is None:
                continue
            sc_path = os.path.join(self.log_dir, "_sidecars", sc["path"])
            table = pq.read_table(sc_path)
            actions.extend(self._rows_to_actions(table.to_pylist()))
        return actions

    # -- snapshot resolution -------------------------------------------------

    def _fingerprint(self) -> tuple:
        # (name, size, mtime_ns) — names alone cannot distinguish a
        # REPLACED table whose fresh log reuses the same version file
        # names (e.g. an index-generation swap landing a new
        # 00000000000000000000.json); a file deleted between listdir
        # and stat reads as (-1, -1), which correctly fails any match
        out = []
        for name in sorted(os.listdir(self.log_dir)):
            try:
                st = os.stat(os.path.join(self.log_dir, name))
                out.append((name, st.st_size, st.st_mtime_ns))
            except OSError:
                out.append((name, -1, -1))
        return tuple(out)

    def snapshot(
        self,
        version: Optional[int] = None,
        cache_ttl: Optional[float] = None,
        file_cache_path: Optional[str] = None,
    ) -> DeltaSnapshot:
        """Replay the log to ``version`` (default: latest).

        Snapshots are memoized per (uri, version): a hit is served after
        one directory-listing fingerprint check (always-correct), or with
        no I/O at all within ``cache_ttl`` seconds of the last validation
        (the reference's checkpoint-valid-duration semantics — a TTL hit
        may miss commits landed since, which is the documented trade).

        ``file_cache_path`` (the reference's on-disk cache,
        deltalake_table.py:40-65): persist resolved snapshots as JSON
        under that directory so a COLD process skips the full log replay
        — it loads the file and pays only the fingerprint listing (or
        nothing, within ``cache_ttl`` of the file's validation stamp). A
        commit through our write path deletes the entries; entries left
        stale by other writers fail the fingerprint check and fall
        through to a replay, so the disk cache can never serve a wrong
        snapshot outside the explicit TTL window."""
        import time

        key = (self.uri, version)
        hit = _SNAPSHOT_CACHE.get(key)
        if hit is not None:
            fp, validated_at, snap = hit
            if (
                cache_ttl is not None
                and time.time() - validated_at < cache_ttl
            ):
                return snap
            if self._fingerprint() == fp:
                _SNAPSHOT_CACHE[key] = (fp, time.time(), snap)
                return snap
        if file_cache_path is not None:
            _DISK_CACHE_DIRS.setdefault(self.uri, set()).add(file_cache_path)
            disk = self._disk_cache_load(file_cache_path, version, cache_ttl)
            if disk is not None:
                _SNAPSHOT_CACHE[key] = disk
                return disk[2]
        snap = self._replay(version)
        fp, now = self._fingerprint(), time.time()
        _SNAPSHOT_CACHE[key] = (fp, now, snap)
        if file_cache_path is not None:
            self._disk_cache_store(file_cache_path, version, fp, now, snap)
        return snap

    def _disk_cache_load(
        self,
        cache_dir: str,
        version: Optional[int],
        cache_ttl: Optional[float],
    ) -> Optional[tuple[tuple, float, "DeltaSnapshot"]]:
        import time

        path = _disk_cache_file(cache_dir, self.uri, version)
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None
        try:
            # JSON round-trips the (name, size, mtime_ns) entries as
            # lists — re-tuple each so equality with _fingerprint holds
            fp = tuple(
                tuple(e) if isinstance(e, list) else e
                for e in doc["fingerprint"]
            )
            validated_at = float(doc["validated_at"])
            snap = _snapshot_from_json(doc["snapshot"])
        except (KeyError, TypeError, ValueError):
            return None  # corrupt/old-format entry: ignore, replay
        if cache_ttl is not None and time.time() - validated_at < cache_ttl:
            return (fp, validated_at, snap)
        if self._fingerprint() == fp:
            return (fp, time.time(), snap)
        return None

    def _disk_cache_store(
        self,
        cache_dir: str,
        version: Optional[int],
        fp: tuple,
        validated_at: float,
        snap: "DeltaSnapshot",
    ) -> None:
        path = _disk_cache_file(cache_dir, self.uri, version)
        tmp = path + ".tmp"
        try:
            os.makedirs(cache_dir, exist_ok=True)
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "fingerprint": list(fp),
                        "validated_at": validated_at,
                        "snapshot": _snapshot_to_json(snap),
                    },
                    fh,
                )
            os.replace(tmp, path)  # atomic: readers never see a torn file
        except OSError:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def _replay(self, version: Optional[int] = None) -> DeltaSnapshot:
        target = self.latest_version() if version is None else version
        if version is not None and version not in self._commit_versions() and (
            version not in self._checkpoint_versions()
        ):
            available = self._commit_versions()
            raise ValueError(
                f"Version {version} not in Delta log (available: "
                f"{available[:5]}..{available[-1:] if available else []})"
            )

        checkpoints = [v for v in self._checkpoint_versions() if v <= target]
        start_actions: list[dict[str, Any]] = []
        replay_from = 0
        if checkpoints:
            cp = max(checkpoints)
            start_actions = self._checkpoint_actions(cp)
            replay_from = cp + 1

        adds: dict[str, AddFile] = {}
        removes: dict[str, RemoveFile] = {}
        txns: dict[str, int] = {}
        schema: Optional[T.StructType] = None
        partition_columns: list[str] = []
        configuration: dict[str, str] = {}
        raw_protocol: Optional[dict[str, Any]] = None
        raw_metadata: Optional[dict[str, Any]] = None

        def apply(action: dict[str, Any]) -> None:
            nonlocal schema, partition_columns, configuration
            nonlocal raw_protocol, raw_metadata
            if "protocol" in action:
                raw_protocol = dict(action["protocol"])
                proto = action["protocol"]
                features = set(proto.get("readerFeatures") or [])
                bad = features - _SUPPORTED_READER_FEATURES
                if bad:
                    raise NotImplementedError(
                        f"Delta reader features not supported: {sorted(bad)}"
                    )
                if proto.get("minReaderVersion", 1) > 3:
                    raise NotImplementedError(
                        f"minReaderVersion {proto['minReaderVersion']} > 3"
                    )
            elif "metaData" in action:
                meta = action["metaData"]
                raw_metadata = dict(meta)
                schema = T.StructType.fromJson(
                    json.loads(meta["schemaString"])
                )
                partition_columns = list(meta.get("partitionColumns") or [])
                configuration = dict(meta.get("configuration") or {})
            elif "add" in action:
                add = action["add"]
                dv = add.get("deletionVector")
                adds[add["path"]] = AddFile(
                    path=add["path"],
                    partition_values=dict(add.get("partitionValues") or {}),
                    size=int(add.get("size") or 0),
                    stats=add.get("stats"),
                    deletion_vector=dict(dv) if dv else None,
                )
                # Re-adding a path cancels its tombstone (protocol
                # reconciliation: latest action per path wins).
                removes.pop(add["path"], None)
            elif "txn" in action:
                tx = action["txn"]
                app = tx.get("appId")
                if app is not None and tx.get("version") is not None:
                    txns[app] = max(
                        int(tx["version"]), txns.get(app, -(1 << 62))
                    )
            elif "remove" in action:
                rm = action["remove"]
                adds.pop(rm["path"], None)
                pv = rm.get("partitionValues")
                removes[rm["path"]] = RemoveFile(
                    path=rm["path"],
                    deletion_timestamp=int(
                        rm.get("deletionTimestamp") or 0
                    ),
                    partition_values=dict(pv) if pv is not None else None,
                    size=int(rm["size"]) if rm.get("size") is not None else None,
                )

        for action in start_actions:
            apply(action)
        # Log cleanup may only delete commits at or below a checkpoint, so
        # when replaying FROM a checkpoint every commit above it must
        # exist; a hole means a torn or partially-cleaned log — replaying
        # past it would present a stale file set as a successful read
        # (delta-rs fails here too; so do we). Without a checkpoint,
        # leading commits may be absent only when replay starts at a later
        # commit that a since-deleted checkpoint once covered; a hole
        # after the first replayed commit still raises.
        first_replayed: Optional[int] = (
            replay_from - 1 if replay_from > 0 else None
        )
        for v in range(replay_from, target + 1):
            commit_path = os.path.join(self.log_dir, f"{v:020d}.json")
            if not os.path.exists(commit_path):
                if first_replayed is not None:
                    raise FileNotFoundError(
                        f"Delta log gap: commit {v:020d}.json missing "
                        f"while replaying toward target {target} "
                        f"in {self.log_dir}"
                    )
                continue
            if first_replayed is None:
                first_replayed = v
            for action in self._commit_actions(v):
                apply(action)

        if schema is None:
            raise ValueError(f"No metaData action found in {self.log_dir}")
        if replay_from == 0 and first_replayed is not None and first_replayed > 0:
            # No checkpoint, and commit 0 (and possibly more) is missing:
            # the replay silently starts mid-history. Legitimate only when
            # a since-deleted checkpoint once covered the prefix — which we
            # cannot corroborate without _last_checkpoint — so surface it.
            import warnings

            warnings.warn(
                f"Delta log at {self.log_dir} has no checkpoint and no "
                f"commit {0:020d}.json; replay starts at version "
                f"{first_replayed}. Files added in the missing prefix are "
                f"NOT visible — verify the log was checkpoint-cleaned, not "
                f"truncated.",
                RuntimeWarning,
                stacklevel=2,
            )
        return DeltaSnapshot(
            version=target,
            schema=schema,
            partition_columns=partition_columns,
            files=list(adds.values()),
            tombstones=list(removes.values()),
            configuration=configuration,
            app_transactions=txns,
            raw_protocol=raw_protocol,
            raw_metadata=raw_metadata,
        )


def session_zone(spark) -> _dt.tzinfo:
    """``spark.sql.session.timeZone`` as a ``tzinfo``, resolved by
    Spark itself (region IDs, short IDs such as ``PST``, offsets such as
    ``+8`` or ``GMT-5``): a fixed offset, or the region's ``ZoneInfo``
    (pandas, a dependency, brings the ``tzdata`` package)."""
    zone = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        spark.conf.get("spark.sql.session.timeZone")
    )
    rules = zone.getRules()
    if rules.isFixedOffset():
        epoch = spark._jvm.java.time.Instant.EPOCH
        seconds = rules.getOffset(epoch).getTotalSeconds()
        return _dt.timezone(_dt.timedelta(seconds=seconds))
    return zoneinfo.ZoneInfo(zone.getId())


# The protocol's date and timestamp partition value forms
DATE_FORM = r"[0-9]{4}-[0-9]{2}-[0-9]{2}"
WALL_FORM = DATE_FORM + r"[ T][0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]{1,6})?"

# typed_literal's answer for a literal no prune may compare
UNPRUNABLE: Any = type("Unprunable", (), {"__repr__": lambda _: "UNPRUNABLE"})()
# Spark trims these from a string it casts (UTF8String.trimAll), reads a
# date from its three fields and ignores what follows a space or a "T"
_TRIM = "".join(map(chr, range(33)))
_DATE_TEXT = re.compile(r"([0-9]{4})-([0-9]{1,2})-([0-9]{1,2})(?:[ T].*)?", re.S)
_TIMESTAMP_TEXT = re.compile(
    rf"{DATE_FORM}|{WALL_FORM}(?:Z|[+-][0-9]{{2}}:[0-9]{{2}})?"
)
_UTC_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def typed_literal(value: Any, dtype: T.DataType, zone) -> Any:
    """The value of a ``dtype`` column's Python type (as partition values
    and stats read) that Spark's casts for ``col <op> lit`` (ANSI)
    compare the column with, or UNPRUNABLE where none is exact: Spark
    casts the column side, rejects the literal, or it would narrow
    (``3.5`` on an int column). A naive ``datetime`` is a wall time for
    ``timestamp_ntz``, pyspark's process-local instant for ``timestamp``.
    ``zone()`` (the session time zone) is called only for a wall-time
    string or a ``date`` against a ``timestamp``."""
    if value is None or isinstance(value, str) and isinstance(dtype, T.StringType):
        return value
    if isinstance(value, str):
        # Spark casts it to a date or timestamp column's type; the forms
        # read here are some of those it reads, and the others prune nothing
        text, value = value.strip(_TRIM), UNPRUNABLE
        fields = _DATE_TEXT.fullmatch(text)
        timestamp = isinstance(dtype, (T.TimestampType, T.TimestampNTZType))
        try:
            if isinstance(dtype, T.DateType) and fields:
                value = _dt.date(*map(int, fields.groups()))
            elif timestamp and _TIMESTAMP_TEXT.fullmatch(text):
                value = _dt.datetime.fromisoformat(text)
                if value.tzinfo is None and isinstance(dtype, T.TimestampType):
                    value = value.replace(tzinfo=zone())  # a wall time
        except ValueError:  # no such day or time
            pass
    if isinstance(value, bool) or isinstance(dtype, T.BooleanType):
        # Spark compares a boolean with no other type
        same = type(value) is bool and isinstance(dtype, T.BooleanType)
        return value if same else UNPRUNABLE
    if type(value) is _dt.date:
        if isinstance(dtype, T.DateType):
            return value
        # a date meets a timestamp as its midnight
        tz = zone() if isinstance(dtype, T.TimestampType) else None
        value = _dt.datetime.combine(value, _dt.time(), tz)
    if isinstance(value, _dt.datetime):
        if isinstance(dtype, T.TimestampType):
            micros = T.TimestampType().toInternal(value)
            return _UTC_EPOCH + _dt.timedelta(microseconds=micros)
        naive = value.tzinfo is None and isinstance(dtype, T.TimestampNTZType)
        return value if naive else UNPRUNABLE
    if isinstance(value, numbers.Integral):
        value = int(value)
    if not isinstance(dtype, T.NumericType) or not isinstance(
        value, (int, float, decimal.Decimal)
    ):
        return UNPRUNABLE
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # compared as doubles, a decimal by Spark's rounding, not Python's
        is_decimal = isinstance(value, decimal.Decimal)
        return UNPRUNABLE if is_decimal else float(value)
    exact = decimal.Decimal(repr(float(value)) if isinstance(value, float) else value)
    scale = getattr(dtype, "scale", 0)
    if not exact.is_finite():
        return UNPRUNABLE
    if isinstance(value, float):
        # compared as doubles: only the column value that reads as the
        # literal equals it, when it has under 15 digits at the scale
        exact = exact.normalize()
        if exact.as_tuple().exponent < -scale or exact.adjusted() + scale > 13:
            return UNPRUNABLE
    elif isinstance(dtype, T.IntegralType) and exact != exact.to_integral():
        return UNPRUNABLE  # compared exactly, as decimals
    return exact if isinstance(dtype, T.DecimalType) else int(exact)


def float32(value: float) -> float:
    """``value`` rounded to the nearest ``float``, the value Spark reads
    for a ``float`` column's partition value or stats bound."""
    return struct.unpack("f", struct.pack("f", value))[0]


def cast_partition_value(
    raw: Optional[str], dtype: T.DataType, tz: Optional[_dt.tzinfo]
) -> Any:
    """Delta stores partition values as strings; cast per declared type
    (protocol's 'Partition Value Serialization' rules). A ``timestamp``
    value is an instant, returned in UTC: Spark writes it as wall time in
    the session time zone ``tz`` (required for this type; an ambiguous
    or skipped wall time takes the offset in force before the change,
    as Spark does), or as
    ISO 8601 with ``Z`` or an offset. A UTC value's equality and hash do
    not depend on ``fold``, as a region zone's do. ``timestamp_ntz``
    stays naive."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(raw)
    if isinstance(dtype, T.DoubleType):
        return float(raw)
    if isinstance(dtype, T.FloatType):
        return float32(float(raw))
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(raw)
    if isinstance(dtype, T.BooleanType):
        return raw == "true"
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, T.TimestampType):
        value = _dt.datetime.fromisoformat(raw)
        if not value.tzinfo:
            value = value.replace(tzinfo=tz)
        return value.astimezone(_dt.timezone.utc)
    if isinstance(dtype, T.TimestampNTZType):
        return _dt.datetime.fromisoformat(raw)
    return raw
