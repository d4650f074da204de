"""CLONE for Delta tables: shallow (metadata-only) and deep (full copy).

Shallow clone is the 100 TB-scale operation (delta-spark's CREATE TABLE
... SHALLOW CLONE): the new table's log references the SOURCE's data
files by ABSOLUTE path — zero bytes of data move, the clone is writable
immediately (new files land under the clone's own root), and VACUUM on
the clone can never delete source data because the referenced files
live outside the clone directory. The protocol explicitly allows add
paths to be absolute URIs, which is exactly how delta-spark's clones
are laid out.

Deletion-vector descriptors of storageType 'u' are RELATIVE to the
source root, so the clone rewrites them to storageType 'p' (absolute) —
the bitmap bytes themselves are never copied or reparsed.

Deep clone copies the data files into the clone root and keeps relative
paths — a backup/migration shape, priced at the data size.

Reference parity note: the reference library is read-only
(SURVEY.md §2A) — CLONE is part of the added write/maintenance surface,
matching delta-spark semantics.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from urllib.parse import quote, unquote

from .delta_log import DeltaLog


def clone_delta(
    src_uri: str,
    dst_uri: str,
    shallow: bool = True,
    version: int | None = None,
) -> int:
    """Clone the Delta table at ``src_uri`` (optionally at a historical
    ``version``) into ``dst_uri``. Returns the clone's committed version
    (always 0 — a clone starts its own history).

    The clone gets a fresh table id (it is a NEW table whose v0 happens
    to reference the source's content) but keeps schema, partitioning,
    configuration, and protocol — so feature gates (deletionVectors,
    columnMapping) carry over exactly."""
    from .delta_writer import _commit_atomically

    src_uri = os.path.abspath(src_uri.rstrip("/"))
    dst_uri = os.path.abspath(dst_uri.rstrip("/"))
    if src_uri == dst_uri:
        raise ValueError("clone source and destination are the same path")
    if os.path.isdir(os.path.join(dst_uri, "_delta_log")):
        raise ValueError(f"{dst_uri} is already a Delta table")
    snapshot = DeltaLog(src_uri).snapshot(version=version)

    meta = dict(snapshot.raw_metadata or {})
    for k in ("format", "configuration"):
        if meta.get(k) is not None and not isinstance(meta[k], dict):
            meta[k] = dict(meta[k])
    meta["id"] = str(uuid.uuid4())  # a clone is a new table identity

    actions: list[dict] = [
        {"protocol": dict(snapshot.raw_protocol or {
            "minReaderVersion": 1, "minWriterVersion": 2,
        })},
        {"metaData": meta},
    ]

    os.makedirs(dst_uri, exist_ok=True)
    for add in snapshot.files:
        rel = unquote(add.path)
        add_action = {
            "partitionValues": dict(add.partition_values),
            "size": add.size,
            "modificationTime": 0,
            "dataChange": True,
        }
        if add.stats is not None:
            add_action["stats"] = add.stats
        # add.path may already be absolute (cloning a shallow clone):
        # resolve the real source file, and derive the partition-dirs +
        # filename suffix for deep-copy placement
        abs_src = os.path.join(src_uri, rel)
        nseg = len(snapshot.partition_columns) + 1
        rel_out = "/".join(rel.split("/")[-nseg:])
        if shallow:
            add_action["path"] = quote(abs_src, safe="/=")
            if add.deletion_vector:
                dv = dict(add.deletion_vector)
                if dv.get("storageType") == "u":
                    # 'u' resolves against the TABLE root — absolute it.
                    # A missing offset means 0 (read_deletion_vector's
                    # default), never this engine's written 1.
                    from .delta_dv import dv_relative_path

                    dv_abs = os.path.join(
                        src_uri, dv_relative_path(dv["pathOrInlineDv"])
                    )
                    dv = {
                        "storageType": "p",
                        "pathOrInlineDv": dv_abs,
                        "offset": dv.get("offset", 0),
                        "sizeInBytes": dv["sizeInBytes"],
                        "cardinality": dv["cardinality"],
                    }
                add_action["deletionVector"] = dv
        else:
            dst_file = os.path.join(dst_uri, rel_out)
            os.makedirs(os.path.dirname(dst_file), exist_ok=True)
            shutil.copy2(abs_src, dst_file)
            add_action["path"] = quote(rel_out, safe="/=")
            if add.deletion_vector:
                dv = dict(add.deletion_vector)
                from .delta_dv import dv_relative_path

                if dv.get("storageType") == "u":
                    dv_rel = dv_relative_path(dv["pathOrInlineDv"])
                    os.makedirs(
                        os.path.dirname(os.path.join(dst_uri, dv_rel))
                        or dst_uri,
                        exist_ok=True,
                    )
                    shutil.copy2(
                        os.path.join(src_uri, dv_rel),
                        os.path.join(dst_uri, dv_rel),
                    )
                elif dv.get("storageType") == "p":
                    # a deep clone must be SELF-CONTAINED and
                    # RELOCATABLE: copy the blob in and, when its name
                    # carries the standard uuid, re-emit a RELATIVE 'u'
                    # descriptor (an absolute 'p' into the clone would
                    # break the moment the backup directory moves)
                    base_name = os.path.basename(dv["pathOrInlineDv"])
                    dv_dst = os.path.join(dst_uri, base_name)
                    shutil.copy2(dv["pathOrInlineDv"], dv_dst)
                    m = re.fullmatch(
                        r"deletion_vector_(.*)\.bin", base_name
                    )
                    converted = None
                    if m:
                        try:
                            from .delta_dv import z85_encode

                            converted = z85_encode(
                                uuid.UUID(m.group(1)).bytes
                            )
                        except ValueError:
                            converted = None
                    if converted is not None:
                        dv = {
                            "storageType": "u",
                            "pathOrInlineDv": converted,
                            "offset": dv.get("offset", 0),
                            "sizeInBytes": dv["sizeInBytes"],
                            "cardinality": dv["cardinality"],
                        }
                    else:  # foreign blob name: absolute fallback
                        dv = {**dv, "pathOrInlineDv": dv_dst}
                add_action["deletionVector"] = dv
        actions.append({"add": add_action})

    return _commit_atomically(
        dst_uri,
        actions,
        operation="CLONE",
        operation_params={
            "source": src_uri,
            "isShallow": shallow,
            "sourceVersion": json.dumps(snapshot.version),
        },
    ).version
