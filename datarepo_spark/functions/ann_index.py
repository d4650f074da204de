"""Persisted ANN index: the production layout for similarity search.

Query-time IVF (``similarity_ann_ivf``) re-assigns the whole corpus per
query — fine for a one-off, wrong for a serving path. The production
shape is an INDEX TABLE: the corpus IVF-assigned once and written as a
Delta table **partitioned by cell**, centroids stored beside the log.
A query then resolves its nprobe nearest cells driver-side and reads
ONLY those partition directories — at 100 TB and nlist=4096, a search
touches nprobe/4096 of the data through ordinary partition pruning,
with Delta add.stats skipping inside each cell for any extra
predicate. This is FAISS's IVF layout re-expressed as a lakehouse
table (and what vector-lake systems like LanceDB do structurally).

The index is a normal Delta table: appendable (new vectors assign to
cells with the SAME stored centroids — no silent re-clustering),
vacuumable, time-travelable. Centroids live under ``_ann_index/`` in
the table directory (underscore-prefixed paths are metadata by lake
convention; vacuum ignores them).
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.filters import Filter
from .ivf import IVFIndex
from .similarity import knn_brute_force

_CENTROID_REL = os.path.join("_ann_index", "centroids.parquet")
_STATS_REL = os.path.join("_ann_index", "cell_stats.parquet")  # pre-r6 layout
_STATS_DIR_REL = os.path.join("_ann_index", "stats")
_PQ_REL = os.path.join("_ann_index", "pq_codebooks.parquet")
_GENERATION_REL = os.path.join("_ann_index", "stats", "generation.json")
_REBUILD_LOCK_REL = os.path.join("_ann_index", "rebuild.lock")


def _write_generation_marker(uri: str, carried_txns: dict[str, int]) -> None:
    """Record the SetTransaction ledger as of this generation's creation.

    A rebuild trains on every row already in the table, so any epoch at
    or below these versions is part of the new BASE — its stamped
    append-stats file was intentionally reset, and a crash-replay of
    such an epoch must NOT backfill stats against the new centroids
    (that would double-count rows already in the baseline)."""
    import json

    path = os.path.join(uri.rstrip("/"), _GENERATION_REL)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump({str(k): int(v) for k, v in carried_txns.items()}, fh)
    os.replace(tmp, path)


def _generation_ledger(uri: str) -> dict[str, int]:
    import json

    path = os.path.join(uri.rstrip("/"), _GENERATION_REL)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return {str(k): int(v) for k, v in json.load(fh).items()}


def _check_rebuild_lock(uri: str) -> None:
    lock = os.path.join(uri.rstrip("/"), _REBUILD_LOCK_REL)
    if os.path.exists(lock):
        raise RuntimeError(
            f"ANN index at {uri} is being rebuilt (lock file {lock} "
            f"present); appends during a rebuild would land in the old "
            f"generation and be dropped by the swap. Retry after the "
            f"rebuild, or remove the lock if it is stale (crashed "
            f"rebuild)."
        )


def _aggregate_cell_stats(assigned_with_sim: DataFrame) -> dict[int, tuple[int, float]]:
    """{cell: (n, sum of (1 - cosine-to-centroid))} — a k-row aggregate;
    the residual mass per cell, computed distributed, collected tiny."""
    rows = (
        assigned_with_sim.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.lit(1.0) - F.col("__sim")).alias("sum_res"),
        )
        .collect()
    )
    return {int(r["cell"]): (int(r["n"]), float(r["sum_res"])) for r in rows}


def _write_stats_file(path: str, stats: dict[int, tuple[int, float]]) -> None:
    """Crash-atomic (write unique tmp + rename): a crash leaves no torn
    file, and two processes racing on the SAME final path (duplicate
    epoch replays from a zombie driver) each stage in their own tmp —
    whoever renames last wins with a complete file."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    cells = sorted(stats)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    pq.write_table(
        pa.table(
            {
                "cell": pa.array(cells, pa.int32()),
                "n": pa.array([stats[c][0] for c in cells], pa.int64()),
                "sum_res": pa.array(
                    [stats[c][1] for c in cells], pa.float64()
                ),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)


def _write_base_stats(uri: str, stats: dict[int, tuple[int, float]]) -> None:
    path = os.path.join(uri.rstrip("/"), _STATS_DIR_REL)
    os.makedirs(path, exist_ok=True)
    _write_stats_file(os.path.join(path, "base.parquet"), stats)


def _stamped_stats_name(stamp: str) -> str:
    """Deterministic stats-file name for a txn identity. Readable prefix
    + hash of the RAW stamp: sanitization alone would collide distinct
    app ids ('job/a' vs 'job_a')."""
    import hashlib
    import re

    return (
        "append-"
        + re.sub(r"[^A-Za-z0-9_.-]", "_", stamp)
        + "-"
        + hashlib.sha256(stamp.encode()).hexdigest()[:8]
        + ".parquet"
    )


def _write_append_stats(
    uri: str,
    stats: dict[int, tuple[int, float]],
    stamp: Optional[str] = None,
) -> None:
    """Each append writes its OWN immutable stats file (log-structured),
    so two concurrent appends both land — no read-modify-write window on
    a shared file for last-write-wins to drop (:func:`_read_cell_stats`
    merges all files on read). Default name: uuid+pid, collision-free
    across processes. ``stamp`` (from a streaming epoch's txn identity)
    makes the write IDEMPOTENT instead: a crash-replayed epoch rewrites
    the same file with the same content rather than double-counting."""
    import uuid

    path = os.path.join(uri.rstrip("/"), _STATS_DIR_REL)
    os.makedirs(path, exist_ok=True)
    if stamp is not None:
        name = _stamped_stats_name(stamp)
    else:
        name = f"append-{uuid.uuid4().hex}-{os.getpid()}.parquet"
    _write_stats_file(os.path.join(path, name), stats)


def _read_stats_file(path: str) -> dict[int, tuple[int, float]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return {
        int(c): (int(n), float(s))
        for c, n, s in zip(
            t["cell"].to_pylist(),
            t["n"].to_pylist(),
            t["sum_res"].to_pylist(),
        )
    }


def _read_cell_stats(uri: str) -> dict[int, tuple[int, float, int, float]]:
    """{cell: (base_n, base_sum_res, appended_n, appended_sum_res)} —
    base.parquet + the sum of every append-*.parquet. Falls back to the
    pre-r6 single-file layout (cell_stats.parquet) for old indexes."""
    stats_dir = os.path.join(uri.rstrip("/"), _STATS_DIR_REL)
    base_path = os.path.join(stats_dir, "base.parquet")
    legacy = os.path.join(uri.rstrip("/"), _STATS_REL)
    if os.path.exists(base_path):
        merged = {
            c: (n, s, 0, 0.0) for c, (n, s) in _read_stats_file(base_path).items()
        }
    elif os.path.exists(legacy):
        # pre-r6 single-file layout: its accumulated app_* columns are
        # the baseline; new-style append files still merge on top
        import pyarrow.parquet as pq

        t = pq.read_table(legacy)
        merged = {
            int(c): (int(bn), float(br), int(an), float(ar))
            for c, bn, br, an, ar in zip(
                t["cell"].to_pylist(),
                t["base_n"].to_pylist(),
                t["base_sum_res"].to_pylist(),
                t["app_n"].to_pylist(),
                t["app_sum_res"].to_pylist(),
            )
        }
    else:
        raise FileNotFoundError(
            f"no cell_stats under {stats_dir}; index predates drift "
            f"accounting — rebuild with build_ann_index to enable "
            f"index_health()"
        )
    if os.path.isdir(stats_dir):
        for name in sorted(os.listdir(stats_dir)):
            if not (name.startswith("append-") and name.endswith(".parquet")):
                continue
            for c, (n, s) in _read_stats_file(
                os.path.join(stats_dir, name)
            ).items():
                bn, br, an, ar = merged.get(c, (0, 0.0, 0, 0.0))
                merged[c] = (bn, br, an + n, ar + s)
    return merged


def build_ann_index(
    spark: SparkSession,
    df: DataFrame,
    uri: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    iterations: int = 8,
    sample_size: Optional[int] = 4096,
    pq_m: Optional[int] = None,
    pq_ksub: int = 256,
    pq_iterations: int = 8,
) -> IVFIndex:
    """Fit IVF centroids (sampled, deterministic), assign the corpus,
    and write the (id, vector, cell) table partitioned by cell.
    Also records per-cell baseline stats (count, residual mass) under
    ``_ann_index/`` so appends can be drift-audited by
    :func:`index_health`. Returns the fitted index (also persisted for
    :func:`load_ann_index`).

    ``pq_m``: also fit an m-subspace product quantizer and store each
    row's 1-byte-per-subspace ``codes`` column in the table — the FAISS
    IVF-PQ layout as a lakehouse table. A :func:`query_ann_index_pq`
    search then reads nprobe pruned cells × only the (id, codes)
    columns; at 100 TB the two reductions (partition pruning × column
    pruning to 8-byte codes instead of the 4·d-byte vector) compose
    multiplicatively. Codebooks persist beside the centroids so appends
    encode with the SAME geometry."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..tables.delta_writer import write_delta

    uri = uri.rstrip("/")
    index = IVFIndex.fit(
        df,
        vec_col=vec_col,
        id_col=id_col,
        k=nlist,
        iterations=iterations,
        sample_size=sample_size,
    )
    assigned = index.assign(
        df, vec_col=vec_col, id_col=id_col, nprobe=1, with_sim=True
    )
    quantizer = None
    if pq_m is not None:
        from .pq import ProductQuantizer

        quantizer = ProductQuantizer.fit(
            df,
            vec_col=vec_col,
            id_col=id_col,
            m=pq_m,
            ksub=pq_ksub,
            iterations=pq_iterations,
            sample_size=sample_size,
        )
        assigned = assigned.join(
            quantizer.encode(df, vec_col=vec_col, id_col=id_col), id_col
        )
    assigned = assigned.persist()  # feeds the write AND the stats agg
    try:
        return _finish_build(
            spark, assigned, uri, index, nlist, quantizer
        )
    finally:
        assigned.unpersist()


def _finish_build(spark, assigned, uri, index, nlist, quantizer=None):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..tables.delta_writer import write_delta

    write_delta(assigned.drop("__sim"), uri, partition_by=["cell"])
    cpath = os.path.join(uri, _CENTROID_REL)
    os.makedirs(os.path.dirname(cpath), exist_ok=True)
    cents = np.asarray(index.centroids, dtype=np.float64)
    pq.write_table(
        pa.table(
            {
                "cell": pa.array(range(len(cents)), pa.int32()),
                "centroid": pa.array(
                    [list(map(float, c)) for c in cents],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        cpath,
    )
    if quantizer is not None:
        _write_pq_codebooks(uri, quantizer)
    base = _aggregate_cell_stats(assigned)
    _write_base_stats(
        uri, {cell: base.get(cell, (0, 0.0)) for cell in range(nlist)}
    )
    return index


def _write_pq_codebooks(uri: str, quantizer) -> None:
    """Persist the (m, ksub, dsub) codebooks flattened to one row per
    (subspace, code) — tiny (m × ksub rows), read back whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    books = quantizer.codebooks
    m, ksub, _ = books.shape
    path = os.path.join(uri.rstrip("/"), _PQ_REL)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "subspace": pa.array(
                    [j for j in range(m) for _ in range(ksub)], pa.int32()
                ),
                "code": pa.array(
                    [c for _ in range(m) for c in range(ksub)], pa.int32()
                ),
                "centroid": pa.array(
                    [
                        list(map(float, books[j, c]))
                        for j in range(m)
                        for c in range(ksub)
                    ],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        path,
    )


def load_pq(uri: str):
    """Rehydrate the stored PQ codebooks, or ``None`` for a plain IVF
    index (built without ``pq_m``)."""
    import numpy as np
    import pyarrow.parquet as pq

    from .pq import ProductQuantizer

    path = os.path.join(uri.rstrip("/"), _PQ_REL)
    if not os.path.exists(path):
        return None
    t = pq.read_table(path)
    rows = sorted(
        zip(
            t["subspace"].to_pylist(),
            t["code"].to_pylist(),
            t["centroid"].to_pylist(),
        )
    )
    m = rows[-1][0] + 1
    ksub = rows[-1][1] + 1
    dsub = len(rows[0][2])
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j, c, cent in rows:
        books[j, c] = cent
    return ProductQuantizer(books)


def load_ann_index(uri: str) -> IVFIndex:
    """Rehydrate the stored centroids into an :class:`IVFIndex`."""
    import numpy as np
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(uri.rstrip("/"), _CENTROID_REL))
    rows = sorted(
        zip(table["cell"].to_pylist(), table["centroid"].to_pylist())
    )
    return IVFIndex(np.array([c for _, c in rows], dtype=np.float64))


def append_to_ann_index(
    spark: SparkSession,
    df: DataFrame,
    uri: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
) -> int:
    """Add new vectors: assign with the STORED centroids (the index's
    geometry must not drift under appends) and append to the table.
    Per-cell appended counts + residual mass accumulate in the stats
    sidecar so :func:`index_health` can flag silent recall decay.

    ``txn_app_id``/``txn_version``: thread the idempotent-writer ledger
    through the Delta append AND stamp the stats file by the same
    identity, so a crash-replayed streaming epoch neither duplicates
    rows nor double-counts drift statistics. A replayed epoch is
    detected against the table's SetTransaction ledger BEFORE any work:
    neither the Delta write nor the stats file runs, so stats can never
    record rows the ledger refused."""
    from ..tables.delta_log import DeltaLog
    from ..tables.delta_writer import _idempotent_txn, write_delta

    _check_rebuild_lock(uri)
    snap = DeltaLog(uri).snapshot() if txn_app_id is not None else None
    if _idempotent_txn(snap, txn_app_id, txn_version)[1]:
        # Replayed epoch: the Delta rows are already committed. But
        # a crash BETWEEN that commit and the stats write would have
        # lost this epoch's drift stats forever (the early return
        # would skip the very file designed to survive replays) —
        # so if accounting is enabled and the stamped file is
        # missing, recompute the batch stats and write it now. The
        # deterministic name makes this an idempotent overwrite.
        stats_enabled = os.path.exists(
            os.path.join(uri.rstrip("/"), _STATS_DIR_REL, "base.parquet")
        ) or os.path.exists(os.path.join(uri.rstrip("/"), _STATS_REL))
        stamp = f"{txn_app_id}-{txn_version}"
        stamped = os.path.join(
            uri.rstrip("/"), _STATS_DIR_REL, _stamped_stats_name(stamp)
        )
        # ... UNLESS the epoch predates the current generation: a
        # rebuild trained on those rows (they ARE the new base) and
        # reset the stats dir, so the stamped file is missing by
        # design — backfilling against the NEW centroids would
        # double-count the rows and push index_health toward a
        # spurious rebuild.
        if txn_version <= _generation_ledger(uri).get(txn_app_id, -1):
            return snap.version
        if stats_enabled and not os.path.exists(stamped):
            replay_index = load_ann_index(uri)
            replay_assigned = replay_index.assign(
                df, vec_col=vec_col, id_col=id_col, nprobe=1,
                with_sim=True,
            )
            _write_append_stats(
                uri, _aggregate_cell_stats(replay_assigned), stamp=stamp
            )
        return snap.version  # replayed epoch: Delta write is a no-op

    index = load_ann_index(uri)
    assigned = index.assign(
        df, vec_col=vec_col, id_col=id_col, nprobe=1, with_sim=True
    )
    quantizer = load_pq(uri)
    if quantizer is not None:  # IVF-PQ table: encode with STORED books
        assigned = assigned.join(
            quantizer.encode(df, vec_col=vec_col, id_col=id_col), id_col
        )
    txn = (
        {"txn_app_id": txn_app_id, "txn_version": txn_version}
        if txn_app_id is not None
        else {}
    )
    assigned = assigned.persist()  # one pass feeds the write AND stats
    try:
        version = write_delta(
            assigned.drop("__sim"), uri, partition_by=["cell"],
            **txn,
        )
        # existence probe only — never read/merge the stats files here
        # (that would be O(appends) parquet reads per append)
        if not (
            os.path.exists(
                os.path.join(uri.rstrip("/"), _STATS_DIR_REL, "base.parquet")
            )
            or os.path.exists(os.path.join(uri.rstrip("/"), _STATS_REL))
        ):
            return version  # pre-accounting index: readable, no audit
        batch = _aggregate_cell_stats(assigned)
    finally:
        assigned.unpersist()
    # log-structured: this append's stats land in their OWN file, merged
    # on read — two concurrent appends both count (no last-write-wins);
    # under a txn identity the file name is deterministic so a replayed
    # epoch overwrites its own stats instead of adding a second copy
    _write_append_stats(
        uri,
        batch,
        stamp=(
            f"{txn_app_id}-{txn_version}" if txn_app_id is not None else None
        ),
    )
    return version


def index_health(
    uri: str,
    residual_ratio_threshold: float = 1.5,
    appended_fraction_threshold: float = 0.5,
    new_cell_mass_threshold: float = 0.5,
) -> dict:
    """Drift audit of a persisted ANN index — answers "has the appended
    data shifted away from the fitted centroids enough to decay
    recall?" without touching the vectors (reads only the k-row stats
    sidecar maintained by build/append).

    Signals:
    - ``appended_fraction``: share of the corpus assigned with stored
      (not refit) centroids. High → centroids describe a minority.
    - ``residual_ratio``: mean (1 - cosine-to-centroid) of appended
      rows over the baseline's. >1 → new vectors sit systematically
      farther from every centroid (distribution shift).
    - ``max_new_cell_mass``: largest single-cell share of the appended
      mass. ~1 → appends pile into one Voronoi cell (hot partition and
      a useless coarse quantizer for the new data).

    ``rebuild_recommended`` is True when any signal crosses its
    threshold; ``reasons`` names the ones that fired."""
    stats = _read_cell_stats(uri)
    base_n = sum(v[0] for v in stats.values())
    base_res = sum(v[1] for v in stats.values())
    app_n = sum(v[2] for v in stats.values())
    app_res = sum(v[3] for v in stats.values())

    appended_fraction = app_n / max(base_n + app_n, 1)
    base_mean = base_res / base_n if base_n else 0.0
    app_mean = app_res / app_n if app_n else 0.0
    residual_ratio = (
        app_mean / base_mean if base_n and app_n and base_mean > 0 else 1.0
    )
    max_new_cell_mass = (
        max(v[2] for v in stats.values()) / app_n if app_n else 0.0
    )

    reasons = []
    if appended_fraction > appended_fraction_threshold:
        reasons.append(
            f"appended_fraction {appended_fraction:.2f} > "
            f"{appended_fraction_threshold}"
        )
    if residual_ratio > residual_ratio_threshold:
        reasons.append(
            f"residual_ratio {residual_ratio:.2f} > "
            f"{residual_ratio_threshold}"
        )
    if app_n and max_new_cell_mass > new_cell_mass_threshold:
        reasons.append(
            f"max_new_cell_mass {max_new_cell_mass:.2f} > "
            f"{new_cell_mass_threshold}"
        )
    return {
        "base_n": base_n,
        "appended_n": app_n,
        "appended_fraction": round(appended_fraction, 6),
        "base_mean_residual": round(base_mean, 6),
        "appended_mean_residual": round(app_mean, 6),
        "residual_ratio": round(residual_ratio, 6),
        "max_new_cell_mass": round(max_new_cell_mass, 6),
        "rebuild_recommended": bool(reasons),
        "reasons": reasons,
    }


def _pruned_candidates(
    spark: SparkSession,
    uri: str,
    query_vec: Sequence[float],
    nprobe: int,
    columns: list[str],
) -> DataFrame:
    """Partition-pruned candidate scan shared by every index query:
    resolve the nprobe nearest cells driver-side (nprobe × d matmul on
    the stored centroids) and read ONLY those cell partitions through
    the Delta table's partition pruning."""
    from ..tables.delta_table import DeltalakeTable

    index = load_ann_index(uri)
    cells = index.probe_cells(list(query_vec), nprobe)
    table = DeltalakeTable(os.path.basename(uri.rstrip("/")), uri)
    return table(
        filters=[Filter("cell", "in", cells)],
        columns=columns,
        spark=spark,
    )


def query_ann_index(
    spark: SparkSession,
    uri: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine over the nprobe-pruned candidate partitions,
    exact re-rank inside (see :func:`_pruned_candidates`)."""
    candidates = _pruned_candidates(
        spark, uri, query_vec, nprobe, [id_col, vec_col]
    )
    return knn_brute_force(
        candidates, list(query_vec), k, vec_col, id_col
    )


def query_ann_index_radius(
    spark: SparkSession,
    uri: str,
    query_vec: Sequence[float],
    threshold: float = 0.8,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """RANGE search over the persisted index: every indexed vector with
    cosine ≥ threshold (FAISS range_search over the IVF layout). Same
    partition-pruned plan as :func:`query_ann_index` but the result set
    is data-dependent instead of top-k — the shape near-dup sweeps want
    ("everything this similar to the probe"). Recall is bounded by the
    nprobe cells, exactly like top-k; pass ``nprobe = nlist`` for
    exhaustive (exact) range search."""
    from .similarity import radius_search

    candidates = _pruned_candidates(
        spark, uri, query_vec, nprobe, [id_col, vec_col]
    )
    return radius_search(
        candidates, list(query_vec), threshold, vec_col, id_col
    )


def query_ann_index_pq(
    spark: SparkSession,
    uri: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ search over a persisted index (built with ``pq_m``): the
    production 100 TB serving shape. Three multiplicative reductions:

    1. **Partition pruning** — nprobe nearest cells resolved driver-side
       from the stored centroids; only those cell directories are read.
    2. **Column pruning** — the ADC scan reads ONLY (id, codes): 8-byte
       codes instead of the 4·d-byte vector (32× less I/O at d=64).
    3. **Exact refine** — the raw vector column is read for the top
       ``k × refine`` ADC survivors only, inside the same pruned cells,
       then re-ranked by exact cosine.
    """
    from ..tables.delta_table import DeltalakeTable

    index = load_ann_index(uri)
    quantizer = load_pq(uri)
    if quantizer is None:
        raise ValueError(
            f"index at {uri} has no PQ codebooks — build with pq_m= to "
            f"enable query_ann_index_pq (or use query_ann_index)"
        )
    qv = [float(x) for x in query_vec]
    cells = index.probe_cells(qv, nprobe)
    table = DeltalakeTable(os.path.basename(uri.rstrip("/")), uri)
    cell_filter = [Filter("cell", "in", cells)]
    codes = table(filters=cell_filter, columns=[id_col, "codes"], spark=spark)
    vectors = table(
        filters=cell_filter, columns=[id_col, vec_col], spark=spark
    )
    # the ADC → top-(k·refine) → exact-refine pipeline is PQ's search;
    # passing the stored codes skips re-encoding, and both frames carry
    # the same pruned-cell filter
    return quantizer.search(
        vectors, qv, k=k, refine=refine, vec_col=vec_col,
        id_col=id_col, codes=codes,
    )


def rebuild_ann_index(
    spark: SparkSession,
    uri: str,
    iterations: int = 8,
    sample_size: Optional[int] = 4096,
    pq_iterations: int = 8,
    keep_previous: bool = False,
) -> dict:
    """Re-train the index from the CURRENT table rows and swap in the
    new generation — the remedy :func:`index_health` recommends once
    appended mass has drifted from the original centroids.

    Geometry (nlist, PQ m/ksub, column names) is inferred from the
    existing index so the rebuilt generation is a drop-in: same query
    API, same schema, fresh centroids/codebooks fitted over base +
    appended rows, and a reset stats baseline (the whole current corpus
    becomes ``base``; health returns green until new appends drift).

    Generation swap: the new index is built in a sibling directory
    (``<uri>.rebuild-<pid>``, same filesystem), then two directory
    renames swap it in. The gap between the renames is not atomic — a
    reader racing the swap can transiently miss the path; run rebuilds
    from the maintenance window that also owns appends. Two enforced
    guards back the convention: a ``rebuild.lock`` file is taken for
    the duration (``append_to_ann_index`` refuses while it is present,
    so an append can't land rows the swap would drop), and the table
    version is re-checked TWICE — immediately before the swap, and
    again after the first rename (reading the log now at ``prev``).
    The first check catches a writer that predates the lock and
    committed mid-rebuild; the second closes the check-then-act window
    between the first check and the rename (a commit after the rename
    fails outright — the directory is gone), rolling the rename back
    and aborting instead of silently dropping the commit. A crash
    between
    the renames leaves ``<uri>.prev-<pid>`` holding the intact old
    generation — rename it back to recover (the lock travels with it;
    remove it after the rename-back).

    Returns {rows, nlist, pq_m, previous} (``previous`` is the retained
    old-generation path when ``keep_previous``, else None).
    """
    import shutil

    from pyspark.sql import types as T

    from ..tables.delta_table import DeltalakeTable

    from ..tables.delta_log import DeltaLog, invalidate_snapshot_cache

    uri = uri.rstrip("/")
    old_index = load_ann_index(uri)
    nlist = len(old_index.centroids)
    old_pq = load_pq(uri)
    lock = os.path.join(uri, _REBUILD_LOCK_REL)
    try:
        # O_EXCL: two concurrent rebuilds can't both hold the lock
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"rebuild lock already held at {lock} — another rebuild is "
            f"running, or a crashed one left it behind (remove the file "
            f"after confirming no rebuild process is alive)"
        ) from None
    os.write(fd, f"pid={os.getpid()}\n".encode())
    os.close(fd)
    tmp = f"{uri}.rebuild-{os.getpid()}"
    try:
        # the streaming appenders' exactly-once ledger must survive the
        # generation swap: the rebuilt table's fresh log would otherwise
        # forget every (app, epoch) and a crash-replayed epoch — whose
        # rows the rebuild already trained on — would land a second time
        invalidate_snapshot_cache(uri)
        start_snap = DeltaLog(uri).snapshot()
        old_txns = dict(start_snap.app_transactions)
        table = DeltalakeTable(os.path.basename(uri), uri)(spark=spark)
        vec_col = id_col = None
        for f in table.schema.fields:
            if f.name in ("cell", "codes"):
                continue
            if isinstance(f.dataType, T.ArrayType):
                vec_col = f.name
            else:
                id_col = f.name
        if vec_col is None or id_col is None:
            raise ValueError(
                f"cannot infer (id, vector) columns from index schema "
                f"{table.schema.simpleString()}"
            )
        rows = table.select(id_col, vec_col)
        n = rows.count()
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        build_ann_index(
            spark,
            rows,
            tmp,
            vec_col=vec_col,
            id_col=id_col,
            nlist=nlist,
            iterations=iterations,
            sample_size=sample_size,
            pq_m=(old_pq.codebooks.shape[0] if old_pq is not None else None),
            pq_ksub=(
                old_pq.codebooks.shape[1] if old_pq is not None else 256
            ),
            pq_iterations=pq_iterations,
        )
        if old_txns:
            from ..tables.delta_writer import carry_transactions

            carry_transactions(tmp, old_txns)
        # epochs at/below these versions are IN the new base — the
        # replay-stats backfill must skip them (see _generation_ledger)
        _write_generation_marker(tmp, old_txns)
        # final guard: a writer that predates the lock (or ignored it)
        # may have committed while we trained — swapping now would drop
        # that commit. Abort loudly; the old generation stays serving.
        invalidate_snapshot_cache(uri)
        end_version = DeltaLog(uri).snapshot().version
        if end_version != start_snap.version:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"table at {uri} advanced during rebuild (version "
                f"{start_snap.version} -> {end_version}); aborting the "
                f"generation swap — re-run the rebuild from a quiesced "
                f"maintenance window"
            )
        prev = f"{uri}.prev-{os.getpid()}"
        if os.path.exists(prev):
            shutil.rmtree(prev)
        os.rename(uri, prev)
        # the guard above is check-then-act: an append that passed the
        # lock check just before the lock was taken can commit in the
        # window between the end_version re-check and the rename. The
        # rename itself closes the window going forward (a commit after
        # it fails — the directory is gone), so re-reading the version
        # of the log now sitting at `prev` catches exactly the straggler
        # commit; roll the rename back and abort rather than silently
        # dropping it.
        invalidate_snapshot_cache(prev)
        post_version = DeltaLog(prev).snapshot().version
        if post_version != start_snap.version:
            os.rename(prev, uri)
            # the success-path invalidation loop below never runs when
            # this raise propagates, and the snapshot memoized for `uri`
            # at the end_version check predates the straggler commit —
            # drop it now or a later DeltaLog(uri) read in this process
            # serves a stale snapshot missing exactly that commit
            invalidate_snapshot_cache(uri)
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"table at {uri} advanced during the generation swap "
                f"(version {start_snap.version} -> {post_version}); the "
                f"swap was rolled back — re-run the rebuild from a "
                f"quiesced maintenance window"
            )
        os.rename(tmp, uri)
    finally:
        # on success the lock moved into prev with the old generation;
        # on failure it is still under uri — clear both locations
        for moved_lock in (
            lock,
            os.path.join(f"{uri}.prev-{os.getpid()}", _REBUILD_LOCK_REL),
        ):
            if os.path.exists(moved_lock):
                os.remove(moved_lock)
    if not keep_previous:
        shutil.rmtree(prev)
        prev = None
    # the swap replaced the table under its own path: drop memoized
    # snapshots for every path that just changed identity
    for moved in (uri, tmp, prev):
        if moved:
            invalidate_snapshot_cache(moved)
    return {
        "rows": n,
        "nlist": nlist,
        "pq_m": old_pq.codebooks.shape[0] if old_pq is not None else None,
        "previous": prev,
    }


def maybe_rebuild_ann_index(
    spark: SparkSession,
    uri: str,
    residual_ratio_threshold: float = 1.5,
    appended_fraction_threshold: float = 0.5,
    new_cell_mass_threshold: float = 0.5,
    **rebuild_kwargs,
) -> dict:
    """Policy helper closing the drift loop: audit with
    :func:`index_health`; when it recommends a rebuild, run
    :func:`rebuild_ann_index` and re-audit. Returns
    {rebuilt, health_before, health_after, rebuild} — ``health_after``
    / ``rebuild`` are None when nothing fired. The scheduled-maintenance
    entry point: call it after each append window."""
    before = index_health(
        uri,
        residual_ratio_threshold=residual_ratio_threshold,
        appended_fraction_threshold=appended_fraction_threshold,
        new_cell_mass_threshold=new_cell_mass_threshold,
    )
    if not before["rebuild_recommended"]:
        return {
            "rebuilt": False,
            "health_before": before,
            "health_after": None,
            "rebuild": None,
        }
    result = rebuild_ann_index(spark, uri, **rebuild_kwargs)
    after = index_health(
        uri,
        residual_ratio_threshold=residual_ratio_threshold,
        appended_fraction_threshold=appended_fraction_threshold,
        new_cell_mass_threshold=new_cell_mass_threshold,
    )
    return {
        "rebuilt": True,
        "health_before": before,
        "health_after": after,
        "rebuild": result,
    }


def optimize_ann_index(
    spark: SparkSession,
    uri: str,
    cells: Optional[Sequence[int]] = None,
    min_files_per_cell: int = 2,
) -> dict:
    """Bin-pack each cell's append-created small files (every
    :func:`append_to_ann_index` lands one file set per touched cell; a
    daily-append index accumulates hundreds of files per cell, and the
    nprobe-cell query pays one scan task per file). One compacted file
    per cell restores the one-task-per-probed-cell floor. ``cells``
    scopes the pass (maintenance after appends only touches the cells
    that grew); the commit is ``dataChange: false`` so concurrent
    readers and streams see nothing. Centroid/PQ/stats sidecars are
    untouched — compaction moves bytes, never geometry or counts."""
    from ..tables.delta_writer import compact

    where = [Filter("cell", "in", list(cells))] if cells is not None else None
    return compact(
        spark, uri, min_files_per_partition=min_files_per_cell, where=where
    )
