"""Oracle-gated Delta Lake scan queries (VERDICT r01 item 2).

The Delta path (reference ``deltalake_table.py:68-300``) previously had
pytest coverage only. These queries give it the same hard DuckDB gate as
everything else: build a small Delta table from the sf directory's
``orders`` parquet via :mod:`datarepo_spark.tables.delta_writer` — two
commits, so log replay reconciles add AND remove actions — then read it
back through :class:`DeltalakeTable` with filters + projection +
``unique_columns`` widening + ``extra_cols`` + time travel. The oracle is
plain SQL over the *source* parquet, because the Delta table's expected
content is a pure function of it:

  version 0  orders with o_orderkey <= 2000 (partitioned by o_orderstatus)
  version 1  overwrite: same rows minus o_orderstatus = 'F'
             (remove actions for every v0 file + fresh adds)

So: latest-version reads see v1's rows, ``version=0`` reads see v0's —
both expressible as WHERE clauses on ``orders``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.filters import Filter
from ..core.tmp import session_tmp
from ..tables.delta_table import DeltalakeTable
from ..tables.delta_writer import write_delta
from .registry import load, register

_BUILT: dict[str, str] = {}


def _delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the two-commit Delta table."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT and os.path.isdir(
        os.path.join(_BUILT[key], "_delta_log")
    ):
        return _BUILT[key]
    base = session_tmp("datarepo_delta_gate_")
    uri = os.path.join(base, "orders_delta")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    v0 = write_delta(src, uri, mode="append", partition_by=["o_orderstatus"])
    v1 = write_delta(
        src.filter(F.col("o_orderstatus") != "F"),
        uri,
        mode="overwrite",
        partition_by=["o_orderstatus"],
    )
    assert (v0, v1) == (0, 1), f"unexpected delta versions {(v0, v1)}"
    _BUILT[key] = uri
    return uri


def _orders_delta_table(uri: str) -> DeltalakeTable:
    return DeltalakeTable(
        name="orders_delta",
        uri=uri,
        unique_columns=["o_orderkey"],
        extra_cols=[
            (
                "price_bucket",
                F.floor(F.col("o_totalprice") / 10000).cast("long"),
            )
        ],
    )


@register(
    "delta_roundtrip",
    oracle="""
    SELECT o_custkey,
           o_totalprice,
           CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS price_bucket
    FROM orders
    WHERE o_orderkey <= 2000
      AND o_orderstatus = 'O'
      AND o_totalprice > 50000
    """,
    description="Delta write→log replay→read: partition prune + residual "
    "filter + unique-column widening + computed column",
)
def delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _delta_fixture(spark, sf_dir)
    table = _orders_delta_table(uri)
    # Partition filter prunes to the o_orderstatus=O files driver-side;
    # the o_totalprice predicate is re-applied at row level. Projection
    # omits the unique column → read-set widening kicks in, then trims.
    return table(
        filters=[
            Filter("o_orderstatus", "=", "O"),
            Filter("o_totalprice", ">", 50000.0),
        ],
        columns=["o_custkey", "o_totalprice", "price_bucket"],
        spark=spark,
    )


@register(
    "delta_time_travel",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 2000
      AND o_orderstatus = 'F'
      AND o_totalprice > 100000
    """,
    description="Delta versionAsOf=0: 'F' rows exist only before the "
    "overwrite commit — proves add/remove log replay at a version",
)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _delta_fixture(spark, sf_dir)
    table = _orders_delta_table(uri)
    return table(
        filters=[
            Filter("o_orderstatus", "=", "F"),
            Filter("o_totalprice", ">", 100000.0),
        ],
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        version=0,
        spark=spark,
    )


_BUILT_MAINT: dict[str, str] = {}


def _maintenance_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Delta table exercising the round-4 maintenance surface: three
    idempotent micro-batch appends (epochs 0/1/2 via SetTransaction,
    epoch 1 deliberately REPLAYED — the skip is what keeps the count
    right), then OPTIMIZE-style compaction, then VACUUM of the
    superseded files. Expected content is a pure function of the source
    parquet, so plain SQL is the oracle."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_MAINT and os.path.isdir(
        os.path.join(_BUILT_MAINT[key], "_delta_log")
    ):
        return _BUILT_MAINT[key]
    from ..tables.delta_writer import compact, vacuum

    base = session_tmp("datarepo_delta_maint_")
    uri = os.path.join(base, "orders_maint")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    thirds = [
        src.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
    ]
    for epoch, part in enumerate(thirds):
        write_delta(part, uri, txn_app_id="ingest", txn_version=epoch)
    # failure replay of epoch 1: must be a no-op
    write_delta(thirds[1], uri, txn_app_id="ingest", txn_version=1)
    stats = compact(spark, uri)
    assert stats["files_added"] >= 1 and stats["files_removed"] >= 3
    removed = vacuum(uri)
    assert len(removed) == stats["files_removed"]
    _BUILT_MAINT[key] = uri
    return uri


@register(
    "delta_maintenance_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 1500
    """,
    description="Delta maintenance: idempotent SetTransaction appends "
    "(epoch replay skipped) -> compaction (dataChange:false rewrite) -> "
    "vacuum; content must equal the source exactly",
)
def delta_maintenance_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    uri = _maintenance_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_maint", uri=uri)
    return table(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


_BUILT_MERGE: dict[str, str] = {}


def _merge_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Delta table exercising the round-4 DML surface: seed with orders
    keys ≤ 1200 (range-clustered so MERGE's copy-on-write has distinct
    file key-ranges to leave untouched), UPSERT a source that doubles
    the price for keys ≥ 600 and inserts keys 1201–1800, then OPTIMIZE
    ZORDER BY (o_orderkey, o_totalprice). Every step preserves
    content-as-a-function-of-`orders`, so plain SQL is the oracle; the
    zordered layout additionally makes the gated filtered read go
    through stats-envelope file skipping."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_MERGE and os.path.isdir(
        os.path.join(_BUILT_MERGE[key], "_delta_log")
    ):
        return _BUILT_MERGE[key]
    from ..tables.delta_writer import merge_delta, zorder_by

    base = session_tmp("datarepo_delta_merge_")
    uri = os.path.join(base, "orders_merge")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    src_all = load(spark, sf_dir, "orders").select(*cols)
    seed = src_all.filter(F.col("o_orderkey") <= 1200)
    write_delta(seed.repartitionByRange(4, "o_orderkey"), uri)
    updates = (
        src_all.filter(
            (F.col("o_orderkey") >= 600) & (F.col("o_orderkey") <= 1800)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    res = merge_delta(spark, uri, updates, on=["o_orderkey"])
    # keys 600-1200 live in the upper range files only — the lower
    # file(s) must not have been rewritten
    assert 0 < res["files_rewritten"] < 4, res
    zres = zorder_by(spark, uri, ["o_orderkey", "o_totalprice"])
    assert zres["files_added"] >= 1
    _BUILT_MERGE[key] = uri
    return uri


@register(
    "delta_merge_upsert",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey >= 600 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 1800
    """,
    description="MERGE INTO upsert: doubled prices for matched keys, "
    "inserted rows for new keys, untouched files preserved byte-for-"
    "byte; read back after OPTIMIZE ZORDER BY",
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _merge_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_merge", uri=uri)
    return table(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


@register(
    "delta_zorder_skip",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey >= 600 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 1800 AND o_orderkey BETWEEN 200 AND 400
      AND (CASE WHEN o_orderkey >= 600 THEN o_totalprice * 2
                ELSE o_totalprice END) > 50000
    """,
    description="filtered read of the zordered merge table: the "
    "o_orderkey band prunes files via add.stats envelopes, rows "
    "re-filtered post-scan — results must be exact under skipping",
)
def delta_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _merge_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_merge", uri=uri)
    return table(
        filters=[
            Filter("o_orderkey", ">=", 200),
            Filter("o_orderkey", "<=", 400),
            Filter("o_totalprice", ">", 50000.0),
        ],
        columns=["o_orderkey", "o_totalprice"],
        spark=spark,
    )


_BUILT_DV: dict[str, str] = {}


def _dv_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Delta table with a deletion vector: orders keys ≤ 1200 written as
    ONE file in o_orderkey order, then a DV (portocol byte format via
    delta_dv) soft-deleting every 7th row. Row position == orderkey rank
    by construction, so the expected content is pure SQL over orders."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_DV and os.path.isdir(
        os.path.join(_BUILT_DV[key], "_delta_log")
    ):
        return _BUILT_DV[key]
    import json as _json

    from ..tables.delta_dv import write_dv_file
    from ..tables.delta_log import DeltaLog
    from ..tables.delta_writer import _commit_atomically

    base = session_tmp("datarepo_delta_dv_")
    uri = os.path.join(base, "orders_dv")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .coalesce(1)
        .sortWithinPartitions("o_orderkey")
    )
    write_delta(src, uri)
    snap = DeltaLog(uri).snapshot()
    (add,) = snap.files
    n_rows = _json.loads(add.stats)["numRecords"]
    descriptor, _path = write_dv_file(uri, range(0, n_rows, 7))
    _commit_atomically(
        uri,
        [
            {
                "add": {
                    "path": add.path,
                    "partitionValues": {},
                    "size": add.size,
                    "modificationTime": 0,
                    "dataChange": False,
                    "stats": add.stats,
                    "deletionVector": descriptor,
                }
            }
        ],
        snapshot=snap,
    )
    _BUILT_DV[key] = uri
    return uri


@register(
    "delta_dv_read",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      FROM orders WHERE o_orderkey <= 1200
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM ranked WHERE pos % 7 <> 0
    """,
    description="deletion-vector read: every 7th row of the ordered "
    "file is soft-deleted via a protocol-format roaring DV; the scan's "
    "row_index anti-join must drop exactly those rows",
)
def delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _dv_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_dv", uri=uri)
    return table(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


_BUILT_DVDEL: dict[str, str] = {}


def _dv_delete_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Delta table exercising the DELETE-via-deletion-vectors write path:
    seed with orders keys ≤ 1200 (several files), then two successive
    ``delete_delta`` calls — the second merges its positions into the
    first delete's DV for any co-affected file. Content stays a pure
    function of the source parquet, so plain SQL is the oracle."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_DVDEL and os.path.isdir(
        os.path.join(_BUILT_DVDEL[key], "_delta_log")
    ):
        return _BUILT_DVDEL[key]
    from ..tables.delta_writer import delete_delta

    base = session_tmp("datarepo_delta_dvdel_")
    uri = os.path.join(base, "orders_dvdel")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_delta(src.repartitionByRange(3, "o_orderkey"), uri)
    r1 = delete_delta(
        spark, uri, [Filter("o_totalprice", ">", 150000.0)]
    )
    r2 = delete_delta(spark, uri, [Filter("o_orderstatus", "=", "P")])
    assert r1["rows_deleted"] > 0 and r2["rows_deleted"] > 0, (r1, r2)
    _BUILT_DVDEL[key] = uri
    return uri


@register(
    "delta_dv_delete",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 1200
      AND NOT (o_totalprice > 150000)
      AND NOT (o_orderstatus = 'P')
    """,
    description="DELETE via deletion vectors (write path): two "
    "successive predicate deletes land as protocol-format roaring DVs "
    "(second merges into the first); no data file is rewritten and the "
    "read-back must drop exactly the matched rows",
)
def delta_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _dv_delete_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_dvdel", uri=uri)
    return table(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


_BUILT_UPD: dict[str, str] = {}


def _update_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Table exercising UPDATE-via-DV+append: seed with orders keys
    ≤ 1200, then UPDATE SET o_totalprice = o_totalprice * 2,
    o_orderstatus = 'U' WHERE o_totalprice > 150000. Content stays a
    pure function of the source parquet."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_UPD and os.path.isdir(
        os.path.join(_BUILT_UPD[key], "_delta_log")
    ):
        return _BUILT_UPD[key]
    from ..tables.delta_writer import update_delta

    base = session_tmp("datarepo_delta_upd_")
    uri = os.path.join(base, "orders_upd")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_delta(src.repartitionByRange(3, "o_orderkey"), uri)
    res = update_delta(
        spark, uri,
        [Filter("o_totalprice", ">", 150000.0)],
        {
            "o_totalprice": F.col("o_totalprice") * 2,
            "o_orderstatus": F.lit("U"),
        },
    )
    assert res["rows_updated"] > 0 and res["files_added"] >= 1, res
    _BUILT_UPD[key] = uri
    return uri


@register(
    "delta_update_set",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 150000 THEN 'U'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_totalprice > 150000 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 1200
    """,
    description="UPDATE ... SET via deletion vectors + append: matched "
    "rows soft-delete in place and their updated versions land as new "
    "files in the same atomic commit; unmatched files keep their bytes",
)
def delta_update_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _update_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_upd", uri=uri)
    return table(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


_BUILT_CDF: dict[str, str] = {}


def _cdf_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Three-version table for the change feed: v0 appends keys ≤ 800,
    v1 appends 801–1200, v2 DV-deletes the expensive rows. The feed over
    [1, 2] is then a pure function of the source parquet."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_CDF and os.path.isdir(
        os.path.join(_BUILT_CDF[key], "_delta_log")
    ):
        return _BUILT_CDF[key]
    from ..tables.delta_writer import delete_delta

    base = session_tmp("datarepo_delta_cdf_")
    uri = os.path.join(base, "orders_cdf")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    src = load(spark, sf_dir, "orders").select(*cols)
    write_delta(src.filter(F.col("o_orderkey") <= 800), uri)
    write_delta(
        src.filter(
            (F.col("o_orderkey") > 800) & (F.col("o_orderkey") <= 1200)
        ),
        uri,
    )
    res = delete_delta(spark, uri, [Filter("o_totalprice", ">", 150000.0)])
    assert res["rows_deleted"] > 0
    _BUILT_CDF[key] = uri
    return uri


@register(
    "delta_table_changes",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM orders
    WHERE o_orderkey > 800 AND o_orderkey <= 1200
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
    FROM orders
    WHERE o_orderkey <= 1200 AND o_totalprice > 150000
    """,
    description="CDF-style table_changes over [1,2]: version-1 appends "
    "surface as inserts, the version-2 DV delete surfaces exactly its "
    "newly-deleted rows as deletes — incremental consumption without "
    "rescanning the table",
)
def delta_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables.delta_cdf import table_changes

    uri = _cdf_fixture(spark, sf_dir)
    return table_changes(spark, uri, 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "_change_type", "_commit_version",
    )


def cleanup() -> None:
    """Remove built fixtures (test hygiene; tmpdirs are per-process)."""
    for uri in _BUILT.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT.clear()
    for uri in _BUILT_MAINT.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_MAINT.clear()
    for uri in _BUILT_MERGE.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_MERGE.clear()
    for uri in _BUILT_DV.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_DV.clear()
    for uri in _BUILT_DVDEL.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_DVDEL.clear()
    for uri in _BUILT_CDF.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_CDF.clear()
    for uri in _BUILT_UPD.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_UPD.clear()
    for agg in _BUILT_IVM.values():
        shutil.rmtree(os.path.dirname(agg.dest_uri), ignore_errors=True)
    _BUILT_IVM.clear()
    for agg in _BUILT_IVM_JOIN.values():
        shutil.rmtree(os.path.dirname(agg.dest_uri), ignore_errors=True)
    _BUILT_IVM_JOIN.clear()
    for uri in _BUILT_RESTORE.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_RESTORE.clear()
    for uri in _BUILT_CONVERT.values():
        shutil.rmtree(os.path.dirname(uri), ignore_errors=True)
    _BUILT_CONVERT.clear()


_BUILT_IVM: dict = {}  # sf key -> IncrementalAggregate


def _ivm_fixture(spark: SparkSession, sf_dir: str):
    """Source table driven through append → append → DV delete, with an
    IncrementalAggregate maintained across three advance() calls. The
    final view is a pure function of `orders`, so plain SQL (a GROUP BY
    of the equivalent final state) is the oracle."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_IVM:
        agg = _BUILT_IVM[key]
        if os.path.isdir(os.path.join(agg.dest_uri, "_delta_log")):
            return agg
    from ..tables.delta_writer import delete_delta
    from ..tables.ivm import IncrementalAggregate

    base = session_tmp("datarepo_delta_ivm_")
    src = os.path.join(base, "orders_src")
    dst = os.path.join(base, "orders_by_status")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load(spark, sf_dir, "orders").select(*cols)
    agg = IncrementalAggregate(
        src, dst, os.path.join(base, "cursor.json"),
        group_cols=["o_orderstatus"], sum_cols=["o_totalprice"],
    )
    write_delta(orders.filter(F.col("o_orderkey") <= 1200), src)
    agg.advance(spark)
    write_delta(
        orders.filter(
            (F.col("o_orderkey") > 1200) & (F.col("o_orderkey") <= 1800)
        ),
        src,
    )
    delete_delta(spark, src, [Filter("o_totalprice", ">", 150000.0)])
    agg.advance(spark)
    assert agg.advance(spark) is None
    _BUILT_IVM[key] = agg
    return agg


@register(
    "ivm_orders_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 2) AS sum_totalprice
    FROM orders
    WHERE o_orderkey <= 1800 AND NOT (o_totalprice > 150000)
    GROUP BY o_orderstatus
    """,
    description="incremental view maintenance: a COUNT/SUM-by-status "
    "aggregate kept in sync from the change feed (merge + zero-group "
    "delete, SetTransaction exactly-once) — must equal the from-scratch "
    "GROUP BY of the source's final state",
)
def ivm_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _ivm_fixture(spark, sf_dir)
    return agg.read(spark).select(
        "o_orderstatus",
        "n_rows",
        F.round(
            F.col("sum_o_totalprice").cast("double"), 2
        ).alias("sum_totalprice"),
    )


_BUILT_CLONE: dict[str, str] = {}


def _clone_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Source table (orders ≤ 1500) DV-deleted, SHALLOW-cloned
    (absolute-path references, zero data copied), then DML'd further in
    the CLONE only — the final clone content is a pure function of
    `orders`, and the source must remain untouched (asserted here; the
    oracle gates the clone's content)."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_CLONE and os.path.isdir(
        os.path.join(_BUILT_CLONE[key], "_delta_log")
    ):
        return _BUILT_CLONE[key]
    from ..tables.clone import clone_delta
    from ..tables.delta_writer import delete_delta

    base = session_tmp("datarepo_delta_clone_")
    src = os.path.join(base, "orders_src")
    dst = os.path.join(base, "orders_clone")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_delta(orders, src)
    delete_delta(spark, src, [Filter("o_totalprice", ">", 150000.0)])
    clone_delta(src, dst, shallow=True)
    # DML in the clone only
    delete_delta(spark, dst, [Filter("o_orderkey", "<=", 100)])
    # invariant: the source never observes the clone's DML
    n_src = DeltalakeTable("src", src)(spark=spark).count()
    n_expect = orders.filter(
        ~F.coalesce(F.col("o_totalprice") > 150000.0, F.lit(False))
    ).count()
    assert n_src == n_expect, "shallow clone mutated its source"
    _BUILT_CLONE[key] = dst
    return dst


@register(
    "delta_shallow_clone",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 1500
      AND NOT (o_totalprice > 150000)
      AND o_orderkey > 100
    """,
    description="SHALLOW CLONE: metadata-only copy referencing the "
    "source's files by absolute path (zero data moved); the clone takes "
    "its own DV deletes while the source stays untouched",
)
def delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    dst = _clone_fixture(spark, sf_dir)
    return DeltalakeTable("orders_clone", dst)(spark=spark)


_BUILT_IVM_MM: dict = {}


def _ivm_mm_fixture(spark: SparkSession, sf_dir: str):
    """Like :func:`_ivm_fixture` but maintaining MIN/MAX (+ derived
    AVG): the delete removes every group's CURRENT maxima, so the
    bounded re-derivation path (source-at-version, affected groups
    only) is what produces the final extrema."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_IVM_MM:
        agg = _BUILT_IVM_MM[key]
        if os.path.isdir(os.path.join(agg.dest_uri, "_delta_log")):
            return agg
    from ..tables.delta_writer import delete_delta
    from ..tables.ivm import IncrementalAggregate

    base = session_tmp("datarepo_delta_ivm_mm_")
    src = os.path.join(base, "orders_src")
    dst = os.path.join(base, "orders_extrema")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load(spark, sf_dir, "orders").select(*cols)
    agg = IncrementalAggregate(
        src, dst, os.path.join(base, "cursor.json"),
        group_cols=["o_orderstatus"],
        minmax_cols=["o_totalprice"],
        avg_cols=["o_totalprice"],
    )
    write_delta(orders.filter(F.col("o_orderkey") <= 1200), src)
    agg.advance(spark)
    write_delta(
        orders.filter(
            (F.col("o_orderkey") > 1200) & (F.col("o_orderkey") <= 1800)
        ),
        src,
    )
    # removes the stored max of every status group → re-derivation
    delete_delta(spark, src, [Filter("o_totalprice", ">", 150000.0)])
    agg.advance(spark)
    assert agg.advance(spark) is None
    _BUILT_IVM_MM[key] = agg
    return agg


@register(
    "ivm_minmax_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS min_totalprice,
           MAX(o_totalprice) AS max_totalprice,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_totalprice
    FROM orders
    WHERE o_orderkey <= 1800 AND NOT (o_totalprice > 150000)
    GROUP BY o_orderstatus
    """,
    description="IVM with MIN/MAX under deletes: the batch removes every "
    "group's stored maximum, forcing the bounded re-derivation (source "
    "at the batch version, delete-affected groups only); AVG derives "
    "from the maintained sum/count",
)
def ivm_minmax_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _ivm_mm_fixture(spark, sf_dir)
    return agg.read(spark).select(
        "o_orderstatus",
        "n_rows",
        F.col("min_o_totalprice").alias("min_totalprice"),
        F.col("max_o_totalprice").alias("max_totalprice"),
        F.round(
            F.col("sum_o_totalprice").cast("double") / F.col("n_rows"), 6
        ).alias("avg_totalprice"),
    )


_BUILT_RESTORE: dict[str, str] = {}


def _restore_fixture(spark: SparkSession, sf_dir: str) -> str:
    """write (v0) → DV delete (v1) → RESTORE to v0 (v2): the final
    content equals the seed exactly, through a feed-visible resurrect."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_RESTORE and os.path.isdir(
        os.path.join(_BUILT_RESTORE[key], "_delta_log")
    ):
        return _BUILT_RESTORE[key]
    from ..tables.delta_writer import delete_delta, restore_table

    base = session_tmp("datarepo_delta_restore_")
    uri = os.path.join(base, "orders_restore")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_delta(src, uri)
    res = delete_delta(spark, uri, [Filter("o_totalprice", ">", 100000.0)])
    assert res["rows_deleted"] > 0
    rres = restore_table(spark, uri, 0)
    assert rres["version"] == 2
    _BUILT_RESTORE[key] = uri
    return uri


@register(
    "delta_restore_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    description="RESTORE TABLE: a DV delete undone by restore_table — "
    "the table must read back exactly the pre-delete content, with the "
    "restore itself a new time-travelable version",
)
def delta_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _restore_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_restore", uri=uri)
    return table(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


_BUILT_CONVERT: dict[str, str] = {}


def _convert_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Plain hive-partitioned parquet (written by Spark, no log), then
    CONVERT TO DELTA in place — content is the source subset exactly."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_CONVERT and os.path.isdir(
        os.path.join(_BUILT_CONVERT[key], "_delta_log")
    ):
        return _BUILT_CONVERT[key]
    from ..tables.delta_writer import convert_to_delta

    base = session_tmp("datarepo_delta_convert_")
    uri = os.path.join(base, "orders_convert")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    src.write.partitionBy("o_orderstatus").parquet(uri)
    convert_to_delta(spark, uri)
    _BUILT_CONVERT[key] = uri
    return uri


@register(
    "delta_convert_in_place",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 1000 AND o_orderstatus = 'O'
    """,
    description="CONVERT TO DELTA: existing hive-partitioned parquet "
    "gains a transaction log in place (adds with footer stats, no "
    "rewrite); the partition-pruned Delta read must equal the source",
)
def delta_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _convert_fixture(spark, sf_dir)
    table = DeltalakeTable(name="orders_convert", uri=uri)
    return table(
        filters=[Filter("o_orderstatus", "=", "O")],
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        spark=spark,
    )


_BUILT_IDENTITY: dict[str, str] = {}


def _identity_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Identity table seeded then appended: ids must come out dense
    1..n across both commits (create assigns 1..n1, the append resumes
    from the recorded high-water mark)."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_IDENTITY and os.path.isdir(
        os.path.join(_BUILT_IDENTITY[key], "_delta_log")
    ):
        return _BUILT_IDENTITY[key]
    base = session_tmp("datarepo_delta_identity_")
    uri = os.path.join(base, "orders_identity")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_delta(
        orders.filter(F.col("o_orderkey") <= 1000),
        uri,
        identity_cols={"row_id": {"start": 1, "step": 1}},
    )
    write_delta(
        orders.filter(
            (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)
        ),
        uri,
    )
    _BUILT_IDENTITY[key] = uri
    return uri


@register(
    "delta_identity_append",
    # identity values depend on partition layout, but DENSE allocation
    # makes the aggregate contract exact: n unique ids spanning 1..n
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS min_id,
           CAST(COUNT(*) AS BIGINT) AS max_id,
           CAST(COUNT(*) AS BIGINT) AS distinct_ids
    FROM orders
    WHERE o_orderkey <= 1500
    """,
    description="GENERATED ALWAYS AS IDENTITY (writer v6): dense "
    "writer-assigned ids resume from the high-water mark across "
    "appends — unique and exactly spanning 1..n",
)
def delta_identity_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _identity_fixture(spark, sf_dir)
    t = DeltalakeTable("orders_identity", uri)(spark=spark)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("row_id").alias("min_id"),
        F.max("row_id").alias("max_id"),
        F.count_distinct("row_id").alias("distinct_ids"),
    )


_BUILT_IVM_JOIN: dict = {}


def _ivm_join_fixture(spark: SparkSession, sf_dir: str):
    """Join-view IVM: the fact (orders subset) is driven through
    append -> append + delete while an ``IncrementalJoinAggregate``
    maintains revenue-by-nation THROUGH the customer->nation dim —
    every change batch is enriched with the broadcast dim before the
    signed fold (delta rule: d(view) = d(fact) JOIN dim). The delete
    removes each nation's stored maximum so the enriched bounded
    re-derivation path runs too."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_IVM_JOIN:
        agg = _BUILT_IVM_JOIN[key]
        if os.path.isdir(os.path.join(agg.dest_uri, "_delta_log")):
            return agg
    from ..tables.delta_writer import delete_delta
    from ..tables.ivm import IncrementalJoinAggregate

    base = session_tmp("datarepo_delta_ivm_join_")
    src = os.path.join(base, "orders_src")
    dst = os.path.join(base, "revenue_by_nation")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def dim_fn(s):
        cust = load(s, sf_dir, "customer").select("c_custkey", "c_nationkey")
        nat = load(s, sf_dir, "nation").select("n_nationkey", "n_name")
        return cust.join(
            nat, cust.c_nationkey == nat.n_nationkey
        ).select("c_custkey", "n_name")

    agg = IncrementalJoinAggregate(
        src,
        dst,
        os.path.join(base, "cursor.json"),
        dim_fn=dim_fn,
        fact_key="o_custkey",
        dim_key="c_custkey",
        group_cols=["n_name"],
        sum_cols=["o_totalprice"],
        minmax_cols=["o_totalprice"],
    )
    write_delta(orders.filter(F.col("o_orderkey") <= 1200), src)
    agg.advance(spark)
    write_delta(
        orders.filter(
            (F.col("o_orderkey") > 1200) & (F.col("o_orderkey") <= 1800)
        ),
        src,
    )
    # removes stored maxima -> the dim-enriched re-derivation path runs
    delete_delta(spark, src, [Filter("o_totalprice", ">", 150000.0)])
    agg.advance(spark)
    assert agg.advance(spark) is None
    _BUILT_IVM_JOIN[key] = agg
    return agg


@register(
    "ivm_join_by_nation",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 2) AS sum_totalprice,
           MAX(o.o_totalprice) AS max_totalprice
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderkey <= 1800 AND NOT (o.o_totalprice > 150000)
    GROUP BY n.n_name
    """,
    description="incremental JOIN-VIEW maintenance: revenue-by-nation "
    "(fact JOIN customer->nation dim) kept in sync from the fact's "
    "change feed — each batch enriched with the broadcast dim before "
    "the signed fold; must equal the from-scratch join aggregate of "
    "the source's final state",
)
def ivm_join_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _ivm_join_fixture(spark, sf_dir)
    return agg.read(spark).select(
        "n_name",
        "n_rows",
        F.round(F.col("sum_o_totalprice").cast("double"), 2).alias(
            "sum_totalprice"
        ),
        F.col("max_o_totalprice").alias("max_totalprice"),
    )


_BUILT_IVM_DISTINCT: dict[str, object] = {}


def _ivm_distinct_fixture(spark: SparkSession, sf_dir: str):
    """Same append → append → DV-delete drive as _ivm_fixture, but the
    maintained view is COUNT(DISTINCT o_custkey) per status via the
    2-level multiplicity state (tables/ivm.py::IncrementalDistinctCount)
    — the delete makes some customers vanish from a status entirely,
    which is exactly the case per-group scalars cannot maintain."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_IVM_DISTINCT:
        agg = _BUILT_IVM_DISTINCT[key]
        if os.path.isdir(os.path.join(agg.dest_uri, "_delta_log")):
            return agg
    from ..tables.delta_writer import delete_delta
    from ..tables.ivm import IncrementalDistinctCount

    base = session_tmp("datarepo_delta_ivmd_")
    src = os.path.join(base, "orders_src")
    dst = os.path.join(base, "custkeys_by_status")
    cols = ["o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice"]
    orders = load(spark, sf_dir, "orders").select(*cols)
    agg = IncrementalDistinctCount(
        src, dst, os.path.join(base, "cursor.json"),
        group_cols=["o_orderstatus"], distinct_col="o_custkey",
    )
    write_delta(orders.filter(F.col("o_orderkey") <= 1200), src)
    agg.advance(spark)
    write_delta(
        orders.filter(
            (F.col("o_orderkey") > 1200) & (F.col("o_orderkey") <= 1800)
        ),
        src,
    )
    delete_delta(spark, src, [Filter("o_totalprice", ">", 150000.0)])
    agg.advance(spark)
    assert agg.advance(spark) is None
    _BUILT_IVM_DISTINCT[key] = agg
    return agg


@register(
    "ivm_distinct_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    WHERE o_orderkey <= 1800 AND NOT (o_totalprice > 150000)
    GROUP BY o_orderstatus
    """,
    description="incremental COUNT(DISTINCT) view: per-(group, key) "
    "multiplicity state (fully self-maintainable under inserts AND "
    "deletes) with the distinct count derived at read — kept in sync "
    "across appends and a DV delete, must equal the from-scratch "
    "COUNT(DISTINCT) of the source's final state",
)
def ivm_distinct_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _ivm_distinct_fixture(spark, sf_dir)
    return agg.read(spark).select(
        "o_orderstatus",
        F.col("n_distinct_o_custkey").alias("n_distinct_custkey"),
        "n_rows",
    )


_BUILT_IVM_TOPK: dict[str, object] = {}


def _ivm_topk_fixture(spark: SparkSession, sf_dir: str):
    """Same append → append → DV-delete drive as _ivm_distinct_fixture,
    but the maintained view is the per-status TOP-3 orders by
    (totalprice DESC, orderkey) via tables/ivm.py::IncrementalTopK.
    The delete removes every order above 150k — i.e. exactly the
    stored top rows of every group — so the batch exercises the
    bounded re-derivation path (the old 4th/5th/6th re-enter), the
    case per-group top-k state cannot answer from itself."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_IVM_TOPK:
        agg = _BUILT_IVM_TOPK[key]
        if os.path.isdir(os.path.join(agg.dest_uri, "_delta_log")):
            return agg
    from ..tables.delta_writer import delete_delta
    from ..tables.ivm import IncrementalTopK

    base = session_tmp("datarepo_delta_ivmtk_")
    src = os.path.join(base, "orders_src")
    dst = os.path.join(base, "top_orders_by_status")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load(spark, sf_dir, "orders").select(*cols)
    agg = IncrementalTopK(
        src, dst, os.path.join(base, "cursor.json"),
        group_cols=["o_orderstatus"],
        id_col="o_orderkey", val_col="o_totalprice", k=3,
    )
    write_delta(orders.filter(F.col("o_orderkey") <= 1200), src)
    agg.advance(spark)
    write_delta(
        orders.filter(
            (F.col("o_orderkey") > 1200) & (F.col("o_orderkey") <= 1800)
        ),
        src,
    )
    delete_delta(spark, src, [Filter("o_totalprice", ">", 150000.0)])
    agg.advance(spark)
    assert agg.advance(spark) is None
    _BUILT_IVM_TOPK[key] = agg
    return agg


@register(
    "ivm_topk_by_status",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS rnk
      FROM orders
      WHERE o_orderkey <= 1800 AND NOT (o_totalprice > 150000)
    ) WHERE rnk <= 3
    """,
    description="incremental TOP-K view (per-status top-3 orders by "
    "totalprice): insert-side self-maintainable ranking state; the DV "
    "delete evicts every group's stored top rows, forcing the bounded "
    "source re-derivation (delete-affected groups only) — must equal "
    "the from-scratch ranking of the source's final state",
)
def ivm_topk_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _ivm_topk_fixture(spark, sf_dir)
    return agg.read(spark).select(
        "o_orderstatus", "o_orderkey", "o_totalprice", "rnk"
    )


_BUILT_RW: dict[str, str] = {}


def _replace_where_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Table exercising the predicate-scoped atomic overwrite
    (replaceWhere): seed with orders keys <= 1200, then replace the
    'F' partition slice with a deterministically recomputed version
    (same keys, status 'R', price + 1000) in ONE commit. Content stays
    a pure function of the source parquet."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT_RW and os.path.isdir(
        os.path.join(_BUILT_RW[key], "_delta_log")
    ):
        return _BUILT_RW[key]
    from ..tables.delta_writer import overwrite_where

    base = session_tmp("datarepo_delta_rw_")
    uri = os.path.join(base, "orders_rw")
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    write_delta(src.repartitionByRange(3, "o_orderkey"), uri)
    repl = (
        src.filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        )
    )
    res = overwrite_where(
        spark, uri, repl, [Filter("o_orderstatus", "in", ["F", "R"])]
    )
    assert res["rows_replaced"] > 0 and res["files_added"] >= 1, res
    _BUILT_RW[key] = uri
    return uri


@register(
    "delta_replace_where",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN 'R'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 1200
    """,
    description="predicate-scoped atomic overwrite (replaceWhere): the "
    "'F' slice is removed and its recomputed replacement written in ONE "
    "commit (DV removal + staged adds at a single version boundary) — "
    "the partition-reload/backfill primitive; final state must equal "
    "the from-scratch recompute",
)
def delta_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _replace_where_fixture(spark, sf_dir)
    return DeltalakeTable("orders_rw", uri)(spark=spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
