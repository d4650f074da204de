"""Persisted MinHash-LSH dedup index: incremental corpus dedup.

:func:`~datarepo_spark.functions.dedup.minhash_lsh_dedup_pairs`
recomputes signatures for the WHOLE corpus per run — right for a
one-shot sweep, wrong for a continuously-ingested corpus where each
day's batch must be deduped against everything already accepted. The
production shape (what every at-scale ingestion pipeline runs, and the
LSH analog of :mod:`.ann_index`'s persisted IVF) is an INDEX TABLE:

- ``<uri>/buckets`` — a Delta table of the corpus's exploded LSH
  bucket membership ``(band, bucket, id)``, partitioned by ``band``.
  A probe joins the batch's buckets against it on (band, bucket) — an
  equi-join on 16-byte keys, never a cross join. A pair colliding in
  several bands is collapsed by one distinct on the (tiny) candidate
  stream; the in-memory pipeline's inline first-matching-band trick is
  deliberately NOT used here because it requires every stored row to
  carry the full band-hash array — a 4× storage inflation of the index
  to save one exchange over candidates, the wrong trade for a
  persisted table.
- ``<uri>/signatures`` — one row per doc ``(id, sig)``: the 64-lane
  MinHash signature, for signature-estimate verification
  (``verify="estimate"``) that never touches corpus text.
- ``<uri>/_dedup_index/meta.json`` — the hash geometry (n, num_hashes,
  bands, column names). Appends and probes MUST use the stored
  geometry or buckets stop colliding; both read it and refuse nothing:
  there is nothing to drift, unlike ANN centroids.

At 100 TB: the index stores 16 × (band, bucket, id) rows ≈ 0.4 KB plus
the 64-lane signature ≈ 0.5 KB per document — three orders of
magnitude under the text. A batch probe shuffles only the batch's
buckets + the matching index rows; with ``verify="exact"`` the corpus
TEXT is read for candidate ids only (left-semi join into the source
table, typically ≪1% of the corpus).

No reference counterpart (the reference stops at exact
``unique_columns`` dedup, deltalake_table.py); composition of Broder's
MinHash-LSH with the Delta write path.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.exec import parallelism, scoped_persist
from .dedup import jaccard, minhash_doc_bands, with_shingles

_META_REL = os.path.join("_dedup_index", "meta.json")

# conservative per-row JVM overhead for a broadcast hash relation row
# (object headers + hash-map entry) on top of the payload bytes
_BROADCAST_ROW_OVERHEAD = 32


def batch_probe_stats(df: DataFrame, id_col: str) -> tuple[int, float]:
    """(row count, avg id byte width) of a probe batch — ONE job.

    Feeds the broadcast budget: string ids are measured
    (``avg(octet_length)``), fixed-width types are 8 bytes. Callers
    that already hold the batch (the streaming admission loop) compute
    this once and pass it to :func:`dedup_against_index` so the probe
    adds no extra job of its own."""
    from pyspark.sql import types as T

    if isinstance(df.schema[id_col].dataType, T.StringType):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.octet_length(id_col)).alias("w"),
        ).head()
        return int(row["n"]), float(row["w"] if row["w"] is not None else 8.0)
    return int(df.agg(F.count(F.lit(1)).alias("n")).head()["n"]), 8.0


def _within_broadcast_budget(
    rows: int,
    row_payload_bytes: float,
    max_rows: int,
    max_bytes: int,
) -> bool:
    """True when a frame of ``rows`` rows (payload bytes each, plus the
    per-row relation overhead) fits BOTH the row and byte budgets. The
    byte budget is the operative bound: a row cap alone lets a batch of
    wide ids blow the driver even while the row count looks small."""
    return rows <= max_rows and (
        rows * (row_payload_bytes + _BROADCAST_ROW_OVERHEAD) <= max_bytes
    )


def _meta_path(uri: str) -> str:
    return os.path.join(uri.rstrip("/"), _META_REL)


def _load_meta(uri: str) -> dict:
    path = _meta_path(uri)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no dedup-index metadata at {path}; build with "
            f"build_dedup_index first"
        )
    with open(path) as fh:
        return json.load(fh)


def _bucket_rows(banded: DataFrame, id_col: str) -> DataFrame:
    return banded.select(
        F.col(id_col).alias("id"),
        F.posexplode("__bands").alias("band", "bucket"),
    )


def build_dedup_index(
    spark: SparkSession,
    df: DataFrame,
    uri: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Signature + bucket the corpus once and persist both tables.
    One signature pass feeds both writes (persisted, then released)."""
    from ..tables.delta_writer import write_delta

    os.makedirs(uri.rstrip("/"), exist_ok=True)
    banded = scoped_persist(
        minhash_doc_bands(
            df, text_col, id_col, n, num_hashes, bands, with_sig=True
        ).coalesce(parallelism(df))
    )
    # Cluster bucket rows by their partition value before the
    # partitioned write (guide §6 small files / §3.3 write
    # distribution): without this every input task writes a sliver
    # into EVERY band directory — bands × tasks files (128 at the
    # gate's 8×16) — where one narrow exchange yields one file per
    # band, cutting both the write's file-commit count and every
    # probe's file-open count by 8×.
    write_delta(
        _bucket_rows(banded, id_col).repartition(bands, F.col("band")),
        os.path.join(uri.rstrip("/"), "buckets"),
        partition_by=["band"],
    )
    write_delta(
        banded.select(F.col(id_col).alias("id"), F.col("__sig").alias("sig")),
        os.path.join(uri.rstrip("/"), "signatures"),
    )
    os.makedirs(os.path.dirname(_meta_path(uri)), exist_ok=True)
    tmp = _meta_path(uri) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "text_col": text_col,
                "id_col": id_col,
                "n": n,
                "num_hashes": num_hashes,
                "bands": bands,
            },
            fh,
        )
    os.replace(tmp, _meta_path(uri))


def append_to_dedup_index(
    spark: SparkSession,
    df: DataFrame,
    uri: str,
    txn_app_id: Optional[str] = None,
    txn_version: Optional[int] = None,
) -> None:
    """Index accepted new docs with the STORED hash geometry (a batch
    indexed under different n/num_hashes/bands would silently never
    collide with the corpus). ``txn_app_id``/``txn_version`` thread the
    idempotent-writer ledger through both sub-table appends so a
    replayed streaming epoch is swallowed instead of double-indexed."""
    from ..tables.delta_writer import write_delta

    meta = _load_meta(uri)
    banded = scoped_persist(
        minhash_doc_bands(
            df,
            meta["text_col"],
            meta["id_col"],
            meta["n"],
            meta["num_hashes"],
            meta["bands"],
            with_sig=True,
        ).coalesce(parallelism(df))
    )
    txn = (
        {"txn_app_id": txn_app_id, "txn_version": txn_version}
        if txn_app_id is not None
        else {}
    )
    # same band-clustered write as build_dedup_index (guide §6): one
    # file per band per append instead of bands × tasks
    write_delta(
        _bucket_rows(banded, meta["id_col"]).repartition(
            meta["bands"], F.col("band")
        ),
        os.path.join(uri.rstrip("/"), "buckets"),
        partition_by=["band"],
        **txn,
    )
    write_delta(
        banded.select(
            F.col(meta["id_col"]).alias("id"), F.col("__sig").alias("sig")
        ),
        os.path.join(uri.rstrip("/"), "signatures"),
        **txn,
    )


def dedup_against_index(
    spark: SparkSession,
    batch: DataFrame,
    uri: str,
    threshold: float = 0.7,
    corpus_df: Optional[DataFrame] = None,
    verify: str = "exact",
    max_broadcast_rows: int = 2_000_000,
    max_broadcast_bytes: int = 128 * 2**20,
    batch_stats: Optional[tuple[int, float]] = None,
) -> DataFrame:
    """(batch_id, corpus_id, jaccard) for every batch doc near-duplicate
    of an already-indexed corpus doc.

    ``verify="exact"`` (default): candidates verified by exact shingle
    Jaccard — batch text is at hand; corpus text is read from
    ``corpus_df`` (REQUIRED: the table the index was built over) for
    candidate ids only via a left-semi join. The oracle-verifiable mode.

    ``verify="estimate"``: Jaccard estimated as matching-lane fraction
    of the stored signatures — unbiased (Broder), std ≈ √(s(1-s)/64) ≈
    0.06 at s=0.5, and never touches corpus text; the mode for probes
    where the source table is cold storage.

    ``max_broadcast_rows`` / ``max_broadcast_bytes``: the probe's
    exploded bucket map (``bands`` rows per batch doc — the frame
    actually broadcast) is broadcast so the corpus index never shuffles
    — the right plan for micro-batches and daily chunks. The gate
    budgets the BROADCAST frame: its row count (docs × bands) must fit
    ``max_broadcast_rows`` AND its estimated bytes (rows × (id width +
    key payload + relation overhead)) must fit ``max_broadcast_bytes``
    — a row cap alone under-counts by the band factor and ignores id
    width. Above either budget the hint is dropped and Spark shuffles
    both sides on (band, bucket) instead of forcing an unbounded frame
    through the driver.

    ``batch_stats``: optional precomputed ``(row count, avg id bytes)``
    of ``batch`` (see :func:`batch_probe_stats`) — pass it when the
    caller already measured the batch so the probe adds no extra job."""
    from ..tables.delta_table import DeltalakeTable

    if verify not in ("exact", "estimate"):
        raise ValueError(f"verify must be 'exact' or 'estimate', got {verify!r}")
    if verify == "exact" and corpus_df is None:
        raise ValueError(
            "verify='exact' needs corpus_df (the table the index was "
            "built over) to read candidate text; use verify='estimate' "
            "for a signature-only probe"
        )
    meta = _load_meta(uri)
    id_col, text_col = meta["id_col"], meta["text_col"]
    banded = scoped_persist(
        minhash_doc_bands(
            batch,
            text_col,
            id_col,
            meta["n"],
            meta["num_hashes"],
            meta["bands"],
            with_sig=(verify == "estimate"),
        ).coalesce(parallelism(batch))
    )
    index_buckets = DeltalakeTable("buckets", os.path.join(uri, "buckets"))(
        spark=spark
    )
    probe = _bucket_rows(banded, id_col).select(
        F.col("id").alias("batch_id"), "band", "bucket"
    )
    # the probe side is the (small) batch: broadcast it so the corpus
    # index is never shuffled — each band partition streams past the
    # batch's bucket map. Multi-band collisions collapse in one distinct
    # over the candidate stream (candidates ≪ corpus under LSH).
    # ``banded`` is scope-persisted, so measuring it here is one cached
    # pass (skipped entirely when the caller passed batch_stats).
    if batch_stats is None:
        batch_stats = batch_probe_stats(banded, id_col)
    n_docs, id_bytes = batch_stats
    # the broadcast frame is the EXPLODED bucket map: bands rows per
    # doc, each (batch_id, band int, bucket long)
    if _within_broadcast_budget(
        n_docs * int(meta["bands"]),
        id_bytes + 12,
        max_broadcast_rows,
        max_broadcast_bytes,
    ):
        probe = F.broadcast(probe)
    cands = (
        index_buckets.join(probe, ["band", "bucket"])
        .select("batch_id", F.col("id").alias("corpus_id"))
        .distinct()
    )

    if verify == "estimate":
        sigs = DeltalakeTable(
            "signatures", os.path.join(uri, "signatures")
        )(spark=spark)
        est = (
            cands.join(
                banded.select(
                    F.col(id_col).alias("batch_id"),
                    F.col("__sig").alias("sig_q"),
                ),
                "batch_id",
            )
            .join(
                sigs.select(
                    F.col("id").alias("corpus_id"),
                    F.col("sig").alias("sig_i"),
                ),
                "corpus_id",
            )
            .select(
                "batch_id",
                "corpus_id",
                F.round(
                    F.size(
                        F.filter(
                            F.zip_with(
                                "sig_q", "sig_i", lambda a, b: a == b
                            ),
                            lambda m: m,
                        )
                    )
                    / F.lit(float(meta["num_hashes"])),
                    6,
                ).alias("jaccard"),
            )
        )
        return est.filter(F.col("jaccard") >= threshold)

    cands = scoped_persist(cands.coalesce(parallelism(batch)))
    # corpus text for CANDIDATE ids only (<<1% of the corpus under LSH)
    corpus_ids = cands.select(F.col("corpus_id").alias(id_col)).distinct()
    sh_corpus = with_shingles(
        corpus_df.join(corpus_ids, id_col, "left_semi"),
        text_col,
        id_col,
        meta["n"],
        out="sh",
    ).select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_i"))
    batch_ids = cands.select(F.col("batch_id").alias(id_col)).distinct()
    sh_batch = with_shingles(
        batch.join(batch_ids, id_col, "left_semi"),
        text_col,
        id_col,
        meta["n"],
        out="sh",
    ).select(F.col(id_col).alias("batch_id"), F.col("sh").alias("sh_q"))
    return (
        cands.join(sh_batch, "batch_id")
        .join(sh_corpus, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            F.round(jaccard(F.col("sh_q"), F.col("sh_i")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def optimize_dedup_index(
    spark: SparkSession, uri: str, min_files_per_band: int = 2
) -> dict:
    """Bin-pack both index sub-tables (each append lands one file set
    per band in ``buckets`` plus one in ``signatures``; a
    daily-appended index accumulates O(appends) files per band and
    every probe pays one scan task per file). ``dataChange: false``
    commits — concurrent probes and the streaming admission loop see
    identical rows."""
    from ..tables.delta_writer import compact

    return {
        "buckets": compact(
            spark,
            os.path.join(uri.rstrip("/"), "buckets"),
            min_files_per_partition=min_files_per_band,
        ),
        "signatures": compact(
            spark,
            os.path.join(uri.rstrip("/"), "signatures"),
            min_files_per_partition=min_files_per_band,
        ),
    }
