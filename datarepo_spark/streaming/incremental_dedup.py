"""Streaming incremental dedup: admit only corpus-novel documents.

The live-path composition of the persisted dedup index
(:mod:`..functions.dedup_index`) with Structured Streaming: each
micro-batch of incoming documents probes the index, rows near-duplicate
to anything already accepted are dropped, the survivors land in the
curated Delta table AND join the index — so batch N+1 automatically
dedups against batch N's admissions. This is the self-maintaining
ingestion loop every production training-data pipeline runs.

Why foreachBatch rather than a pure streaming join: the MinHash
signature is a per-document aggregate over exploded shingles, which a
continuous streaming plan would have to express as a watermarked
aggregation feeding a stream-static join — legal but stateful and
awkward. Inside foreachBatch the micro-batch is a plain DataFrame, the
probe is the exact batch code path (one plan, already tested), and the
epoch id threads the idempotent-writer ledger through BOTH the curated
sink and the index append, so a crash-replayed epoch is swallowed
everywhere instead of double-admitting.

State: none in the streaming engine (the query is stateless); all
persistence lives in the Delta tables. Exactly-once: write_delta's txn
ledger per (txn identity, epoch) — the identity binds to the
CHECKPOINT (``query_name + sha256(checkpoint_dir)``), because the
checkpoint defines epoch numbering: a restarted stream with a fresh
checkpoint restarts epochs at 0, and a bare query-name identity would
classify those batches as replays and silently drop them.

Within-batch semantics: by default repeats inside one micro-batch are
removed EXACTLY (normalized content key) — two near-duplicate but
non-identical documents arriving in the same micro-batch are both
admitted (each is novel vs the corpus; they only become corpus
neighbors of each other's successors). Pass
``within_batch_near_dup=True`` to also run the full MinHash-LSH pass
inside the batch before admission, at the cost of one extra signature
pipeline per epoch — or size micro-batches so same-burst near-dups are
rare.
"""

from __future__ import annotations

import math
import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _delta_exists(uri: str) -> bool:
    log_dir = os.path.join(uri.rstrip("/"), "_delta_log")
    return os.path.isdir(log_dir) and any(
        name.endswith(".json") for name in os.listdir(log_dir)
    )


def _probe_duplicate_ids(
    batch: DataFrame,
    index_uri: str,
    out_uri: str,
    threshold: float,
    borderline_exact: bool,
    max_broadcast_rows: int,
    max_broadcast_bytes: int,
    batch_stats: tuple[int, float],
    meta: dict,
) -> DataFrame:
    """ids of batch docs near-duplicate to the indexed corpus.

    Estimate-mode probe (corpus TEXT never read) — except, when
    ``borderline_exact`` is on, candidates whose signature estimate
    lands within ±2σ of the threshold (σ = √(t(1-t)/num_hashes), the
    binomial std of the 64-lane estimate) are re-verified by EXACT
    shingle Jaccard against the curated table's text. The curated table
    is local to this loop (we wrote it), the borderline band is a tiny
    fraction of candidates, and only borderline corpus ids are read
    (left-semi) — so clear cases keep the text-free plan while the
    σ≈0.06 misclassification window around the threshold closes for
    every corpus doc this loop admitted. Corpus docs indexed before the
    loop started (not present in ``out_uri``) keep the estimate
    decision.
    """
    from ..core.exec import scoped_persist
    from ..functions.dedup import jaccard, with_shingles
    from ..functions.dedup_index import dedup_against_index
    from ..tables.delta_table import DeltalakeTable

    spark = batch.sparkSession
    id_col, text_col = meta["id_col"], meta["text_col"]
    if not borderline_exact:
        return (
            dedup_against_index(
                spark,
                batch,
                index_uri,
                threshold=threshold,
                verify="estimate",
                max_broadcast_rows=max_broadcast_rows,
                max_broadcast_bytes=max_broadcast_bytes,
                batch_stats=batch_stats,
            )
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )

    sigma = math.sqrt(
        threshold * (1.0 - threshold) / float(meta["num_hashes"])
    )
    lo = max(0.0, threshold - 2.0 * sigma)
    hi = threshold + 2.0 * sigma
    est = scoped_persist(
        dedup_against_index(
            spark,
            batch,
            index_uri,
            threshold=lo,
            verify="estimate",
            max_broadcast_rows=max_broadcast_rows,
            max_broadcast_bytes=max_broadcast_bytes,
            batch_stats=batch_stats,
        )
    )
    border = est.filter(F.col("jaccard") < hi)
    # Only build the exact branch when there IS a borderline pair and a
    # curated table to read — otherwise the plan stays byte-identical
    # to the text-free estimate probe (est is persisted; this count is
    # a cached pass over a candidate-sized frame).
    if not _delta_exists(out_uri) or border.limit(1).isEmpty():
        dup = est.filter(F.col("jaccard") >= threshold)
        return dup.select(F.col("batch_id").alias(id_col)).distinct()

    curated = DeltalakeTable("curated", out_uri)(spark=spark)
    cids = border.select(F.col("corpus_id").alias(id_col)).distinct()
    sh_c = with_shingles(
        curated.join(cids, id_col, "left_semi"),
        text_col,
        id_col,
        meta["n"],
        out="sh",
    ).select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_i"))
    bids = border.select(F.col("batch_id").alias(id_col)).distinct()
    sh_b = with_shingles(
        batch.join(bids, id_col, "left_semi"),
        text_col,
        id_col,
        meta["n"],
        out="sh",
    ).select(F.col(id_col).alias("batch_id"), F.col("sh").alias("sh_q"))
    resolved = (
        border.join(sh_b, "batch_id")
        # left join: a corpus id absent from the curated table (indexed
        # before this loop existed) has no sh_i → keep the estimate
        .join(sh_c, "corpus_id", "left")
        .select(
            "batch_id",
            F.when(
                F.col("sh_i").isNotNull(),
                jaccard(F.col("sh_q"), F.col("sh_i")),
            )
            .otherwise(F.col("jaccard"))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    confident = est.filter(F.col("jaccard") >= hi).select("batch_id")
    return (
        confident.unionByName(resolved.select("batch_id"))
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )


def admit_novel_documents(
    batch: DataFrame,
    index_uri: str,
    out_uri: str,
    threshold: float = 0.7,
    epoch_id: Optional[int] = None,
    query_name: str = "incremental-dedup",
    txn_app_id: Optional[str] = None,
    borderline_exact: bool = True,
    within_batch_near_dup: bool = False,
    max_broadcast_rows: int = 2_000_000,
    max_broadcast_bytes: int = 128 * 2**20,
) -> int:
    """One micro-batch (or one backfill chunk) of the loop: probe →
    drop near-dups of the indexed corpus → exact-dedup within the batch
    → append survivors to ``out_uri`` and to the index. Returns the
    number of admitted rows. Idempotent per (txn identity, epoch_id);
    ``txn_app_id`` defaults to ``query_name`` for direct backfill calls
    — streaming callers MUST bind it to the checkpoint (see
    :func:`dedup_stream_against_index`).

    ``max_broadcast_rows`` / ``max_broadcast_bytes``: broadcast hints
    on batch-derived frames (the index probe's exploded bucket map, the
    within-batch winners set) apply only while the frame's row count
    AND its estimated bytes (measured id/key widths + per-row relation
    overhead) fit both budgets — a backfill chunk, or a narrow-but-wide
    batch, falls back to shuffled joins instead of forcing an unbounded
    frame through the driver. The batch is measured ONCE here (count +
    avg id width in one job) and the measurement is reused by the probe
    and the winners gate — no per-stage count jobs.
    """
    from ..core.exec import dedup_scope, scoped_persist
    from ..functions.dedup import content_key, minhash_lsh_dedup_pairs
    from ..functions.dedup_index import (
        _load_meta,
        _within_broadcast_budget,
        append_to_dedup_index,
        batch_probe_stats,
    )
    from ..tables.delta_writer import write_delta

    spark = batch.sparkSession
    meta = _load_meta(index_uri)
    id_col, text_col = meta["id_col"], meta["text_col"]
    txn_app = txn_app_id if txn_app_id is not None else query_name
    # dedup_scope: the probe's internal persists are released when this
    # micro-batch finishes — a long-running stream must not accrete one
    # cache per epoch
    with dedup_scope():
        batch_stats = batch_probe_stats(batch, id_col)
        dup_ids = _probe_duplicate_ids(
            batch,
            index_uri,
            out_uri,
            threshold,
            borderline_exact,
            max_broadcast_rows,
            max_broadcast_bytes,
            batch_stats,
            meta,
        )
        survivors = batch.join(dup_ids, id_col, "left_anti")
        # within-batch exact dedup (a batch can carry its own repeats):
        # keep the min id per content key — deterministic under replay
        keyed = scoped_persist(
            survivors.withColumn("__ck", content_key(F.col(text_col)))
        )
        winners = keyed.groupBy("__ck").agg(F.min(id_col).alias(id_col))
        # the winners set is one (64-char sha256 hex, id) row per
        # distinct surviving content key — bounded above by the batch
        # doc count already measured, so the gate costs no extra job
        if _within_broadcast_budget(
            batch_stats[0],
            batch_stats[1] + 64,
            max_broadcast_rows,
            max_broadcast_bytes,
        ):
            winners = F.broadcast(winners)
        admitted = keyed.join(
            winners, ["__ck", id_col], "left_semi"
        ).drop("__ck")
        if within_batch_near_dup:
            # optional full near-dup pass INSIDE the batch: same LSH
            # geometry as the index; keep the min id of each pair
            pairs = minhash_lsh_dedup_pairs(
                admitted,
                text_col,
                id_col,
                threshold=threshold,
                n=meta["n"],
                num_hashes=meta["num_hashes"],
                bands=meta["bands"],
            )
            losers = (
                pairs.select(
                    F.greatest("id_a", "id_b").alias(id_col)
                ).distinct()
            )
            admitted = admitted.join(losers, id_col, "left_anti")
        admitted = admitted.persist()  # feeds count + sink + index
        try:
            n = admitted.count()
            txn = (
                {"txn_app_id": txn_app, "txn_version": int(epoch_id)}
                if epoch_id is not None
                else {}
            )
            write_delta(admitted, out_uri, **txn)
            if n:
                append_to_dedup_index(
                    spark,
                    admitted,
                    index_uri,
                    **(
                        {
                            "txn_app_id": txn_app + "-index",
                            "txn_version": int(epoch_id),
                        }
                        if epoch_id is not None
                        else {}
                    ),
                )
        finally:
            admitted.unpersist()
    return n


def dedup_stream_against_index(
    stream: DataFrame,
    index_uri: str,
    out_uri: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    query_name: str = "incremental-dedup",
    borderline_exact: bool = True,
    within_batch_near_dup: bool = False,
    max_broadcast_rows: int = 2_000_000,
    max_broadcast_bytes: int = 128 * 2**20,
    **trigger_kwargs,
):
    """Run the admission loop as a streaming query (availableNow by
    default); returns the started StreamingQuery."""
    from . import checkpoint_txn_identity

    # the txn app id binds to the CHECKPOINT, which defines epoch
    # numbering (mirrors incremental_ann.append_stream_to_ann_index): a
    # new stream with a fresh checkpoint restarts epochs at 0, and a
    # bare query_name would classify its batches as replays of the old
    # stream's epochs and silently drop them from both the curated
    # table and the index; two streams sharing a query name against the
    # same out_uri would likewise cross-swallow each other's epochs.
    # The path is normalized inside checkpoint_txn_identity so
    # equivalent spellings of the SAME checkpoint keep one identity.
    txn_app = checkpoint_txn_identity(query_name, checkpoint_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        admit_novel_documents(
            batch_df,
            index_uri,
            out_uri,
            threshold=threshold,
            epoch_id=epoch_id,
            query_name=query_name,
            txn_app_id=txn_app,
            borderline_exact=borderline_exact,
            within_batch_near_dup=within_batch_near_dup,
            max_broadcast_rows=max_broadcast_rows,
            max_broadcast_bytes=max_broadcast_bytes,
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger_kwargs:
        writer = writer.trigger(**trigger_kwargs)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
