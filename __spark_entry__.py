"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose the full named-query registry
(datarepo_spark/queries/registry.py) for the DuckDB correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datarepo_spark.core.exec import unpersist_intermediates  # noqa: E402
from datarepo_spark.queries import registry as _registry  # noqa: E402

# The driver gates the first N queries() entries (N=50 of the full
# registry — len(REGISTRY) is the authoritative count), so
# ordering is coverage policy: one hard CORRECTNESS row per operator
# family per rotation. Everything not listed follows in registration
# order — still checked locally by tests/test_oracle_parity.py.
#
# -- r14 window (VERDICT r13 #7): the 2 r14-born build rows + the 3
# r13-born never-gated sketches lead; graph_label_propagation rides
# along because its iteration was rewritten to long label keys this
# round (changed queries get a driver row); then the 9 r7 rows
# deferred from the r13 window, the full 28-query r8 cohort, and 7 of
# the 49 r9-latest rows fill the remaining slots. The CORRECTNESS_r*
# artifacts are the cohort source of truth (latest-green round per
# query).
_PRIORITY = [
    # -- r14-born (index build rows, VERDICT r13 #4) -------------------
    "similarity_ann_index_build",
    "dedup_incremental_index_build",
    # -- r13-born, never driver-gated ----------------------------------
    "agg_quantile_sketch",
    "streaming_quantile_sketch_twin",
    "agg_exp_histogram",
    # -- changed this round (long-key LPA rewrite) ---------------------
    "graph_label_propagation",
    # -- r7 cohort remainder (deferred from the r13 window) ------------
    "multimodal_ahash",
    "multimodal_audio_near_dup",
    "multimodal_video_frame_hashes",
    "dedup_incremental_index",
    "pipeline_curate_multimodal",
    "q15_top_supplier",
    "q20_potential_promotion",
    "set_union_distinct",
    "fn_struct_map",
    # -- r8 cohort (all 28) --------------------------------------------
    "agg_approx_percentile",
    "agg_having",
    "agg_mode",
    "agg_sketch_rollup",
    "dedup_duplicate_spans",
    "delta_dv_read",
    "delta_maintenance_roundtrip",
    "events_anomaly_zscore",
    "events_sliding_window",
    "join_fuzzy_editdist",
    "join_fuzzy_link",
    "pipeline_chunk_dedup",
    "pipeline_curriculum_shards",
    "pipeline_nucleus_topp",
    "profile_orders",
    "profile_winsorized",
    "q12_priority_counting",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q16_supplier_cnt",
    "q22_global_sales_opportunity",
    "sample_cluster_split",
    "sample_diverse_cells",
    "sample_kfold",
    "similarity_ann_pq",
    "text_boilerplate_fraction",
    "text_novelty_score",
    "text_repetition",
    # -- r9 cohort start (7 of 49, alphabetical) -----------------------
    "agg_weighted_avg",
    "dedup_lines_c4",
    "dedup_ngram_containment",
    "dedup_rate_by_source",
    "delta_convert_in_place",
    "delta_identity_append",
    "delta_restore_roundtrip",
    # exactly 50 entries total — the driver gates the first 50
]

# r15 rotation staging: the remaining 42 r9-latest rows (delta
# roundtrip/shallow-clone/time-travel/changes family, events debounce/
# sequence-ngrams, the filter algebra rows, graph_pagerank, the ivm
# family, join anti/asof-forward, …) continue alphabetically from
# where the r14 window stopped; any r14-born query lands at the head.
_PRIORITY_R15: list[str] = [
    "delta_roundtrip",
    "delta_shallow_clone",
    "delta_table_changes",
    "delta_time_travel",
    "delta_update_set",
    "events_debounce",
    "events_sequence_ngrams",
    "filter_comparisons",
    "filter_in_contains_dnf",
    "filter_not_in",
    "filter_sql_string",
    "graph_pagerank",
    "ivm_minmax_by_status",
    "ivm_orders_by_status",
    "join_anti",
    "join_asof_forward",
]


def _ordered_registry() -> dict[str, _registry.Query]:
    ordered: dict[str, _registry.Query] = {}
    for name in _PRIORITY + [
        n for n in _PRIORITY_R15 if n in _registry.REGISTRY
    ]:
        ordered[name] = _registry.REGISTRY[name]
    for name, q in _registry.REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q3-style: catalog-scanned parquet, broadcast dim join, group,
    exact-decimal revenue aggregation, top-k.
    """
    return _registry.REGISTRY["q3_shipping_priority"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )


def _gate_wrapped(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's scoped caches before building the
    next plan: the gate runner releases nothing itself, so a full
    registry drive would otherwise keep every persisted intermediate
    (and its spilled disk blocks) for the process lifetime. By the
    time the next query's builder runs, the prior query's DataFrame
    has been collected, so severing its caches is safe. Only the
    scoped persists go; the session's other caches stay."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        unpersist_intermediates()
        return fn(spark, sf_dir)

    run.__wrapped__ = fn  # type: ignore[attr-defined]
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {
        name: _gate_wrapped(q.spark_fn)
        for name, q in _ordered_registry().items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in _ordered_registry().items()
        if q.oracle is not None
    }
