#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology: one warmup pass of every headline query at sf0.001 first —
same plan shapes on tiny data — so Janino/JIT compilation of the generated
code is amortized (measured ~2× of cold time) and the timed pass measures
execution, not compiler startup. Each query is then timed end-to-end
(plan + execute + row count) at the target scale factor, TWICE, reporting
the per-query minimum: the sandbox VM shows intermittent host-level
contention that inflates every query 1.5-2× for seconds at a time, and
min-of-2 measures the engine rather than the neighbor.

Steady mode (on by default; SPARK_GRAFT_STEADY=0 disables): after the
composite passes, each query is additionally timed as consecutive
back-to-back repetitions in isolation from the other queries, reporting
the per-query minimum as ``steady``/``steady_total``. Interleaved passes
inherit each predecessor's GC/page-cache wake; the consecutive-rep
minimum is the query's quiet-session floor, so ROUND-OVER-ROUND
comparisons should use ``steady`` and treat the composite as the
end-to-end suite number (r3↔r4 showed the composite's same-code spread
is ~28% under sandbox contention).

The steady pass runs in a FRESH JVM (the composite session is stopped
and a new one started, with a fresh sf0.001 JIT warmup): the r7 steady
numbers were inflated up to 8× by heap/host state carried over from a
long prior session (SCALE.md r7 note). Per query, steady is by
construction <= composite within noise, so if the consecutive-rep
minimum still exceeds composite by >25% the query gets up to 2 extra
reps, and a query that never beats that bound is recorded at its
composite time with its name appended to ``steady_contaminated`` —
contaminated host windows are visible instead of silently inflating
round-over-round deltas.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datarepo_spark.session import get_spark  # noqa: E402
from datarepo_spark.queries.registry import REGISTRY  # noqa: E402
from datarepo_spark.core.exec import release  # noqa: E402

HEADLINE = [
    # r11 (VERDICT r10 #6): noise-floor calibration row FIRST — a fixed
    # one-task 1k-row literal query whose wall-time is pure session/host
    # overhead; uniform cross-map drift (like r10's driver-session 1.4×)
    # is read directly off this row
    "bench_calibration",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume",
    "window_rank_topk_per_group",
    "dedup_distinct_subset",
    "events_tumbling_window",
    "events_sessionize",
    "agg_rollup",
    "join_asof_backward",
    "dedup_exact_sha256",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_score",
    "similarity_knn_brute_force",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "pipeline_curate_documents",
    "dedup_cluster_components",
    "pipeline_contamination",
    "sample_hash_split",
    "text_pii_redact",
    # added r4 (headline count 24 → 27): repetition quality metrics,
    # PQ-compressed ANN, and SemDeDup semantic dedup — round-over-round
    # totals compare per-query
    "text_repetition",
    "similarity_ann_pq",
    "dedup_semantic",
    # added r4 (session 2): sequence packing, LM perplexity
    "pipeline_pack_sequences",
    "text_perplexity",
    "dedup_duplicate_spans",
    "similarity_ann_index",
    "classify_nb_language",
    # added r5 (headline count 32 → 38): lexical retrieval + weighted
    # sampling/mixing, the real-codec multimodal path, iterative graph
    # ranking, and cross-corpus line dedup
    "text_tfidf_keywords",
    "text_bm25_search",
    "sample_weighted",
    "multimodal_features",
    "graph_pagerank",
    "dedup_lines_c4",
    # added r6 (headline count 38 → 40): the two persisted-index serving
    # shapes — IVF-PQ vector search and incremental LSH text dedup (the
    # first timed pass includes the index build; steady reps reuse it)
    "similarity_ann_index_pq",
    "dedup_incremental_index",
    # added r7 (headline count 40 → 45): the multimodal dedup family +
    # curation composite — real decode inside mapInPandas; regressions
    # in the decode path are bench-visible from this round on
    "multimodal_ahash",
    "multimodal_near_dup",
    "multimodal_video_near_dup",
    "multimodal_audio_near_dup",
    "pipeline_curate_multimodal",
    # added r7 (headline count 45 → 49): the ordered-selection family
    # (nucleus, curriculum NTILE) and the two cross-corpus curation
    # jobs (near-dup decontamination, curate v3) — the round's new
    # bucket-plan and gram-scorer paths become bench-visible
    "pipeline_nucleus_topp",
    "pipeline_curriculum_shards",
    "pipeline_decontaminate_neardup",
    "pipeline_curate_v3",
    # added r8 (headline count 49 → 53): the row-local entropy pass,
    # the containment gram join, burst debounce, and range search —
    # the round's new per-doc, pair-join, window, and scan shapes
    "text_char_entropy",
    "dedup_ngram_containment",
    "events_debounce",
    "similarity_radius_search",
    # added r9 (headline count 53 → 57): the time-series family (EWMA
    # fold, grid resample + as-of fill, nearest as-of) and the
    # deterministic corpus shuffle — the round's new window/fold and
    # shard-sort shapes
    "events_ewma",
    "events_resample_ffill",
    "join_asof_nearest",
    "pipeline_shuffle_shards",
    # added r10 (headline count 57 → 63, VERDICT r9 #3): the heavy
    # r9-born operators get their committed wall-times — triangle
    # counting (wedge self-join, plausibly the heaviest r9 addition),
    # MMR rerank (TakeOrdered + pool self-join), pHash (pure map), the
    # gram-grid mutual information + entropy profilers, and the
    # whole-table dataset card
    "graph_triangle_count",
    "similarity_mmr_rerank",
    "multimodal_phash",
    "profile_mutual_information",
    "profile_entropy_by_source",
    "profile_dataset_card",
    # added r10: the streaming stateful-EWMA twin — 4-micro-batch file
    # stream through applyInPandasWithState; the streaming path's cost
    # becomes bench-visible
    "streaming_ewma_twin",
    # added r10b (headline count 64 → 67): the heavy second-batch
    # operators — market-basket pair mining (basket self-join + top-k
    # heap), the native session_window stream twin, and the 24x
    # grid-explode rolling distinct
    "agg_frequent_itemsets",
    "streaming_sessionize_twin",
    "events_rolling_distinct_users",
    # added r11 (headline count 67 → 72, VERDICT r10 #4): the two
    # iterative graph operators (the only operator class whose cost
    # multiplies at scale) and the daily warehouse/observability shapes
    # — SCD2 point-in-time lookup and the hourly p95 profile — plus the
    # calibration row at the top
    "graph_label_propagation",
    "graph_personalized_pagerank",
    "join_scd2_lookup",
    "events_hourly_p95",
    # added r11 (headline count 72 → 76): the heavy r11-born operators
    # — link-prediction pair generation (Σ C(deg,2) join), the
    # explode-heavy lexical-diversity pass, the double-join Spearman
    # rank machinery, and the session sweep line
    "graph_common_neighbors",
    "text_ttr_hapax",
    "profile_spearman_rank",
    "events_peak_concurrency",
    # added r12 (headline count 76 → 82): the rank-statistics batch on
    # the two-pass primitive — grouped weighted median + inter-arrival
    # percentiles (the few-giant-groups shapes), pooled-midrank
    # Mann-Whitney, the Kaplan-Meier fold, basket-pair association
    # rules, and the per-node triangle attribution
    "profile_weighted_median",
    "events_interarrival",
    "profile_mann_whitney",
    "events_kaplan_meier",
    "agg_association_rules",
    "graph_local_clustering",
    # added r13 (headline count 82 → 84): the two quantile sketches —
    # mergeable bottom-k (per-partition TakeOrdered heaps + exact
    # realized-rank verification) and the integer-exact exponential
    # histogram (pure-aggregate relative-error quantiles); "p95
    # without a sort" becomes bench-visible
    "agg_quantile_sketch",
    "agg_exp_histogram",
    # added r14 (headline count 84 → 86, VERDICT r13 #4): the index
    # BUILD halves of the two persisted-index serving shapes, each
    # rebuilding into a fresh dir per invocation — build cost becomes
    # its own bench row instead of riding the probe rows' first pass
    # (dedup_incremental_index / similarity_ann_index{,_pq} above are
    # the probe rows; their fixtures are unchanged)
    "similarity_ann_index_build",
    "dedup_incremental_index_build",
]

WARMUP_DIR = "/root/testdata/sf0.001"


def _warm_session(app_name: str, names: list, sf_dir: str):
    """Shared measurement bootstrap for BOTH the composite and steady
    passes (one definition so the two can't silently desynchronize):
    session confs, JVM warmup, and the sf0.001 compile pass for every
    headline query's generated code."""
    spark = get_spark(
        app_name=app_name,
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if os.path.isdir(WARMUP_DIR) and os.path.realpath(WARMUP_DIR) != (
        os.path.realpath(sf_dir)
    ):
        for name in names:
            REGISTRY[name].spark_fn(spark, WARMUP_DIR).count()
    return spark


def _steady_child(plan_path: str) -> None:
    """Steady pass, executed in a CHILD PROCESS (its own JVM — in-process
    spark.stop()+getOrCreate() would reuse the parent's py4j JVM and
    carry its heap/JIT state, the exact contamination the steady series
    exists to remove). Reads {sf_dir, names, timings} from ``plan_path``,
    writes {steady, contaminated} back to the same file."""
    with open(plan_path) as fh:
        plan = json.load(fh)
    sf_dir, names, timings = plan["sf_dir"], plan["names"], plan["timings"]
    spark = _warm_session("datarepo-spark-bench-steady", names, sf_dir)

    steady: dict[str, float] = {}
    contaminated: list[str] = []
    for name in names:
        best = None
        # 2 base reps; up to 2 extra while the minimum still exceeds
        # the composite floor by >15% (steady <= composite within
        # noise by construction — a miss means host contention; the
        # r8 run left 10 sub-1.25× outliers standing, so the retry
        # trigger is tighter than the contamination mark below).
        for rep in range(4):
            if rep >= 2 and best <= timings[name] * 1.15:
                break
            # Release caches INSIDE the rep loop (r14, VERDICT r13
            # what's-wrong #3): rep 2+ of a persist-using query used
            # to hit rep 1's scoped_persist caches via Spark's
            # logical-plan cache matching, so its "steady" measured
            # cache reads, not the query (graph_local_clustering read
            # 1.16 s steady vs ~6.5 s honest fresh). Steady now means
            # "quiet-session floor of the FULL computation".
            release(spark)
            start = time.perf_counter()
            n = REGISTRY[name].spark_fn(spark, sf_dir).count()
            elapsed = round(time.perf_counter() - start, 4)
            assert n >= 0
            best = elapsed if best is None else min(best, elapsed)
        if best > timings[name] * 1.25:
            contaminated.append(name)
            best = timings[name]
        steady[name] = best
    with open(plan_path, "w") as fh:
        json.dump({"steady": steady, "contaminated": contaminated}, fh)
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    names = [n for n in HEADLINE if n in REGISTRY]
    spark = _warm_session("datarepo-spark-bench", names, sf_dir)

    timings: dict[str, float] = {}
    for _pass in range(2):
        # drop persisted intermediates so pass 2 re-does the WORK and
        # min-of-2 removes only environment noise, not computation
        release(spark)
        for name in names:
            start = time.perf_counter()
            n = REGISTRY[name].spark_fn(spark, sf_dir).count()
            elapsed = round(time.perf_counter() - start, 4)
            assert n >= 0
            timings[name] = min(timings.get(name, elapsed), elapsed)

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    if os.environ.get("SPARK_GRAFT_STEADY", "1") != "0":
        # Fresh JVM for the steady pass: composite-session heap/GC state
        # inflated r7's steady map up to 8×. A CHILD PROCESS gives a
        # genuinely new JVM (in-process stop()+getOrCreate() reuses the
        # parent's py4j gateway JVM); the composite session stops FIRST
        # so the two never compete for cores.
        import subprocess
        import tempfile

        spark.stop()
        fd, plan_path = tempfile.mkstemp(suffix=".json", prefix="steady-")
        with os.fdopen(fd, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "names": names, "timings": timings}, fh
            )
        try:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--steady-child",
                 plan_path],
                check=True,
                env={**os.environ, "SPARK_GRAFT_STEADY": "0"},
            )
            with open(plan_path) as fh:
                child = json.load(fh)
            out["steady"] = child["steady"]
            out["steady_total"] = round(sum(child["steady"].values()), 4)
            out["steady_contaminated"] = child["contaminated"]
        finally:
            os.unlink(plan_path)
    else:
        spark.stop()

    # Full per-query detail (composite + steady maps) goes to a sidecar
    # file; the stdout line stays compact so the driver's bounded tail
    # capture can always parse it (r5's line outgrew the capture and the
    # driver recorded "parsed": null — no bench number for the round).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    print(compact_line(out, timings))


_LINE_BUDGET = 1950


def compact_line(out: dict, timings: dict[str, float]) -> str:
    """The ONE stdout JSON line, guaranteed to carry a per-query map.

    r5's driver tail capture clips at 2000 chars (from the END of
    stdout, so an over-long LAST line loses its head and parses as
    null). The r13 fallback dropped the whole ``queries`` map once
    2-decimal precision no longer fit — at 84 headline queries it
    NEVER fit, so the driver's per-query table, geomean and scaling
    block were all empty (PERF_r13). Now (VERDICT r13 #1): degrade
    precision first, then keep the SLOWEST queries that fit and mark
    how many were dropped (``queries_truncated`` = count of omitted
    cheapest queries). The omitted rows are the sub-tenth-second tail;
    full 4-decimal detail for every query is always in
    BENCH_DETAIL.json."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {},
        "sf": out["sf"],
    }
    if "steady_total" in out:
        compact["steady_total"] = out["steady_total"]
    for ndigits in (3, 2):
        compact["queries"] = {
            k: round(v, ndigits) for k, v in timings.items()
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= _LINE_BUDGET:
            return line
    # Slowest-first admission: every kept entry is costlier than every
    # dropped one, so the driver's geomean/regression checks see the
    # rows that carry the total.
    order = sorted(timings, key=lambda k: (-timings[k], k))
    kept: dict[str, float] = {}
    compact["queries"] = kept
    for name in order:
        kept[name] = round(timings[name], 2)
        compact["queries_truncated"] = len(order) - len(kept)
        if len(json.dumps(compact, separators=(",", ":"))) > _LINE_BUDGET:
            del kept[name]
            compact["queries_truncated"] = len(order) - len(kept)
            break
    return json.dumps(compact, separators=(",", ":"))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--steady-child":
        _steady_child(sys.argv[2])
    else:
        main()
