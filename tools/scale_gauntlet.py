"""Scale gauntlet (r7 verdict #6): build an sf0.5-equivalent dataset by
replicating the sf0.1 tables 5x with key shifts + content perturbation,
run the most expensive headline queries once, and print a timing table
for SCALE.md. Plan assertions re-run at this sf via:

    SPARK_GRAFT_TESTDATA=<out>/sfX python -m pytest tests/test_plans.py

Replication design (facts grow, dims don't — the realistic shape):
- documents: doc_id shifted per replica; text vowels are tagged with
  the replica number so shingle sets across replicas are DISJOINT —
  the deduped fraction stays at sf0.1's natural rate instead of every
  doc gaining 4 synthetic near-duplicates (which would quadratically
  inflate LSH candidate pairs and measure the wrong thing).
- embeddings: vec_id shifted; the vector is ROTATED by the replica
  index, so cross-replica cosine is uncorrelated rather than 1.0.
- lineitem/orders: orderkey shifted consistently on both sides (joins
  stay valid); part/supplier/customer keys untouched (5x fan-in to the
  same dims).
- events: event/user ids shifted; timestamps kept (5x event density in
  the same window).
- dims (region/nation/customer/supplier/part): copied as-is.

Usage: python tools/scale_gauntlet.py [replicas] [out_base]
"""

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datarepo_spark.session import get_spark  # noqa: E402
from datarepo_spark.queries.registry import REGISTRY  # noqa: E402
from datarepo_spark.core.exec import release  # noqa: E402

SRC = "/root/testdata/sf0.1"
GAUNTLET = [
    # the 10 most expensive composite queries of the r7 bench, plus the
    # two index-serving shapes (their build cost dominates at this sf)
    "graph_pagerank",
    "pipeline_curate_v3",
    "dedup_simhash",
    "dedup_incremental_index",
    "pipeline_decontaminate_neardup",
    "dedup_minhash_lsh",
    "dedup_duplicate_spans",
    "classify_nb_language",
    "dedup_cluster_components",
    "similarity_ann_index",
    "similarity_ann_pq",
    "similarity_ann_index_pq",
    # r9 additions: the new time-series / shuffle shapes (events grow
    # 5x in density AND 5x in users under replication; documents 5x)
    "events_ewma",
    "events_resample_ffill",
    "join_asof_nearest",
    "pipeline_shuffle_shards",
    # r10 additions (VERDICT r9 #3): the heavy r9-born operators —
    # triangle counting's wedge join grows superlinearly with edge
    # count, MMR's corpus TakeOrdered and pHash's map stage linearly,
    # the MI/entropy/card profilers with the documents table
    "graph_triangle_count",
    "similarity_mmr_rerank",
    "multimodal_phash",
    "profile_mutual_information",
    "profile_entropy_by_source",
    "profile_dataset_card",
    # r10b additions: basket pair mining, the native session_window
    # stream twin, and the 24x grid-explode rolling distinct
    "agg_frequent_itemsets",
    "streaming_sessionize_twin",
    "events_rolling_distinct_users",
    # r11 additions (VERDICT r10 #4): the two iterative graph
    # operators (cost multiplies per round at scale — the only class
    # with no committed sf0.5/sf1 wall-time) and the daily warehouse/
    # observability shapes
    "graph_label_propagation",
    "graph_personalized_pagerank",
    "join_scd2_lookup",
    "events_hourly_p95",
    # r11b additions: the heavy insights-batch shapes — pair-join link
    # prediction (Σ C(deg,2) grows superlinearly under replication as
    # customer degree saturates toward the supplier count) and the
    # explode-heavy lexical pass (linear in tokens)
    "graph_common_neighbors",
    "text_ttr_hapax",
    # r12 additions (VERDICT r11 #4): exactly the queries whose scale
    # behavior was flagged — the three rewritten onto the two-pass
    # primitive (spearman / peak concurrency / cosine histogram) and
    # the migrated NTILE + percentile shapes
    "profile_spearman_rank",
    "events_peak_concurrency",
    "similarity_cosine_histogram",
    "profile_rfm_segmentation",
    "events_conversion_latency",
    # r12b additions: the heavy r12-born shapes — per-node triangle
    # attribution (enumeration-sized output), basket pair mining with
    # lift, pooled-midrank Mann-Whitney, and the constant-size CMS build
    "graph_local_clustering",
    "agg_association_rules",
    "profile_mann_whitney",
    "agg_count_min_sketch",
    # r13 additions: the two quantile sketches (constant state — the
    # mergeable-sketch contract should be visible as near-flat
    # growth, like count-min)
    "agg_quantile_sketch",
    "agg_exp_histogram",
]


def build_scaled(spark, replicas: int, out: str) -> None:
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rep = spark.range(replicas).select(F.col("id").cast("int").alias("__r"))

    def save(df, name):
        df.write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )

    # dims: straight copy
    for t in ("region", "nation", "customer", "supplier", "part"):
        save(spark.read.parquet(f"{SRC}/{t}.parquet"), t)

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).head()[0] + 1
    save(
        docs.crossJoin(F.broadcast(rep)).select(
            (F.col("doc_id") + F.col("__r") * F.lit(max_doc)).alias(
                "doc_id"
            ),
            # tag every vowel with the replica number: replica shingle
            # sets become disjoint, natural within-replica dups remain
            F.when(F.col("__r") == 0, F.col("text"))
            .otherwise(
                F.regexp_replace(
                    F.col("text"),
                    "([aeiou])",
                    F.concat(F.lit("$1"), F.col("__r").cast("string")),
                )
            )
            .alias("text"),
            *[
                c
                for c in docs.columns
                if c not in ("doc_id", "text")
            ],
        ),
        "documents",
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(emb.head()["embedding"])
    max_vec = emb.agg(F.max("vec_id")).head()[0] + 1
    save(
        emb.crossJoin(F.broadcast(rep)).select(
            (F.col("vec_id") + F.col("__r") * F.lit(max_vec)).alias(
                "vec_id"
            ),
            # rotate by 7*r elements: cross-replica cosine decorrelates
            F.when(F.col("__r") == 0, F.col("embedding"))
            .otherwise(
                F.concat(
                    F.slice(
                        "embedding",
                        (F.col("__r") * 7 % dim) + 1,
                        dim - (F.col("__r") * 7 % dim),
                    ),
                    F.slice("embedding", 1, F.col("__r") * 7 % dim),
                )
            )
            .alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ),
        "embeddings",
    )

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    max_ok = orders.agg(F.max("o_orderkey")).head()[0] + 1
    save(
        orders.crossJoin(F.broadcast(rep)).select(
            (F.col("o_orderkey") + F.col("__r") * F.lit(max_ok)).alias(
                "o_orderkey"
            ),
            *[c for c in orders.columns if c != "o_orderkey"],
        ),
        "orders",
    )
    save(
        li.crossJoin(F.broadcast(rep)).select(
            (F.col("l_orderkey") + F.col("__r") * F.lit(max_ok)).alias(
                "l_orderkey"
            ),
            *[c for c in li.columns if c != "l_orderkey"],
        ),
        "lineitem",
    )

    # write ts as µs TIMESTAMP like the source testdata (Spark's INT96
    # default would round-trip through pyarrow as TIMESTAMP(NANOS) and
    # change the layout the streaming fixtures see); conf is scoped to
    # this one write — restored in the finally so later parquet writes
    # on the shared session keep their original timestamp layout
    # (r10 ADVICE)
    _ts_key = "spark.sql.parquet.outputTimestampType"
    _ts_prev = spark.conf.get(_ts_key, None)
    spark.conf.set(_ts_key, "TIMESTAMP_MICROS")
    try:
        ev = spark.read.parquet(f"{SRC}/events.parquet")
        id_cols = [c for c in ("event_id", "user_id") if c in ev.columns]
        maxes = {
            c: ev.agg(F.max(c)).head()[0] + 1 for c in id_cols
        }
        save(
            ev.crossJoin(F.broadcast(rep)).select(
                *[
                    (
                        (F.col(c) + F.col("__r") * F.lit(maxes[c])).alias(c)
                        if c in id_cols
                        else F.col(c)
                    )
                    for c in ev.columns
                ]
            ),
            "events",
        )
    finally:
        if _ts_prev is None:
            spark.conf.unset(_ts_key)
        else:
            spark.conf.set(_ts_key, _ts_prev)


def main() -> None:
    # SPARK_GRAFT_GAUNTLET=q1,q2 re-times a subset (e.g. after a
    # rewrite) without paying for the full 22-query pass
    global GAUNTLET
    subset = os.environ.get("SPARK_GRAFT_GAUNTLET")
    if subset:
        GAUNTLET = [q.strip() for q in subset.split(",") if q.strip()]
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    base = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sparkgraft_scale"
    sf = 0.1 * replicas
    out = os.path.join(base, f"sf{sf:g}")
    spark = get_spark(
        app_name="scale-gauntlet",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        extra_conf={"spark.driver.memory": "24g"},
    )
    if not os.path.isdir(out) or os.environ.get("SPARK_GRAFT_REBUILD") == "1":
        t0 = time.perf_counter()
        build_scaled(spark, replicas, out)
        print(f"built {out} in {time.perf_counter() - t0:.1f}s", flush=True)
    for t in sorted(os.listdir(out)):
        n = spark.read.parquet(os.path.join(out, t)).count()
        print(f"  {t}: {n} rows", flush=True)

    # warmup compiles the generated code at tiny sf (bench methodology)
    for name in GAUNTLET:
        REGISTRY[name].spark_fn(spark, "/root/testdata/sf0.001").count()
    release(spark)

    print(f"\n| query | sf0.1 (r7 composite) | sf{sf:g} | ratio |")
    print("|---|---|---|---|")
    import json

    r7 = json.load(open(os.path.join(os.path.dirname(__file__), "..",
                                     "BENCH_r07.json")))
    r7q = (r7.get("parsed") or json.loads(
        r7["tail"].strip().splitlines()[-1]))["queries"]
    total = 0.0
    for name in GAUNTLET:
        release(spark)
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, out).count()
        el = time.perf_counter() - t0
        total += el
        base_t = r7q.get(name)
        ratio = f"{el / base_t:.1f}x" if base_t else "-"
        print(
            f"| {name} | {base_t if base_t else '-'} | {el:.2f} | {ratio} |",
            flush=True,
        )
    print(f"\ntotal: {total:.1f}s at sf{sf:g} on local[*]")
    spark.stop()


if __name__ == "__main__":
    main()
