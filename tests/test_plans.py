"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plan — filter/projection pushdown into the
parquet scan, broadcast joins for dims, TakeOrderedAndProject for top-k,
partial aggregation, and no quadratic join shapes in the dedup family."""

import pytest

from datarepo_spark.queries.registry import REGISTRY


def plan_of(spark, sf_dir, name):
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_windows_pid_scoped(plan, also_allowed=()):
    """The two-pass scale invariant (functions/twopass.py): every
    Window node either mentions __pid (local per-range pass, or the
    carry pass over the bounded per-partition totals) or is
    partitioned by one of ``also_allowed`` keys. A Window line with
    neither is an unpartitioned sort of a data-scaled frame — the
    single-task shape the r11 verdict flagged."""
    lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    for ln in lines:
        ok = "__pid" in ln or any(key in ln for key in also_allowed)
        assert ok, f"unscoped Window node: {ln.strip()[:200]}"


class TestPushdown:
    def test_q6_filter_and_projection_pushdown(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
        assert "PushedFilters: [" in plan
        assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
        # projection pruning: the scan must not read unneeded columns
        read_schema = plan.split("ReadSchema")[1][:400]
        assert "l_orderkey" not in read_schema
        assert "l_extendedprice" in read_schema

    def test_filter_compile_pushes_to_scan(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "filter_comparisons")
        assert "PushedFilters: [" in plan
        pushed = plan.split("PushedFilters")[1][:500]
        assert "p_size" in pushed and "p_retailprice" in pushed


class TestJoinStrategies:
    def test_q3_broadcasts_dimension(self, spark, sf_dir):
        assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "q3_shipping_priority")

    def test_q5_star_join_broadcasts(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
        assert plan.count("BroadcastHashJoin") >= 3

    def test_no_quadratic_joins_in_dedup(self, spark, sf_dir):
        for name in ("dedup_minhash_lsh", "dedup_simhash"):
            plan = plan_of(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name

    def test_semi_join_for_exists(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q4_order_priority")
        assert "LeftSemi" in plan


class TestAggAndSort:
    def test_topk_plans_take_ordered(self, spark, sf_dir):
        assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "sort_topk")

    def test_q1_partial_aggregation(self, spark, sf_dir):
        # partial (map-side) agg before the exchange, final after
        plan = plan_of(spark, sf_dir, "q1_pricing_summary")
        assert plan.count("HashAggregate") >= 2
        assert "Exchange" in plan

    def test_exact_dedup_shuffles_hash_not_text(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "dedup_exact_sha256")
        # the exchange key is the sha hash, and full text is not carried
        # through the aggregate exchange
        agg_section = plan.split("Exchange hashpartitioning")[1][:200]
        assert "__ck" in agg_section or "sha2" in agg_section

    def test_repetition_is_relational_partial_agg(self, spark, sf_dir):
        """Repetition metrics must be explode→partial-agg (combinable
        map-side), not higher-order array aggregates, and document text
        must not survive into the final joins."""
        plan = plan_of(spark, sf_dir, "text_repetition")
        assert plan.count("HashAggregate") >= 4  # partial+final × 2 legs
        assert "Generate" in plan  # explode-based, not array-expression

    def test_pq_candidate_selection_is_take_ordered(self, spark, sf_dir):
        """PQ's ADC top-(k·refine) must plan TakeOrderedAndProject (heap,
        O(candidates) memory), never a global sort of the corpus."""
        plan = plan_of(spark, sf_dir, "similarity_ann_pq")
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan.replace("TakeOrderedAndProject", "")

    def test_curate_pipeline_scans_documents_once(self, spark, sf_dir):
        """r2/r3 verdict item: the curation pipeline must not evaluate
        the scored-document projection twice. exact_dedup_project's
        min-struct aggregation needs exactly one parquet scan of
        documents and no join."""
        plan = plan_of(spark, sf_dir, "pipeline_curate_documents")
        assert plan.count("documents.parquet") == 1, plan
        assert "Join" not in plan


class TestWholeStageCodegen:
    @pytest.mark.parametrize(
        "name", ["q1_pricing_summary", "fn_math_suite", "text_quality_score"]
    )
    def test_hot_path_is_codegened(self, spark, sf_dir, name):
        # whole-stage codegen stages print as "*(n) Operator". Plans with
        # exchanges are AQE-wrapped and only show codegen in the FINAL
        # plan, so execute first.
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        df.collect()  # count() would build a different QueryExecution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan


class TestMinHashShuffleContract:
    def test_signature_pipeline_single_exchange(self, spark, sf_dir):
        """The MinHash signature must cost exactly ONE exchange, of
        O(docs x lanes) partial-min rows — never a shuffle of the
        exploded shingle stream (shingle_rows is scan->explode->concat
        in one codegen stage; the partial aggregate combines map-side)."""
        from pyspark.sql import functions as F

        from datarepo_spark.functions import dedup as D

        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = D.shingle_rows(df, "text", "doc_id", 3)
        hashed = rows.select(
            "doc_id", F.xxhash64(F.col("gram")).alias("__h")
        )
        sig = hashed.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
                for i in range(64)
            ]
        )
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


class TestRangeJoin:
    def test_range_join_is_hash_join_not_nested_loop(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "join_range_bucketed")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" in plan  # a real equi hash/merge join on the bucket

    def test_range_join_matches_naive(self, spark, sf_dir):
        from pyspark.sql import functions as F

        got = REGISTRY["join_range_bucketed"].spark_fn(spark, sf_dir)
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        naive = (
            s.join(
                c,
                (s.s_nationkey == c.c_nationkey)
                & (s.s_acctbal >= c.c_acctbal - 250.0)
                & (s.s_acctbal <= c.c_acctbal + 250.0),
            )
            .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
        )
        expected = sorted(map(tuple, naive.collect()))
        assert expected, "band too narrow — comparison would be vacuous"
        assert sorted(map(tuple, got.collect())) == expected

    def test_range_join_validates_args(self, spark, sf_dir):
        import pytest as _pytest

        from datarepo_spark.operators.range_join import range_join

        df = spark.range(1).selectExpr("id as p", "id as lo", "id as hi")
        with _pytest.raises(ValueError):
            range_join(df, df, "p", "lo", "hi", bucket_width=0)
        with _pytest.raises(ValueError):
            range_join(df, df, "p", "lo", "hi", 1.0, how="left")


class TestSession2Plans:
    """Plan contracts for the round-4 session-2 operators."""

    def test_packing_single_exchange(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "pipeline_pack_sequences")
        # one shuffle: the per-shard running-sum window; the explode adds
        # no exchange of its own
        assert plan.count("Exchange") == 1
        # the scan reads only (doc_id, text) — never other columns
        read_schema = plan.split("ReadSchema")[1][:200]
        assert "lang" not in read_schema and "source" not in read_schema

    def test_perplexity_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "text_perplexity")
        assert "CartesianProduct" not in plan
        # the scalar totals row rides a broadcast
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_fuzzy_join_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "join_fuzzy_editdist")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_duplicate_spans_semi_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "dedup_duplicate_spans")
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_nb_classifier_broadcasts_model_dims(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "classify_nb_language")
        # the class set and totals are broadcast; the big joins are
        # token-keyed hash joins, never a cartesian over the corpus
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan

    def test_funnel_reuses_user_partitioning(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "events_funnel")
        # stage joins/aggs key on user_id throughout; Spark needs at
        # most one exchange per scan branch (3 stages), not one per
        # stage-join step
        assert plan.count("CartesianProduct") == 0
        assert plan.count("Exchange hashpartitioning") <= 6


class TestRound5Plans:
    def test_weighted_sample_is_scan_plus_takeordered(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "sample_weighted")
        assert "TakeOrderedAndProject" in plan
        # zero shuffles: the rank is a projection, top-k needs no sort
        assert "Exchange hashpartitioning" not in plan

    def test_bm25_three_scans_one_explode(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "text_bm25_search")
        assert plan.count("Scan parquet") + plan.count("FileScan") <= 6
        assert plan.count("Generate explode") == 1
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_tfidf_text_never_shuffles(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "text_tfidf_keywords")
        assert "CartesianProduct" not in plan
        # exchanges carry token/id aggregates, never the text column
        for seg in plan.split("Exchange hashpartitioning")[1:]:
            assert "text#" not in seg.split("+-")[0]

    def test_pagerank_no_cartesian_no_global_sort(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "graph_pagerank")
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan  # top-k, not full sort

    def test_group_quota_single_group_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "sample_group_quota")
        # one exchange: the per-source window
        assert plan.count("Exchange hashpartitioning") == 1


class TestRound6Plans:
    def test_token_budget_no_global_corpus_sort(self, spark, sf_dir):
        """The budget selection must NOT range-sort the corpus: a global
        orderBy plans Exchange rangepartitioning; the two-level bucket
        plan's only sorts are SinglePartition windows over the tiny
        bucket table and the one boundary-bucket slice."""
        plan = plan_of(spark, sf_dir, "pipeline_token_budget")
        assert "rangepartitioning" not in plan
        assert "CartesianProduct" not in plan
        # both full-bucket and boundary joins broadcast the tiny side
        assert plan.count("BroadcastHashJoin") >= 2

    def test_dedup_index_probe_broadcasts_batch(self, spark, sf_dir):
        """The incremental-dedup probe must broadcast the BATCH buckets
        so the corpus index table streams past them — never a shuffle of
        the index side on (band, bucket)."""
        plan = plan_of(spark, sf_dir, "dedup_incremental_index")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin [band" in plan or (
            "BroadcastHashJoin" in plan and "band" in plan
        )
        # no sort-merge join anywhere in the probe (index never sorts)
        assert "SortMergeJoin [band" not in plan

    def test_ann_index_pq_partition_prunes_both_scans(self, spark, sf_dir):
        """IVF-PQ search: the ADC scan reads codes (not vectors), the
        refine scan reads vectors — both only inside pruned cells, and
        the candidate semi-join broadcasts."""
        plan = plan_of(spark, sf_dir, "similarity_ann_index_pq")
        assert "CartesianProduct" not in plan
        schemas = [
            seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]
        ]
        code_scans = [s for s in schemas if "codes" in s]
        assert code_scans and all(
            "embedding" not in s for s in code_scans
        )
        assert "TakeOrderedAndProject" in plan


class TestMultimodalPlans:
    @pytest.mark.parametrize(
        "name",
        [
            "multimodal_near_dup",
            "multimodal_audio_near_dup",
            "multimodal_video_near_dup",
            "pipeline_curate_multimodal",
        ],
    )
    def test_no_quadratic_shapes(self, spark, sf_dir, name):
        """Every multimodal dedup path must pair via banded equi-joins
        on 8-byte signatures — never a cross join over media rows."""
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound7Plans:
    def test_nucleus_no_global_group_sort(self, spark, sf_dir):
        """Per-group nucleus selection must not range-sort the corpus:
        the two-level bucket plan's only sorts are the per-group bucket
        window (tiny) and the boundary-bucket slice; the full-bucket
        and boundary joins broadcast."""
        plan = plan_of(spark, sf_dir, "pipeline_nucleus_topp")
        assert "rangepartitioning" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 2

    def test_kmeans_assign_no_explode_no_window(self, spark, sf_dir):
        """The assignment step computes the argmax row-local over the
        broadcast centroid literals: no row explosion (Generate), no
        per-vector window, no join at all — the only exchange is the
        final k-row aggregate."""
        plan = plan_of(spark, sf_dir, "similarity_kmeans_assign")
        assert "Generate" not in plan  # no posexplode of centroids
        assert "Window" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_winsorized_envelope_broadcasts(self, spark, sf_dir):
        """Rank window per group; the |groups|-row mark/envelope frames
        join back broadcast — the corpus never shuffles for them."""
        plan = plan_of(spark, sf_dir, "profile_winsorized")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 2
        assert "rangepartitioning" not in plan

    def test_diverse_cells_single_shuffle(self, spark, sf_dir):
        """Row-local assignment composes with the quota at exactly one
        exchange (the per-cell window); no join, no explode."""
        plan = plan_of(spark, sf_dir, "sample_diverse_cells")
        assert "Generate" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_curriculum_shards_no_rangepartitioning(self, spark, sf_dir):
        """Exact NTILE without the global sort: no rangepartitioning,
        prefix/envelope joins broadcast; the only non-tiny exchange is
        the bucket-keyed hash shuffle."""
        plan = plan_of(spark, sf_dir, "pipeline_curriculum_shards")
        assert "rangepartitioning" not in plan
        assert "CartesianProduct" not in plan  # env cross join broadcasts
        assert plan.count("BroadcastHashJoin") >= 1

    def test_gram_scorers_broadcast_head_sets(self, spark, sf_dir):
        """Boilerplate: the Zipf-head gram set joins back broadcast;
        novelty: min-owner joins on the gram stream; neither plan may
        cartesian or range-sort."""
        for name in ("text_boilerplate_fraction", "text_novelty_score"):
            plan = plan_of(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, name
            assert "rangepartitioning" not in plan, name
        plan = plan_of(spark, sf_dir, "text_boilerplate_fraction")
        assert "BroadcastHashJoin" in plan  # the boilerplate set

    def test_curate_v3_composes_without_quadratic_shapes(
        self, spark, sf_dir
    ):
        plan = plan_of(spark, sf_dir, "pipeline_curate_v3")
        assert "CartesianProduct" not in plan
        assert "rangepartitioning" not in plan

    def test_cluster_split_text_never_enters_propagation(
        self, spark, sf_dir
    ):
        """The component iteration runs on the pair graph only; the
        final frame is ids + component + split — no cartesian, no
        range sort, and no text column in any exchange."""
        import re

        from datarepo_spark.queries.registry import REGISTRY

        df = REGISTRY["sample_cluster_split"].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for cols in re.findall(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", formatted
        ):
            assert "text#" not in cols, cols

    def test_salted_join_replicates_dim(self, spark, sf_dir):
        """The dim side must explode salt-times (Generate) and the join
        keys must include the salt — spreading a hot fact key across
        salt reducers; never a cartesian."""
        plan = plan_of(spark, sf_dir, "skew_salted_join")
        assert "Generate explode" in plan
        assert "__salt" in plan
        assert "CartesianProduct" not in plan


class TestRound8Plans:
    def test_char_entropy_is_shuffle_free(self, spark, sf_dir):
        """Entropy is row-local: a pure projection over the scan — no
        exchange, no join, no explode. The per-doc quality signal must
        cost a single map stage at 100 TB."""
        plan = plan_of(spark, sf_dir, "text_char_entropy")
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "Generate" not in plan

    def test_containment_is_inverted_index_join(self, spark, sf_dir):
        """Containment pairs come from the gram equi-join: no cartesian
        product, no per-pair list intersections (no array_intersect in
        the plan), shared-gram COUNT is a partial aggregate."""
        plan = plan_of(spark, sf_dir, "dedup_ngram_containment")
        assert "CartesianProduct" not in plan
        assert "array_intersect" not in plan
        assert "partial_count" in plan

    def test_temperature_weights_single_corpus_exchange(
        self, spark, sf_dir
    ):
        """The grouped count is the only corpus-sized exchange; the
        window runs on the tiny group frame (single partition is fine
        there), and nothing joins."""
        plan = plan_of(spark, sf_dir, "pipeline_mixture_temperature")
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_correlation_is_partial_agg_only(self, spark, sf_dir):
        """Five decimal co-moments in ONE grouped aggregate: partial
        aggregation map-side, a single hash exchange on the group key,
        no window, no join."""
        plan = plan_of(spark, sf_dir, "profile_correlation")
        assert "partial_sum" in plan or "partial_count" in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan and "Window" not in plan

    def test_debounce_single_window_exchange(self, spark, sf_dir):
        """lag + cumulative sum + burst aggregate all share the
        (user, type) partitioning: exactly one hash exchange."""
        plan = plan_of(spark, sf_dir, "events_debounce")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan

    def test_radius_search_is_shuffle_free(self, spark, sf_dir):
        """Range search is a pure map stage: row-local cosine vs the
        broadcast literal + filter — no exchange, no join, no sort."""
        plan = plan_of(spark, sf_dir, "similarity_radius_search")
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "Sort" not in plan

    def test_sequence_ngrams_one_window_then_topk(self, spark, sf_dir):
        """lead×2 shares one (user)-keyed window exchange; the final
        top-20 is TakeOrdered, never a global sort."""
        plan = plan_of(spark, sf_dir, "events_sequence_ngrams")
        assert plan.count("Window") == 1
        assert "TakeOrderedAndProject" in plan
        assert "rangepartitioning" not in plan

    def test_weighted_avg_partial_agg(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "agg_weighted_avg")
        assert "partial_sum" in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_temperature_sample_broadcast_quota_one_window(
        self, spark, sf_dir
    ):
        """The per-source quota frame joins back broadcast (corpus never
        shuffles for it); the only corpus exchanges are the grouped
        count and the source-keyed selection window."""
        plan = plan_of(spark, sf_dir, "pipeline_temperature_sample")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning" not in plan

    def test_asof_forward_no_nested_loop(self, spark, sf_dir):
        """The forward as-of composes from the same union +
        carry-window as backward: no cartesian/nested-loop join, no
        rangepartitioning of the corpus."""
        plan = plan_of(spark, sf_dir, "join_asof_forward")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_skew_kurtosis_partial_agg_only(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "profile_skew_kurtosis")
        assert "partial_sum" in plan or "partial_count" in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan and "Window" not in plan

    def test_dedup_rate_shuffles_hash_not_text(self, spark, sf_dir):
        """COUNT(DISTINCT sha256) per source: the two-phase distinct
        aggregate exchanges on (source, 64-char key) — never the text —
        and nothing joins."""
        plan = plan_of(spark, sf_dir, "dedup_rate_by_source")
        assert plan.count("Exchange hashpartitioning") == 2
        assert "Join" not in plan
        assert "partial_count" in plan


class TestRound9Plans:
    def test_ewma_single_exchange_no_join(self, spark, sf_dir):
        """EWMA is one keyed window + a row-local bounded fold: exactly
        one exchange, no join, no generate."""
        plan = plan_of(spark, sf_dir, "events_ewma")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan and "Generate" not in plan

    def test_resample_ffill_no_join_grid_is_generate(self, spark, sf_dir):
        """The grid is sequence+explode (Generate — row-local, never a
        driver loop) and the fill is the union-carry as-of: no join
        operator of any kind appears."""
        plan = plan_of(spark, sf_dir, "events_resample_ffill")
        assert "Generate" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange hashpartitioning") <= 3

    def test_asof_nearest_single_exchange_two_sorts(self, spark, sf_dir):
        """Nearest needs both time directions: the desc-ordered window
        must REUSE the asc window's hash partitioning (one exchange,
        two sorts), not shuffle again."""
        plan = plan_of(spark, sf_dir, "join_asof_nearest")
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Sort") == 2
        assert "Join" not in plan

    def test_entropy_by_source_two_level_agg(self, spark, sf_dir):
        """Two map-side-combinable aggregates; only (source, lang,
        count) tuples shuffle — no join, no window, no text columns
        past the first partial aggregate."""
        plan = plan_of(spark, sf_dir, "profile_entropy_by_source")
        assert plan.count("Exchange hashpartitioning") == 2
        assert plan.count("HashAggregate") == 4
        assert "Join" not in plan and "Window" not in plan

    def test_shuffle_shards_no_global_sort(self, spark, sf_dir):
        """The corpus shuffle must be shard-then-sort-within: ONE hash
        exchange, NO rangepartitioning (a global ORDER BY would need a
        sampling pass + range exchange of the whole corpus)."""
        plan = plan_of(spark, sf_dir, "pipeline_shuffle_shards")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "rangepartitioning" not in plan
        assert "Join" not in plan

    def test_phash_is_pure_map(self, spark, sf_dir):
        """The DCT hasher is a single Arrow-batched map stage: no join,
        no exchange — image bytes never leave their scan tasks. (r13
        final: the mid-round spread_input routing of the media-decode
        boundaries was REVERTED after a paired same-session A/B
        measured it a 1.3-2x loss on the O(100)-row gate frames; the
        spread_input no-op-on-healthy-input contract itself stays
        pinned below and in TestSpreadInput.)"""
        plan = plan_of(spark, sf_dir, "multimodal_phash")
        assert "Exchange" not in plan
        assert "Join" not in plan

        from datarepo_spark.core.exec import spread_input
        from datarepo_spark.queries.extensions import _ahash_gate_media

        media = _ahash_gate_media(spark, sf_dir).repartition(
            8, "media_id"
        )
        # already-parallel input: spread_input must be an exact no-op,
        # so a production-scale gram plan stays single-exchange
        assert spread_input(media, "media_id") is media

    def test_runtime_bloom_filter_reaches_fact_scan(self, spark, sf_dir):
        """At 100 TB a selective dim predicate must reach the FACT side
        even when the dim is too big to broadcast: Spark's runtime
        row-level filtering injects a bloom_filter_agg on the dim and a
        might_contain() filter above the fact scan. Local thresholds
        are sized for real clusters, so the test pins the behavior with
        the scan-size threshold lowered and broadcast disabled — the
        production-scale shape."""
        from pyspark.sql import functions as F

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
                F.col("p_size") < 5
            )
            j = li.join(part, li.l_partkey == part.p_partkey).groupBy(
                "p_brand"
            ).count()
            opt = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in opt
            assert "might_contain" in opt
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    def test_triangle_count_no_nested_loop(self, spark, sf_dir):
        """Every triangle join is an equi-join (the closing edge is
        keyed on the canonical pair, never an OR of orientations —
        OR-joins plan as nested loop)."""
        plan = plan_of(spark, sf_dir, "graph_triangle_count")
        assert "CartesianProduct" not in plan
        # exactly ONE nested-loop join: the deliberate 1-row x 1-row
        # scalar cross assembling (triangles, wedges) at the end
        assert plan.count("BroadcastNestedLoopJoin") == 1
        # the persisted edge/oriented frames feed every join via
        # InMemoryTableScan (broadcast conversion breaks ReusedExchange)
        assert "InMemoryTableScan" in plan
        # neighbor intersection happens in a PROJECTION, never by
        # materializing the wedge set through a shuffle join. Two
        # legal spellings (r14): the dense-gated bitmap path
        # (zip_with + bit_count word AND+popcounts — what the sf0.1
        # supplier graph takes) or the sparse oriented-adjacency path
        # (array_intersect over out-neighbor arrays)
        assert "bit_count" in plan or "array_intersect" in plan


class TestRoundTenAnalysis:
    """Plan shapes for the r10 analysis family (queries/analysis.py)."""

    def test_interval_overlap_is_hash_join(self, spark, sf_dir):
        """The interval×interval join must plan as a bucketed hash
        equi-join — never a nested loop / cartesian, which is what a
        bare inequality self-join would produce."""
        plan = plan_of(spark, sf_dir, "join_interval_overlap")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" in plan  # the equi-join survived

    def test_iqr_never_collects_and_sorts_per_group(self, spark, sf_dir):
        """Exact quantiles come from window ranks (distributed sort per
        group), and the fence frame joins back as a broadcast — no
        corpus-side global sort, no driver collect in the plan."""
        plan = plan_of(spark, sf_dir, "profile_iqr_outliers")
        assert "Window" in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_mad_two_window_passes(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "events_anomaly_mad")
        assert plan.count("Window") >= 2  # median, then MAD
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_rrf_bounded_rank_lists(self, spark, sf_dir):
        """Both rank lists are bounded top-50 before the fuse join; the
        corpus itself never reaches the full-outer join."""
        plan = plan_of(spark, sf_dir, "text_rrf_fusion")
        assert "TakeOrderedAndProject" in plan
        assert "FullOuter" in plan
        assert "CartesianProduct" not in plan

    def test_degree_distribution_two_aggregates(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "graph_degree_distribution")
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_streaming_twin_batch_shape(self, spark, sf_dir):
        """The streaming twin's BATCH equivalent (events_ewma) pins the
        one-exchange shape; here we only pin that the stream's logical
        plan contains the stateful operator (the stream itself is
        executed by the gate query, not planned here)."""
        from datarepo_spark.streaming.stateful import stateful_ewma

        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .selectExpr(
                "CAST(value AS BIGINT) AS event_id",
                "timestamp AS ts",
                "CAST(value % 10 AS BIGINT) AS user_id",
                "CAST(value AS DOUBLE) AS value",
            )
        )
        result = stateful_ewma(stream)
        assert result.isStreaming
        plan = result._jdf.queryExecution().analyzed().toString()
        assert "FlatMapGroupsInPandasWithState" in plan


class TestRoundTenScaleShapes:
    """Plan shapes for the second r10 batch (prefix-filter join, KS
    drift, batch kNN)."""

    def test_prefix_filter_no_quadratic_join(self, spark, sf_dir):
        """Candidates come from an equi-join on prefix tokens — never a
        cartesian over the corpus."""
        plan = plan_of(spark, sf_dir, "dedup_jaccard_prefix")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ks_drift_no_global_cumulative_window(self, spark, sf_dir):
        """The distributed ECDF must not contain a single-partition
        window over the full per-value stream: the value-level
        cumulative window is partitioned by the bucket key (parallel
        across buckets); only the bucket-frame window (rows = #buckets)
        runs unpartitioned."""
        df = REGISTRY["profile_ks_drift"].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        # the per-value cumulative window hashes on the bucket key
        assert re.search(r"hashpartitioning\(__bkt", plan), plan[:500]
        assert "CartesianProduct" not in plan

    def test_batch_knn_partial_topk_below_exchange(self, spark, sf_dir):
        """One corpus scan with the query frame broadcast (the BNLJ is
        the deliberate tiny-broadcast cross); cosine is projected BELOW
        the per-query exchange so only (query, id, score) triples
        shuffle — and Spark's WindowGroupLimit keeps a PARTIAL top-k
        per partition before the exchange, so at most k rows per query
        per partition transit."""
        plan = plan_of(spark, sf_dir, "similarity_batch_knn")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # tiny broadcast cross
        assert "WindowGroupLimit" in plan
        assert ", Partial" in plan  # partial top-k below the shuffle
        # the exchange keys on query_id, and the embedding column never
        # appears above it
        exch = plan.index("Exchange hashpartitioning(query_id")
        assert "embedding" not in plan[:exch]


class TestRoundTenObservability:
    def test_quality_funnel_single_scan(self, spark, sf_dir):
        """True funnel semantics from ONE corpus scan: all ten stage
        counters are sums of boolean conjunctions in a single aggregate
        — no join, no second FileScan of documents."""
        plan = plan_of(spark, sf_dir, "pipeline_quality_funnel")
        assert plan.count("FileScan parquet") == 1
        assert "Join" not in plan
        assert "Generate" in plan or "stack" in plan.lower()

    def test_zipf_profile_takeordered_top100(self, spark, sf_dir):
        """The top-100 coverage comes from a TakeOrdered (per-partition
        heap), never a global sort; the two scalar frames meet in the
        deliberate 1x1 broadcast cross."""
        plan = plan_of(spark, sf_dir, "text_zipf_profile")
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan.split("TakeOrderedAndProject")[0]

    def test_asof_tolerance_one_exchange(self, spark, sf_dir):
        """The tolerance cut is row-local over the same carried window
        state — it must not add an exchange over the backward asof's
        single keyed shuffle (scan-side exchanges aside)."""
        plan = plan_of(spark, sf_dir, "join_asof_tolerance")
        base = plan_of(spark, sf_dir, "join_asof_backward")
        assert plan.count("Exchange hashpartitioning") <= base.count(
            "Exchange hashpartitioning"
        )
        assert "CartesianProduct" not in plan


class TestRoundTenGraphShapes:
    def test_personalized_pagerank_no_extra_exchanges(self, spark, sf_dir):
        """The seed-set teleport is a row-local CASE on a literal: PPR's
        final-iteration plan must contain no more exchanges than uniform
        PageRank's (same join+aggregate skeleton)."""
        ppr = plan_of(spark, sf_dir, "graph_personalized_pagerank")
        pr = plan_of(spark, sf_dir, "graph_pagerank")
        assert ppr.count("Exchange") <= pr.count("Exchange")
        assert "CartesianProduct" not in ppr

    def test_label_propagation_keyed_argmax(self, spark, sf_dir):
        """The gate query's final plan is checkpoint-truncated (each
        round materializes), so pin the per-ROUND shape directly: join
        + count aggregate + node-keyed argmax window, no nested loop —
        and the gate plan itself must carry no quadratic join."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        plan = plan_of(spark, sf_dir, "graph_label_propagation")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

        e = spark.createDataFrame(
            [("a", "b"), ("b", "a")], ["__from", "__to"]
        )
        labels = e.select(F.col("__from").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        votes = (
            e.select(F.col("__from").alias("node"), "__to")
            .join(labels, "node")
            .groupBy(F.col("__to").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("__c"), F.asc("label"))
        winner = votes.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") == 1
        )
        round_plan = winner._jdf.queryExecution().executedPlan().toString()
        assert "Window" in round_plan
        assert "CartesianProduct" not in round_plan

    def test_seasonal_profile_two_aggregates(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "events_seasonal_profile")
        assert "HashAggregate" in plan
        assert "BroadcastHashJoin" in plan  # totals broadcast back
        assert "CartesianProduct" not in plan


class TestNullSafeJoinShape:
    def test_null_safe_join_is_hash_join(self, spark, sf_dir):
        """eqNullSafe must plan a hash/merge join keyed on the
        null-safe wrapper — NOT a BroadcastNestedLoopJoin (the trap
        when the condition is written as an OR of equals/is-nulls)."""
        plan = plan_of(spark, sf_dir, "join_null_safe")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" in plan


class TestRoundTenBAnalysisShapes:
    """Plan shapes for the r10b batch (trend/TWAP/rolling-median/
    chi-square/Gini)."""

    def test_linear_trend_single_aggregate_pass(self, spark, sf_dir):
        """All five co-moment sums come from ONE map-side-combinable
        aggregate over one scan — no window, no join, no second pass."""
        plan = plan_of(spark, sf_dir, "profile_linear_trend")
        assert "HashAggregate" in plan
        assert "Window" not in plan
        assert "Join" not in plan
        # exactly one shuffle: the groupBy key exchange (plus the
        # output sort's range exchange)
        assert plan.count("Exchange hashpartitioning") == 1

    def test_twap_one_window_one_aggregate(self, spark, sf_dir):
        """lead() and the sums share the event_type partitioning: one
        hash exchange feeds both the window and the groupBy."""
        plan = plan_of(spark, sf_dir, "events_time_weighted_avg")
        assert "Window" in plan
        assert "HashAggregate" in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_rolling_median_no_join_no_extra_exchange(self, spark, sf_dir):
        """percentile(0.5) over the rows frame is a single window pass
        partitioned by supplier; the suppkey filter is pushed to the
        scan."""
        plan = plan_of(spark, sf_dir, "window_rolling_median")
        assert "Window" in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "PushedFilters" in plan and "l_suppkey" in plan

    def test_chi_square_marginals_broadcast(self, spark, sf_dir):
        """Cell counts join their row/column marginals via broadcast
        (marginal tables are |sources| and |langs| rows); the term fold
        is a collect_list aggregate, never a driver-side loop."""
        plan = plan_of(spark, sf_dir, "profile_chi_square")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "collect_list" in plan

    def test_gini_one_window_one_aggregate(self, spark, sf_dir):
        """Rank assignment and the integer sums share the source
        partitioning — one exchange, no join-back."""
        plan = plan_of(spark, sf_dir, "profile_gini")
        assert "Window" in plan
        assert "HashAggregate" in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestBootstrapAndTTestShapes:
    def test_bootstrap_is_one_combinable_aggregate(self, spark, sf_dir):
        """The Poisson bootstrap must be explode(B) -> ONE partial+final
        aggregate keyed on the replicate id — no per-replicate corpus
        pass, no join, no window."""
        plan = plan_of(spark, sf_dir, "profile_bootstrap_ci")
        assert "Generate" in plan  # the explode(B)
        assert "Window" not in plan
        assert "Join" not in plan
        # replicate-keyed exchange + the final single-row collect
        assert plan.count("Exchange hashpartitioning") == 1
        # map-side combine before the exchange
        assert plan.count("HashAggregate") >= 2

    def test_welch_pairs_join_is_tiny_broadcast(self, spark, sf_dir):
        """The inequality self-join runs over the 20-row per-source
        stats frame (a deliberate broadcast nested loop of 20x20), and
        the corpus itself is scanned once into one aggregate."""
        plan = plan_of(spark, sf_dir, "profile_welch_ttest")
        # both join sides read the PERSISTED stats frame (the parquet
        # path also appears inside each cached-plan description, so
        # count InMemoryTableScans, not path mentions — the file scan
        # itself runs once, to populate the cache)
        assert plan.count("InMemoryTableScan") == 2
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan


class TestTimeSeriesDiagnosticsShapes:
    def test_autocorrelation_series_window_after_aggregate(
        self, spark, sf_dir
    ):
        """The lead() window runs over the AGGREGATED hour-grain series
        (tiny at any scale), never over raw events; the heavy hourly
        count is a partial+final aggregate."""
        plan = plan_of(spark, sf_dir, "events_autocorrelation")
        assert "Window" in plan
        assert "Generate" in plan  # the 3-lag stack explode
        assert plan.count("HashAggregate") >= 4  # hourly + per-lag
        assert "Join" not in plan

    def test_cusum_integer_prefix_windows(self, spark, sf_dir):
        """CUSUM uses the prefix-sum/prefix-min identity: two ordered
        windows over the hour-grain series plus a broadcast join of the
        per-type totals — no recursive UDF, no fold over collected
        arrays."""
        plan = plan_of(spark, sf_dir, "events_cusum_drift")
        assert plan.count("Window") >= 2
        assert "BroadcastHashJoin" in plan
        assert "aggregate(" not in plan  # no array fold in the plan
        assert "CartesianProduct" not in plan


class TestSceneCutShape:
    def test_scene_cuts_one_media_window_no_join(self, spark, sf_dir):
        """Hamming distances come from ONE media-keyed lag window over
        the per-frame hash stream; frames never join against frames."""
        plan = plan_of(spark, sf_dir, "multimodal_scene_cuts")
        assert "Window" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan


class TestExpectationsAndRollingDistinct:
    def test_expectations_fk_is_hash_join(self, spark, sf_dir):
        """The referential-integrity rule plans a broadcast hash join
        (anti-join count), never a nested loop; every rule leg is a
        partial+final aggregate."""
        plan = plan_of(spark, sf_dir, "profile_expectations")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Union" in plan

    def test_rolling_distinct_explodes_grid_not_events(self, spark, sf_dir):
        """The 24x explode must run AFTER the distinct (hour, user)
        collapse — the Generate's child reads the persisted grid, not
        the raw event scan."""
        plan = plan_of(spark, sf_dir, "events_rolling_distinct_users")
        assert "Generate" in plan
        assert "InMemoryTableScan" in plan  # the persisted grid
        # the explode consumes the cached grid, not the parquet scan
        gen_idx = plan.index("Generate")
        assert "InMemoryTableScan" in plan[gen_idx:]
        assert "CartesianProduct" not in plan


class TestSessionizeTwinShape:
    def test_streaming_sessionize_uses_native_session_window(self, spark):
        """The sessionize twin must plan Spark's native session_window
        merge (SessionWindow state store), not a pandas fallback."""
        from datarepo_spark.streaming.events import session_aggregation

        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1)
            .load()
            .selectExpr(
                "timestamp AS ts",
                "CAST(value % 10 AS BIGINT) AS user_id",
            )
        )
        result = session_aggregation(stream, gap="30 minutes")
        assert result.isStreaming
        plan = result._jdf.queryExecution().analyzed().toString()
        assert "session_window" in plan or "SessionWindow" in plan


class TestFrequentItemsetsShape:
    def test_pair_join_is_basket_keyed_topk_take_ordered(self, spark, sf_dir):
        """Pairs come from the basket-keyed equi self-join (bounded by
        basket sizes); the top-20 is a TakeOrdered heap, and the
        support/metric attach joins broadcast."""
        plan = plan_of(spark, sf_dir, "agg_frequent_itemsets")
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        # the one BNLJ is the deliberate 1-row n_baskets cross
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        assert "InMemoryTableScan" in plan  # persisted basket frame


class TestFingerprintShape:
    def test_fingerprint_single_combinable_aggregate(self, spark, sf_dir):
        """The fingerprint is ONE partial+final aggregate over a
        projection — hashing happens below the exchange, so only
        (month, partial-sum) rows shuffle, never row text."""
        plan = plan_of(spark, sf_dir, "profile_table_fingerprint")
        assert plan.count("HashAggregate") >= 2
        assert "Join" not in plan
        assert "Window" not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestCardinalityEstimateShape:
    def test_sample_join_broadcasts_key_side(self, spark, sf_dir):
        """The 2% key sample broadcasts into the fact join; no
        cartesian anywhere (the two scalar attaches are deliberate
        1-row broadcasts)."""
        plan = plan_of(spark, sf_dir, "profile_join_cardinality_estimate")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestAucShape:
    def test_auc_cells_then_prefix_window(self, spark, sf_dir):
        """AUC aggregates per-VALUE cells first (combinable), then the
        two-pass distributed prefix sum over those cells (r12
        migration: length cells are value-domain bounded but megabyte
        documents make that ~1e6 cells — no single-task sort). The
        only join is the primitive's bounded carry broadcast."""
        plan = plan_of(spark, sf_dir, "classify_auc")
        assert "Window" in plan
        assert plan.count("HashAggregate") >= 2
        _assert_windows_pid_scoped(plan)


class TestCalibrationShape:
    def test_calibration_single_aggregate_no_join(self, spark, sf_dir):
        """Scoring is a pure projection (token filters in codegen);
        the decile report is ONE partial+final aggregate."""
        plan = plan_of(spark, sf_dir, "classify_calibration")
        assert "Join" not in plan
        assert "Window" not in plan
        assert plan.count("HashAggregate") >= 2


class TestHourlyP95Shape:
    def test_quantiles_are_window_rank_not_collect(self, spark, sf_dir):
        """Both percentiles come from window ranks (distributed sort
        per hour bucket) joined back as tiny broadcasts — no global
        sort of the corpus, no collect in the plan."""
        plan = plan_of(spark, sf_dir, "events_hourly_p95")
        assert plan.count("Window") >= 2
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestIntervalJoinTwinShape:
    def test_stream_stream_join_plans_stateful_join(self, spark, sf_dir):
        """The twin must plan a genuine stream-stream join (two
        watermarked streaming relations feeding one join), not a
        stream-static fallback."""
        from pyspark.sql import functions as F

        from datarepo_spark.streaming.joins import interval_join

        def rate_side(tname):
            return (
                spark.readStream.format("rate")
                .option("rowsPerSecond", 1)
                .load()
                .selectExpr(
                    "CAST(value % 10 AS BIGINT) AS user_id",
                    "value AS event_id",
                    "timestamp AS ts",
                )
            )

        j = interval_join(
            rate_side("a"), rate_side("b"), key="user_id",
            lower="-10 minutes", upper="0 seconds",
        )
        assert j.isStreaming
        plan = j._jdf.queryExecution().analyzed().toString()
        assert plan.count("EventTimeWatermark") == 2
        assert "Join Inner" in plan


class TestConformalShape:
    def test_conformal_fit_and_quantile_broadcast(self, spark, sf_dir):
        """The fit frame (1 row) and quantile frame (1 row) broadcast
        into the calibration/test passes; the only window is the
        calibration residual sort (bounded to the cal split)."""
        plan = plan_of(spark, sf_dir, "profile_conformal_interval")
        assert "Window" in plan
        assert "CartesianProduct" not in plan
        # scalar frames attach via broadcast nested-loop crosses —
        # every one of them is a 1-row build side, by construction
        assert "BroadcastNestedLoopJoin" in plan


class TestScd2Shape:
    def test_scd2_lookup_is_bucketed_hash_join(self, spark, sf_dir):
        """The point-in-time lookup plans an equi hash join on
        (suppkey, bucket) with a residual range filter — never a
        nested loop over fact x dim-versions."""
        plan = plan_of(spark, sf_dir, "join_scd2_lookup")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" in plan


class TestR11Insights:
    """Plan pins for the r11 insights batch (queries/insights.py): the
    scale-critical shapes — cell-first aggregation, hash (not nested-
    loop) pair generation, bounded-sample-only BNLJ — must appear in
    the executed plan."""

    def test_psi_single_pass_then_tiny_spine(self, spark, sf_dir):
        """The corpus collapses in ONE partial+final aggregate; the
        10-bucket spine join is a broadcast."""
        plan = plan_of(spark, sf_dir, "profile_psi_drift")
        assert plan.count("HashAggregate") >= 2  # partial + final
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_spearman_cells_not_corpus_window(self, spark, sf_dir):
        """Midranks come from value cells via the TWO-PASS prefix sum:
        extendedprice cells ~ corpus size, so every Window node must be
        __pid-scoped (local per-range pass) or order the bounded
        per-partition totals by __pid — never an unpartitioned sort of
        a data-scaled frame (r12 rewrite of r11's scale-killer #1)."""
        plan = plan_of(spark, sf_dir, "profile_spearman_rank")
        assert "HashAggregate" in plan
        assert "BroadcastHashJoin" in plan
        _assert_windows_pid_scoped(plan)

    def test_covariance_one_combinable_aggregate(self, spark, sf_dir):
        """All 14 co-moment sums fold in one partial+final aggregate —
        no join, no window, no second scan."""
        plan = plan_of(spark, sf_dir, "profile_covariance_matrix")
        assert plan.count("HashAggregate") >= 2
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_common_neighbors_pair_join_is_hash(self, spark, sf_dir):
        """Link-prediction candidates come from the customer-keyed
        equi self-join (residual s1<s2 filter) — a hash join, never a
        nested loop over supplier x supplier; the final ranking is a
        TakeOrdered heap."""
        plan = plan_of(spark, sf_dir, "graph_common_neighbors")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_cosine_histogram_bnlj_only_on_sample(self, spark, sf_dir):
        """The pairwise cosine join is a deliberate BNLJ over the
        FIXED-SIZE 1024-row sample — the sample itself must plan as a
        TakeOrdered top-k heap (distributed, no global sort), so the
        quadratic work and the broadcast are CONSTANT at any corpus
        size (r12 rewrite of r11's scale-killer #3: a fixed-FRACTION
        sample kept pair work quadratic in the corpus)."""
        plan = plan_of(spark, sf_dir, "similarity_cosine_histogram")
        assert "BroadcastNestedLoopJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert "% 10)" not in plan  # the old fixed-fraction filter

    def test_ohlc_window_bounded_by_day_partition(self, spark, sf_dir):
        """The OHLC ranker is a partitioned window (type, day) feeding
        a grouped aggregate — exactly one Sort above the scan side."""
        plan = plan_of(spark, sf_dir, "events_ohlc_bars")
        assert "Window" in plan
        assert plan.count("HashAggregate") >= 2

    def test_pareto_window_over_part_cells(self, spark, sf_dir):
        """The cumulative share + rank run over per-part CELLS via the
        two-pass prefix sum: every Window node __pid-scoped, one
        shared shuffle for both running sums."""
        plan = plan_of(spark, sf_dir, "window_pareto_cumshare")
        assert "HashAggregate" in plan
        _assert_windows_pid_scoped(plan)

    def test_peak_concurrency_two_pass_sweep(self, spark, sf_dir):
        """The sweep-line runs at timestamp-cell grain through the
        two-pass prefix sum — the only non-__pid windows allowed are
        the per-user sessionizer's (partitioned by user_id); nothing
        unpartitioned touches a data-scaled frame (r12 rewrite of
        r11's scale-killer #2)."""
        plan = plan_of(spark, sf_dir, "events_peak_concurrency")
        _assert_windows_pid_scoped(plan, also_allowed=("user_id",))

    def test_rfm_ntile_two_pass(self, spark, sf_dir):
        """All three quintile scores come from the distributed NTILE
        closed form — no global NTILE window over customer cells."""
        plan = plan_of(spark, sf_dir, "profile_rfm_segmentation")
        assert "ntile" not in plan.lower()
        _assert_windows_pid_scoped(plan)

    def test_conversion_latency_cell_grain_percentiles(self, spark, sf_dir):
        """Percentile indexes come from latency cells + the two-pass
        prefix sum; no global ROW_NUMBER over converted users, and the
        first-click join is not a forced broadcast of a per-user
        frame (AQE may still pick broadcast at this SF — the pin is
        on the window shape, the scale argument lives in the query)."""
        plan = plan_of(spark, sf_dir, "events_conversion_latency")
        assert "row_number" not in plan.lower()
        _assert_windows_pid_scoped(plan)


class TestR12Ranked:
    """Plan pins for the r12 rank-statistics batch (queries/ranked.py):
    every exact order statistic runs through the two-pass primitive —
    no unpartitioned Window ever touches a data-scaled frame."""

    def test_mann_whitney_two_pass_midranks(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "profile_mann_whitney")
        assert "HashAggregate" in plan
        _assert_windows_pid_scoped(plan)

    def test_kruskal_wallis_two_pass_midranks(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "profile_kruskal_wallis")
        assert "CartesianProduct" not in plan
        _assert_windows_pid_scoped(plan)

    def test_weighted_median_grouped_two_pass(self, spark, sf_dir):
        """The grouped form: local windows partitioned by (flag,
        __pid), the carry per flag ordered by __pid — both mention
        __pid; no PARTITION-BY-only window hands a whole return flag
        to one task."""
        plan = plan_of(spark, sf_dir, "profile_weighted_median")
        _assert_windows_pid_scoped(plan)

    def test_lorenz_ntile_closed_form(self, spark, sf_dir):
        """Customer deciles use the distributed NTILE closed form (no
        ntile window function anywhere); the only remaining windows
        run over the ten decile cells."""
        plan = plan_of(spark, sf_dir, "window_lorenz_deciles")
        assert "ntile" not in plan.lower()
        assert "__pid" in plan  # the two-pass row-number machinery

    def test_kaplan_meier_two_pass_risk_sets(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "events_kaplan_meier")
        _assert_windows_pid_scoped(plan)

    def test_interarrival_grouped_percentiles(self, spark, sf_dir):
        """Gaps come from per-(user, type) lag windows (bounded per
        user); percentile indexes from the grouped two-pass — no
        global or per-type-only sort of the gap corpus."""
        plan = plan_of(spark, sf_dir, "events_interarrival")
        _assert_windows_pid_scoped(plan, also_allowed=("user_id",))

    def test_association_rules_hash_pair_join(self, spark, sf_dir):
        """Pair candidates come from the basket-keyed equi self-join —
        a hash join on the order key, never a nested loop over
        parts x parts; the final ranking is a TakeOrdered heap. (The
        one BroadcastNestedLoopJoin in the plan is the 1-row
        n_baskets scalar attach — bounded by construction.)"""
        plan = plan_of(spark, sf_dir, "agg_association_rules")
        assert "CartesianProduct" not in plan
        # the basket self-join must be an equi hash join carrying the
        # pk<pk residual — not a nested loop
        assert any(
            ("BroadcastHashJoin" in ln or "SortMergeJoin" in ln)
            and "ok" in ln
            for ln in plan.splitlines()
        )
        assert "TakeOrderedAndProject" in plan

    def test_cms_one_combinable_aggregate(self, spark, sf_dir):
        """The sketch build is partial+final aggregation into <= d*w
        cells; the probe side joins the broadcast sketch."""
        plan = plan_of(spark, sf_dir, "agg_count_min_sketch")
        assert plan.count("HashAggregate") >= 2
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_neyman_grouped_rank_two_pass(self, spark, sf_dir):
        """Per-stratum selection ranks go through the grouped two-pass
        — no PARTITION-BY-stratum ROW_NUMBER handing a whole return
        flag to one task."""
        plan = plan_of(spark, sf_dir, "sample_neyman_allocation")
        assert "row_number" not in plan.lower()
        _assert_windows_pid_scoped(plan)

    def test_cohort_ltv_windows_cell_bounded(self, spark, sf_dir):
        """The cumulative runs over (cohort, offset) cells — the only
        Window partitions by cohort_week above the cell aggregate."""
        plan = plan_of(spark, sf_dir, "events_cohort_ltv")
        _assert_windows_pid_scoped(plan, also_allowed=("cohort_week",))

    def test_bloom_build_bounded_and_probe_hash_join(self, spark, sf_dir):
        """The filter builds as a distinct into <= m cells (partial+
        final aggregate) and the probe joins those cells broadcast —
        no data-scaled window, no nested loop beyond the 1-row scalar
        attaches."""
        plan = plan_of(spark, sf_dir, "agg_bloom_filter")
        assert plan.count("HashAggregate") >= 2
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestR13Sketches:
    """Plan pins for the r13 sketch additions."""

    def test_quantile_sketch_bottomk_heap_no_global_sort(
        self, spark, sf_dir
    ):
        """The bottom-k sample must plan as TakeOrderedAndProject —
        per-partition heaps of k rows merged once (the mergeable-
        sketch execution) — never a rangepartitioning global sort of
        the data; the estimate/rank plumbing is all bounded
        broadcasts, no data-scaled window anywhere."""
        plan = plan_of(spark, sf_dir, "agg_quantile_sketch")
        assert "TakeOrderedAndProject(limit=4096" in plan
        self._only_output_range_sort(plan)
        assert "Window [" not in plan
        assert "CartesianProduct" not in plan

    @staticmethod
    def _only_output_range_sort(plan):
        # the only range exchange allowed is the final 4-row output
        # sort on p_pct — never one over the data
        for ln in plan.splitlines():
            if "rangepartitioning" in ln:
                assert "p_pct" in ln, ln.strip()[:200]

    def test_exp_histogram_one_combinable_aggregate(self, spark, sf_dir):
        """The bucket build is ONE partial+final aggregate (map-side
        combine IS the sketch merge); the quantile walk's window runs
        over the <= 1024-cell bucket frame above that aggregate, and
        the only range exchange is the 4-row output sort."""
        plan = plan_of(spark, sf_dir, "agg_exp_histogram")
        assert plan.count("HashAggregate") >= 2
        self._only_output_range_sort(plan)
        assert "CartesianProduct" not in plan
