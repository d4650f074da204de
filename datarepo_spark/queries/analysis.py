"""Round-10 analysis operators: robust statistics, interval-overlap
joins, rank fusion, and graph profiling.

All four families are standard large-corpus analysis shapes the
reference's users run downstream of its scans (the reference itself has
no compute operators beyond filtered reads — SURVEY.md §2; these extend
the added training-data-pipeline surface):

- exact interpolated quantiles / IQR outliers / MAD anomalies: robust
  profiling that survives the heavy-tailed value distributions real
  corpora have (mean/stddev z-scores are ruined by the very outliers
  they're meant to find);
- interval-overlap join: the interval×interval companion of the
  point-in-interval ``range_join`` — bucketed equi-join, never a
  nested loop (``operators/range_join.py``);
- reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): the
  standard way to combine heterogeneous retrieval rankings (BM25 +
  raw-TF here) without score calibration;
- degree distribution: the first graph-shape profile run before any
  iterative graph algorithm (pagerank/triangles) to spot hubs.

Determinism notes are per-query; the quantile machinery is pinned
bit-exact in ``functions/profile.py::grouped_exact_quantile``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sampling as SP
from ..functions import text as _X
from ..functions.profile import grouped_exact_quantile
from .registry import SQL_DSUM, dsum, load, register


def _epoch_day(col: str) -> F.Column:
    return F.datediff(F.col(col), F.lit("1970-01-01").cast("date"))


@register(
    "join_interval_overlap",
    # pairs of shipments by the same supplier whose transit windows
    # overlap — interval×interval join. The testdata lineitem carries
    # no receiptdate, so the window is [shipdate, shipdate + quantity
    # days] (quantity is integer-valued 1..50 — a deterministic 1-50
    # day transit both engines derive identically). The oracle is the
    # plain inequality self-join; the operator must be
    # result-identical while planning a bucketed hash equi-join (pair
    # uniqueness via the max(start)-bucket claim — never a dedup).
    oracle="""
    WITH s AS (
      SELECT l_suppkey AS k, l_orderkey AS ok, l_linenumber AS ln,
             DATEDIFF('day', DATE '1970-01-01',
                      CAST(l_shipdate AS DATE)) AS st,
             DATEDIFF('day', DATE '1970-01-01',
                      CAST(l_shipdate AS DATE))
               + CAST(l_quantity AS BIGINT) AS en
      FROM lineitem WHERE l_suppkey <= 5
    )
    SELECT a.k AS s_suppkey, COUNT(*) AS n_overlaps
    FROM s a JOIN s b
      ON a.k = b.k AND a.st <= b.en AND b.st <= a.en
     AND (a.ok < b.ok OR (a.ok = b.ok AND a.ln < b.ln))
    GROUP BY a.k
    """,
    description="interval-overlap self-join (transit windows per "
    "supplier) via bucketed equi-join with max(start)-bucket pair "
    "claim — interval×interval without nested loop or dedup pass",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import interval_overlap_join

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 5)
        .select(
            F.col("l_suppkey").alias("k"),
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
            _epoch_day("l_shipdate").alias("st"),
            (
                _epoch_day("l_shipdate")
                + F.col("l_quantity").cast("long")
            ).alias("en"),
        )
    )
    a = li.select(
        F.col("k").alias("k_a"), F.col("ok").alias("ok_a"),
        F.col("ln").alias("ln_a"), F.col("st").alias("st_a"),
        F.col("en").alias("en_a"),
    )
    b = li.select(
        F.col("k").alias("k_b"), F.col("ok").alias("ok_b"),
        F.col("ln").alias("ln_b"), F.col("st").alias("st_b"),
        F.col("en").alias("en_b"),
    )
    pairs = interval_overlap_join(
        a, b,
        left_start="st_a", left_end="en_a",
        right_start="st_b", right_end="en_b",
        bucket_width=16.0,  # ~median transit span: ≤2x row blow-up
        equi_keys=[("k_a", "k_b")],
    ).filter(
        (F.col("ok_a") < F.col("ok_b"))
        | ((F.col("ok_a") == F.col("ok_b")) & (F.col("ln_a") < F.col("ln_b")))
    )
    return pairs.groupBy(F.col("k_a").alias("s_suppkey")).agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


# Shared oracle scaffolding for the pinned interpolated quantile: rank
# rows, keep the floor/ceil ranks of k=(n-1)*q, interpolate
# v_lo + (v_hi - v_lo) * (k - floor(k)) — the EXACT expression
# grouped_exact_quantile evaluates, so the doubles agree bit-for-bit.
def _oracle_quantile_cte(src: str, key: str, val: str, q: str, name: str) -> str:
    return f"""
    {name}_r AS (
      SELECT {key} AS g, {val} AS v,
             ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {val}) - 1 AS i,
             CAST(COUNT(*) OVER (PARTITION BY {key}) - 1 AS DOUBLE) * {q} AS k
      FROM {src}
    ), {name} AS (
      SELECT g,
             MIN(CASE WHEN i = CAST(FLOOR(k) AS BIGINT) THEN v END)
             + (MAX(CASE WHEN i = CAST(CEIL(k) AS BIGINT) THEN v END)
                - MIN(CASE WHEN i = CAST(FLOOR(k) AS BIGINT) THEN v END))
               * (MIN(k) - FLOOR(MIN(k))) AS qv
      FROM {name}_r
      WHERE i = CAST(FLOOR(k) AS BIGINT) OR i = CAST(CEIL(k) AS BIGINT)
      GROUP BY g
    )"""


@register(
    "profile_iqr_outliers",
    oracle="""
    WITH src AS (
      SELECT o_orderstatus AS g0, CAST(o_totalprice AS DOUBLE) AS v0
      FROM orders
    ),
    """
    + _oracle_quantile_cte("src", "g0", "v0", "0.25", "q1t")[5:]
    + ","
    + _oracle_quantile_cte("src", "g0", "v0", "0.75", "q3t")[5:]
    + """
    SELECT src.g0 AS o_orderstatus,
           ROUND(q1t.qv, 6) AS q1,
           ROUND(q3t.qv, 6) AS q3,
           CAST(SUM(CASE WHEN src.v0 < q1t.qv - 1.5 * (q3t.qv - q1t.qv)
                           OR src.v0 > q3t.qv + 1.5 * (q3t.qv - q1t.qv)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM src
    JOIN q1t ON src.g0 = q1t.g
    JOIN q3t ON src.g0 = q3t.g
    GROUP BY src.g0, q1t.qv, q3t.qv
    """,
    description="robust IQR outlier profile per group: exact "
    "interpolated q1/q3 via pinned rank-and-interpolate (one window "
    "sort per quantile, two rows kept per group — no collect), Tukey "
    "1.5-IQR fences, outlier counts",
)
def profile_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("double").alias("__v"),
    )
    q1 = grouped_exact_quantile(
        orders, ["o_orderstatus"], "__v", 0.25, out_col="__q1"
    )
    q3 = grouped_exact_quantile(
        orders, ["o_orderstatus"], "__v", 0.75, out_col="__q3"
    )
    fences = q1.join(q3, "o_orderstatus")
    lo = F.col("__q1") - 1.5 * (F.col("__q3") - F.col("__q1"))
    hi = F.col("__q3") + 1.5 * (F.col("__q3") - F.col("__q1"))
    return (
        orders.join(F.broadcast(fences), "o_orderstatus")
        .groupBy("o_orderstatus", "__q1", "__q3")
        .agg(
            F.sum(
                F.when((F.col("__v") < lo) | (F.col("__v") > hi), 1)
                .otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "o_orderstatus",
            F.round("__q1", 6).alias("q1"),
            F.round("__q3", 6).alias("q3"),
            "n_outliers",
        )
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH src AS (
      SELECT user_id AS g0, CAST(value AS DOUBLE) AS v0 FROM events
      WHERE user_id <= 40
    ),
    """
    + _oracle_quantile_cte("src", "g0", "v0", "0.5", "med")[5:]
    + """
    , dev AS (
      SELECT src.g0 AS g1, ABS(src.v0 - med.qv) AS v1, med.qv AS med_v
      FROM src JOIN med ON src.g0 = med.g
    ),
    """
    + _oracle_quantile_cte("dev", "g1", "v1", "0.5", "madt")[5:]
    + """
    SELECT dev.g1 AS user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN dev.v1 > 3.0 * madt.qv THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           ROUND(MIN(madt.qv), 6) AS mad
    FROM dev JOIN madt ON dev.g1 = madt.g
    GROUP BY dev.g1
    """,
    description="robust per-user anomaly detection: median + MAD via "
    "the pinned exact quantile (two window passes), flag "
    "|v - median| > 3*MAD — outlier-resistant twin of the z-score "
    "detector",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 40)
        .select("user_id", F.col("value").cast("double").alias("__v"))
    )
    med = grouped_exact_quantile(
        ev, ["user_id"], "__v", 0.5, out_col="__med"
    )
    dev = ev.join(F.broadcast(med), "user_id").select(
        "user_id", F.abs(F.col("__v") - F.col("__med")).alias("__dev")
    )
    mad = grouped_exact_quantile(
        dev, ["user_id"], "__dev", 0.5, out_col="__mad"
    )
    return (
        dev.join(F.broadcast(mad), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("__dev") > 3.0 * F.col("__mad"), 1)
                .otherwise(0)
            ).alias("n_anomalies"),
            F.round(F.min("__mad"), 6).alias("mad"),
        )
    )


@register(
    "text_rrf_fusion",
    # reciprocal-rank fusion of two heterogeneous retrieval rankings
    # (BM25 and raw term-frequency) for one query. Ranks are integers
    # (row_number over (rounded score desc, doc_id)); each fused score
    # is 1/(60+r_a) + 1/(60+r_b) with missing-list terms 0.0 — two IEEE
    # divisions and one addition in a pinned order, rounded(9).
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(
               regexp_split_to_array(lower(text), '\s+'),
               t -> LEN(t) > 0)) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN ('hash', 'join', 'scan')
      GROUP BY doc_id, token
    ), tfd AS (
      SELECT *, COUNT(*) OVER (PARTITION BY token) AS df_t FROM tf
    ), dl AS (
      SELECT doc_id,
             CAST(LEN(LIST_FILTER(
               regexp_split_to_array(lower(text), '\s+'),
               t -> LEN(t) > 0)) AS DOUBLE) AS dl
      FROM documents
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), bm25 AS (
      SELECT tfd.doc_id,
             ROUND(SUM(ROUND(
               ROUND(LN((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0), 9)
               * (tfd.tf * 2.2)
               / (tfd.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)),
               6)), 6) AS score
      FROM tfd JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY tfd.doc_id
    ), bm25_rank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm25 QUALIFY r <= 50
    ), rawtf AS (
      SELECT doc_id, SUM(tf) AS score FROM tf GROUP BY doc_id
    ), rawtf_rank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
      FROM rawtf QUALIFY r <= 50
    ), fused AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / (60 + a.r), 0.0)
                   + COALESCE(1.0 / (60 + b.r), 0.0), 9) AS rrf
      FROM bm25_rank a FULL OUTER JOIN rawtf_rank b USING (doc_id)
    )
    SELECT doc_id, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    description="reciprocal-rank fusion (RRF, k=60) of BM25 and "
    "raw-TF rankings for one query: two bounded top-50 rank lists, "
    "full-outer join on doc, fused 1/(60+r) sum, top-20 — "
    "calibration-free ranking combination",
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions import ranking as RK

    docs = load(spark, sf_dir, "documents")
    qtoks = ["hash", "join", "scan"]
    bm25 = RK.bm25_search(docs, qtoks, k=50)
    bm25_rank = bm25.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("__ra"),
    )
    # second ranker: raw query-term frequency (uncalibrated lexical
    # overlap — deliberately a different scoring family than BM25)
    from ..functions.dedup import tokens_of

    tf = (
        docs.select(
            "doc_id", F.explode(tokens_of(F.col("text"))).alias("token")
        )
        .filter(F.col("token").isin(qtoks))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__score"))
    )
    tf_rank = (
        tf.orderBy(F.desc("__score"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("__score"), F.asc("doc_id")))
            .alias("__rb"),
        )
    )
    fused = (
        bm25_rank.join(tf_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("__ra")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("__rb")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@register(
    "graph_degree_distribution",
    # degree histogram of the bipartite trade graph — the shape profile
    # (hub detection, skew estimate) run before any iterative graph
    # algorithm. Exact integer aggregates end to end.
    oracle="""
    WITH base AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT a AS src, b AS dst FROM base
      UNION ALL
      SELECT b AS src, a AS dst FROM base
    ), deg AS (
      SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
    description="graph degree distribution: per-node degree over the "
    "symmetrized customer<->supplier trade graph, then the degree "
    "histogram — two keyed aggregates, no iteration",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = base.select(F.col("a").alias("src")).unionByName(
        base.select(F.col("b").alias("src"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "dedup_jaccard_prefix",
    # exact all-pairs Jaccard >= 0.9 via prefix filtering; the oracle is
    # the brute-force O(n^2) pair compare (fine at gate SF), the engine
    # must find the identical pair set through the rare-token prefix
    # join. The division is the same two integers in both engines, so
    # the threshold compare is deterministic; rounding is display-only.
    oracle=r"""
    WITH tk AS (
      SELECT doc_id,
             LIST_SORT(LIST_DISTINCT(LIST_FILTER(
               regexp_split_to_array(lower(text), '\s+'),
               t -> LEN(t) > 0))) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             LEN(LIST_INTERSECT(a.toks, b.toks)) AS inter,
             LEN(a.toks) + LEN(b.toks)
               - LEN(LIST_INTERSECT(a.toks, b.toks)) AS un
      FROM tk a JOIN tk b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / CAST(un AS DOUBLE), 6) AS jaccard
    FROM pairs
    WHERE un > 0 AND CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) >= 0.9
    """,
    description="exact all-pairs Jaccard join (threshold 0.9) via "
    "prefix filtering (AllPairs/PPJoin family): candidates keyed on "
    "each set's rarest tokens only, size-pruned, exactly verified — "
    "the deterministic companion to MinHash-LSH with the same "
    "no-all-pairs scale shape",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import prefix_filter_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, threshold=0.9)


@register(
    "profile_ks_drift",
    # exact two-sample KS: integer sup statistic, one final division.
    # DuckDB SUM(int)->HUGEINT everywhere, so every sum is cast BIGINT.
    oracle="""
    WITH src AS (
      SELECT CAST(value AS DOUBLE) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('click', 'view')
    ), pv AS (
      SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(SUM(ib) AS BIGINT) AS cb
      FROM src GROUP BY v
    ), cum AS (
      SELECT CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cuma,
             CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumb
      FROM pv
    ), tot AS (
      SELECT CAST(SUM(ia) AS BIGINT) AS n_a,
             CAST(SUM(ib) AS BIGINT) AS n_b
      FROM src
    )
    SELECT n_a, n_b,
           CAST(MAX(ABS(cuma * n_b - cumb * n_a)) AS BIGINT) AS ks_num,
           ROUND(CAST(MAX(ABS(cuma * n_b - cumb * n_a)) AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE), 9) AS ks
    FROM cum CROSS JOIN tot
    GROUP BY n_a, n_b
    """,
    description="exact two-sample Kolmogorov-Smirnov drift statistic "
    "(click vs view value distributions) — integer sup over a "
    "bucketed two-level distributed ECDF (no single-partition global "
    "cumulative window), one final division",
)
def profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.profile import ks_drift

    ev = load(spark, sf_dir, "events")
    return ks_drift(
        ev, "value", "event_type", "click", "view", bucket_width=10.0
    )


@register(
    "similarity_batch_knn",
    # exact batch kNN: 5 query vectors, top-3 corpus neighbors each.
    # Same fold spelling as the green knn oracle (0.0-seeded Spark fold
    # == first-element-seeded list_reduce); ROW_NUMBER widths collapse
    # in the driver's canon.
    oracle="""
    WITH v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, e AS qe,
             SQRT(LIST_REDUCE(LIST_TRANSFORM(e, x -> x * x),
                              (a, x) -> a + x)) AS qn
      FROM v WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, e,
             SQRT(LIST_REDUCE(LIST_TRANSFORM(e, x -> x * x),
                              (a, x) -> a + x)) AS cn
      FROM v WHERE vec_id >= 5
    ), scored AS (
      SELECT q.qid AS query_id, c.vec_id,
             ROUND(
               LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65),
                                          i -> c.e[i] * q.qe[i]),
                           (a, x) -> a + x) / (c.cn * q.qn),
               6) AS cosine
      FROM c CROSS JOIN q
    )
    SELECT query_id, rn AS rank, vec_id, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    description="exact batch kNN: top-3 cosine corpus neighbors for "
    "every query vector in ONE corpus scan (queries broadcast, only "
    "(query, id, score) triples shuffle to the per-query top-k window "
    "— vectors never transit an exchange)",
)
def similarity_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import batch_knn

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return batch_knn(corpus, queries, k=3)


@register(
    "join_asof_tolerance",
    # backward as-of with a 30-day tolerance (pandas merge_asof
    # tolerance parity): the latest order at-or-before each event, but
    # only if within 30 days — staler matches are NULLed. DuckDB's
    # native ASOF finds the match; the tolerance cut is the same exact
    # integer-microseconds compare the engine does.
    oracle="""
    SELECT e.event_id, e.user_id,
           CASE WHEN o.o_orderdate IS NOT NULL
                 AND EPOCH_US(e.ts) - EPOCH_US(o.o_orderdate)
                     <= 2592000000000
                THEN o.o_orderdate END AS last_order_date
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    description="as-of join (backward) with a 30-day tolerance — "
    "matches farther than the tolerance are NULLed via an exact "
    "integer-micros compare (pandas merge_asof tolerance semantics)",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    return asof_join(
        e.select("event_id", "user_id", "ts"),
        o,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        payload=F.col("o_orderdate"),
        payload_name="last_order_date",
        tolerance=30 * 86400 * 1_000_000,  # 30 days in micros
    ).select("event_id", "user_id", "last_order_date")


@register(
    "pipeline_quality_funnel",
    # per-stage drop accounting for a staged quality filter — the
    # pipeline-observability op: which rule is eating the corpus?
    # Stage i is evaluated only on survivors of stages < i (true funnel
    # semantics), all in ONE aggregate pass (sums of boolean
    # conjunctions); the 5-row shape comes from an unpivot of that one
    # row, never a second scan. The ratio compares are spelled
    # identically in both engines (exact double divisions of integer
    # counts).
    oracle=rf"""
    WITH m AS (
      SELECT doc_id,
             {_X.sql_quality_inputs('text')}
      FROM documents
    ), f AS (
      SELECT (nt >= 5 AND nt <= 100000) AS p1,
             (nt > 0 AND nc/nt >= 2 AND nc/nt <= 12) AS p2,
             (nc > 0 AND na/nc >= 0.6) AS p3,
             (nc > 0 AND np/nc <= 0.1) AS p4,
             (nt > 0 AND ns/nt >= 0.05) AS p5
      FROM m
    ), a AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS in1,
        CAST(SUM(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS in2,
        CAST(SUM(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS in3,
        CAST(SUM(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END)
             AS BIGINT) AS d3,
        CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
             AS BIGINT) AS in4,
        CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND NOT p4 THEN 1 ELSE 0 END)
             AS BIGINT) AS d4,
        CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END)
             AS BIGINT) AS in5,
        CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 AND NOT p5
                      THEN 1 ELSE 0 END) AS BIGINT) AS d5
      FROM f
    )
    SELECT ' 1_length' AS stage, in1 AS n_in, d1 AS n_dropped,
           in1 - d1 AS n_out FROM a
    UNION ALL SELECT ' 2_mean_tok_len', in2, d2, in2 - d2 FROM a
    UNION ALL SELECT ' 3_alpha_ratio', in3, d3, in3 - d3 FROM a
    UNION ALL SELECT ' 4_punct_ratio', in4, d4, in4 - d4 FROM a
    UNION ALL SELECT ' 5_stopword_ratio', in5, d5, in5 - d5 FROM a
    """,
    description="staged quality-filter funnel (Gopher/C4-style rules): "
    "per-stage in/dropped/out counts with true funnel semantics, "
    "computed in ONE aggregate pass over the corpus and unpivoted — "
    "the curation-pipeline observability operator",
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X

    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    nc = F.length(t).cast("double")
    nt = X.token_count(t, X.WS_TOKEN_RE).cast("double")
    np_ = X.token_count(t, X.PUNCT_RE).cast("double")
    na = X.token_count(t, r"[a-zA-Z]").cast("double")
    ns = F.regexp_count(t, F.lit(X.LANG_PROFILES[0][1])).cast("double")
    p1 = (nt >= 5) & (nt <= 100000)
    p2 = (nt > 0) & (nc / nt >= 2) & (nc / nt <= 12)
    p3 = (nc > 0) & (na / nc >= 0.6)
    p4 = (nc > 0) & (np_ / nc <= 0.1)
    p5 = (nt > 0) & (ns / nt >= 0.05)

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = docs.agg(
        F.count(F.lit(1)).alias("in1"),
        cnt(~p1).alias("d1"),
        cnt(p1).alias("in2"),
        cnt(p1 & ~p2).alias("d2"),
        cnt(p1 & p2).alias("in3"),
        cnt(p1 & p2 & ~p3).alias("d3"),
        cnt(p1 & p2 & p3).alias("in4"),
        cnt(p1 & p2 & p3 & ~p4).alias("d4"),
        cnt(p1 & p2 & p3 & p4).alias("in5"),
        cnt(p1 & p2 & p3 & p4 & ~p5).alias("d5"),
    )
    stages = agg.selectExpr(
        "stack(5, "
        "' 1_length', in1, d1, "
        "' 2_mean_tok_len', in2, d2, "
        "' 3_alpha_ratio', in3, d3, "
        "' 4_punct_ratio', in4, d4, "
        "' 5_stopword_ratio', in5, d5"
        ") AS (stage, n_in, n_dropped)"
    )
    return stages.select(
        "stage",
        "n_in",
        "n_dropped",
        (F.col("n_in") - F.col("n_dropped")).alias("n_out"),
    )


@register(
    "text_zipf_profile",
    # whole-corpus vocabulary profile: total/vocab/hapax counts, the
    # type-token ratio, hapax fraction, and top-100-token coverage —
    # the Zipf-shape summary run before tokenizer/vocab decisions.
    # Integers until the three final divisions.
    oracle=r"""
    WITH tok AS (
      SELECT UNNEST(LIST_FILTER(
        regexp_split_to_array(lower(text), '\s+'),
        t -> LEN(t) > 0)) AS token
      FROM documents
    ), freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax
      FROM freq
    ), top AS (
      SELECT CAST(SUM(c) AS BIGINT) AS top100 FROM (
        SELECT c FROM freq ORDER BY c DESC, token LIMIT 100
      )
    )
    SELECT n_tokens, vocab, hapax,
           ROUND(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS type_token_ratio,
           ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
             AS hapax_fraction,
           ROUND(CAST(top100 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS top100_coverage
    FROM tot CROSS JOIN top
    """,
    description="corpus Zipf/vocabulary profile: total tokens, vocab "
    "size, hapax count, type-token ratio, hapax fraction, top-100 "
    "coverage — one token aggregate + one TakeOrdered top-100, scalars "
    "broadcast",
)
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import tokens_of

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens_of(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = freq.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
    )
    top = (
        freq.orderBy(F.desc("c"), F.asc("token"))
        .limit(100)
        .agg(F.sum("c").cast("long").alias("top100"))
    )
    return tot.crossJoin(F.broadcast(top)).select(
        "n_tokens",
        "vocab",
        "hapax",
        F.round(
            F.col("vocab").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
        F.round(
            F.col("hapax").cast("double") / F.col("vocab").cast("double"), 6
        ).alias("hapax_fraction"),
        F.round(
            F.col("top100").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("top100_coverage"),
    )


@register(
    "similarity_ann_ivf_batch",
    # the IVF cell-join batch search with nprobe = every cell: the
    # result is then EXACTLY the exhaustive batch kNN (same oracle as
    # similarity_batch_knn), so the gate pins the cell-join MACHINERY
    # bit-for-bit; recall at pruning nprobe is the unit-tested
    # accuracy contract (tests/test_analysis.py::TestIvfBatchSearch).
    oracle="""
    WITH v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, e AS qe,
             SQRT(LIST_REDUCE(LIST_TRANSFORM(e, x -> x * x),
                              (a, x) -> a + x)) AS qn
      FROM v WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, e,
             SQRT(LIST_REDUCE(LIST_TRANSFORM(e, x -> x * x),
                              (a, x) -> a + x)) AS cn
      FROM v WHERE vec_id >= 5
    ), scored AS (
      SELECT q.qid AS query_id, c.vec_id,
             ROUND(
               LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65),
                                          i -> c.e[i] * q.qe[i]),
                           (a, x) -> a + x) / (c.cn * q.qn),
               6) AS cosine
      FROM c CROSS JOIN q
    )
    SELECT query_id, rn AS rank, vec_id, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    description="IVF cell-join batch ANN: queries explode to their "
    "nprobe cells, corpus carries its storage cell, candidates from a "
    "plain hash equi-join on cell (no per-query loop, no broadcast "
    "requirement) — gated with nprobe=all-cells where the result is "
    "exactly the exhaustive batch kNN",
)
def similarity_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ivf import IVFIndex

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    index = IVFIndex.fit(emb, k=8, iterations=4)
    return index.batch_search(corpus, queries, k=3, nprobe=8)


@register(
    "graph_personalized_pagerank",
    # Personalized PageRank (Haveliwala 2002) from 3 customer seeds on
    # the symmetric trade graph, 2 synchronous iterations unrolled as
    # CTEs in integer micro-units. Teleport mass all lands on the seed
    # set: per-seed teleport = (100-85)*1e6*N // (100*3) = 50000*N
    # exactly (the division is exact, so both engines agree without a
    # floor subtlety). The symmetric graph has no dangling nodes, so
    # the PPR dangling-to-seeds term is identically zero and the
    # oracle omits it (same convention as graph_pagerank).
    oracle="""
    WITH base AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT a AS src, b AS dst FROM base
      UNION ALL
      SELECT b AS src, a AS dst FROM base
    ), deg AS (
      SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ), nt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
    ), r0 AS (
      SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes
    ), c1 AS (
      SELECT e.dst AS node,
             SUM(CAST(FLOOR(r.rank_micro / d.deg) AS BIGINT)) AS c
      FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    ), r1 AS (
      SELECT n.node,
             CAST(CASE WHEN n.node IN ('c1', 'c2', 'c3')
                       THEN 50000 * nt.n ELSE 0 END
                  + CAST(FLOOR(85 * COALESCE(c1.c, 0) / 100) AS BIGINT)
                  AS BIGINT) AS rank_micro
      FROM nodes n LEFT JOIN c1 ON n.node = c1.node CROSS JOIN nt
    ), c2 AS (
      SELECT e.dst AS node,
             SUM(CAST(FLOOR(r.rank_micro / d.deg) AS BIGINT)) AS c
      FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    ), r2 AS (
      SELECT n.node,
             CAST(CASE WHEN n.node IN ('c1', 'c2', 'c3')
                       THEN 50000 * nt.n ELSE 0 END
                  + CAST(FLOOR(85 * COALESCE(c2.c, 0) / 100) AS BIGINT)
                  AS BIGINT) AS rank_micro
      FROM nodes n LEFT JOIN c2 ON n.node = c2.node CROSS JOIN nt
    )
    SELECT node, rank_micro, rank_micro / 1000000.0 AS rank
    FROM r2 ORDER BY rank_micro DESC, node LIMIT 20
    """,
    description="personalized PageRank (2 iterations) from 3 customer "
    "seeds on the trade graph: all teleport mass to the seed set, "
    "integer micro-unit fixed point — the related-item / local-"
    "community ranking form; same one-join-one-aggregate iteration as "
    "uniform PageRank",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import graph as G

    # LONG node ids (customer 2k, supplier 2k+1) for the iteration,
    # display strings re-derived on the final O(nodes) frame — same
    # isomorphic-graph argument as graph_pagerank (r13); the seed set
    # 'c1','c2','c3' encodes to 2, 4, 6 and seed membership is pure
    # identity, so every integer rank is bit-identical.
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = base.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(base.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    pr = G.pagerank(edges, iterations=2, personalize=[2, 4, 6])
    decoded = pr.select(
        F.concat(
            F.when(F.col("node").bitwiseAND(1) == 0, F.lit("c")).otherwise(
                F.lit("s")
            ),
            F.shiftright(F.col("node"), 1).cast("string"),
        ).alias("node"),
        "rank_micro",
        "rank",
    )
    return decoded.orderBy(F.desc("rank_micro"), F.asc("node")).limit(20)


def _lpa_lex_key(k: F.Column, supplier: bool) -> F.Column:
    """Order-isomorphic LONG encoding of the LPA label strings
    'c<k>' / 's<k>' (r14, VERDICT r13 #3): label propagation's argmax
    tie-break IS lexicographic label order, so its integer encoding
    must preserve exactly that order — unlike PageRank's 2k/2k+1,
    where any injection works. Closed form, no global sort:

      key(prefix, k) = (k · 10^(10-L)) · 16 + L  [+ 2^48 if prefix 's']

    where L = digit count of k (≤ 10 by the long-key bound). The
    scaled term is the numeric value of the decimal string
    right-zero-padded to 10 digits; comparing those equals comparing
    the unpadded strings lexicographically except when one string
    prefixes the other zero-extended — exactly the case the L
    tiebreak settles ('1' < '10' ⇔ shorter first). The 2^48 block
    offset encodes 'c' < 's'. Injective + order-preserving ⇒ the
    integer argmax (count DESC, key ASC) picks the same winners as
    the string argmax, every round, bit-for-bit."""
    s = k.cast("string")
    pad = (F.lit(10) - F.length(s)).cast("double")
    scaled = k * F.pow(F.lit(10.0), pad).cast("long")
    key = scaled * F.lit(16) + F.length(s).cast("long")
    if supplier:
        key = key + F.lit(1 << 48)
    return key.cast("long")


def _lpa_lex_decode(col: str) -> F.Column:
    """Invert :func:`_lpa_lex_key` back to the display string."""
    key = F.col(col)
    is_s = key >= F.lit(1 << 48)
    r = key - F.when(is_s, F.lit(1 << 48)).otherwise(F.lit(0))
    length = r % F.lit(16)
    scaled = (r / F.lit(16)).cast("long")
    k = (
        scaled
        / F.pow(F.lit(10.0), (F.lit(10) - length).cast("double")).cast(
            "long"
        )
    ).cast("long")
    return F.concat(
        F.when(is_s, F.lit("s")).otherwise(F.lit("c")), k.cast("string")
    )


@register(
    "graph_label_propagation",
    # synchronous LPA (2 unrolled iterations) on the trade graph;
    # community sizes of the resulting labeling. Deterministic: argmax
    # by (count DESC, label ASC) is a pure function of the previous
    # labeling — no visit order, no randomness.
    oracle="""
    WITH base AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT a AS src, b AS dst FROM base
      UNION ALL
      SELECT b AS src, a AS dst FROM base
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ), l0 AS (
      SELECT node, node AS label FROM nodes
    ), v1 AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS c
      FROM edges e JOIN l0 l ON e.src = l.node
      GROUP BY e.dst, l.label
    ), w1 AS (
      SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM v1
      ) WHERE rn = 1
    ), l1 AS (
      SELECT n.node, COALESCE(w1.label, n.node) AS label
      FROM nodes n LEFT JOIN w1 ON n.node = w1.node
    ), v2 AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS c
      FROM edges e JOIN l1 l ON e.src = l.node
      GROUP BY e.dst, l.label
    ), w2 AS (
      SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM v2
      ) WHERE rn = 1
    ), l2 AS (
      SELECT n.node, COALESCE(w2.label, l1.label) AS label
      FROM nodes n
      JOIN l1 ON n.node = l1.node
      LEFT JOIN w2 ON n.node = w2.node
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY label
    ORDER BY n_members DESC, label LIMIT 20
    """,
    description="synchronous label-propagation communities (Raghavan "
    "2007, the GraphX variant) on the trade graph, 2 deterministic "
    "iterations (argmax by count desc / label asc), top-20 community "
    "sizes — one join + one aggregate + one argmax window per round",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import graph as G

    # LONG node ids via the order-isomorphic lexicographic key (see
    # _lpa_lex_key): the per-round votes join, count aggregate and
    # argmax window all shuffle 8-byte keys instead of strings, and
    # the seed labels (= node ids) tie-break identically to the
    # string form. Display strings are re-derived only on the final
    # O(communities) frame.
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            _lpa_lex_key(F.col("o_custkey"), supplier=False).alias("a"),
            _lpa_lex_key(F.col("l_suppkey"), supplier=True).alias("b"),
        )
        .distinct()
    )
    edges = base.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(base.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    labels = G.label_propagation(edges, iterations=2)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(_lpa_lex_decode("label").alias("label"), "n_members")
        .orderBy(F.desc("n_members"), F.asc("label"))
        .limit(20)
    )


@register(
    "events_seasonal_profile",
    # hour-of-day seasonality per event type: decimal-exact means over
    # each (type, hour) cell plus the cell's share of its type's
    # volume. The time-series profiling companion to resample/EWMA —
    # the shape checked before building any time-bucketed feature.
    oracle="""
    WITH c AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hour_of_day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST((value) AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(value) AS avg_value
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type,
             CAST(SUM(n_events) AS BIGINT) AS type_total
      FROM c GROUP BY event_type
    )
    SELECT c.event_type, CAST(c.hour_of_day AS BIGINT) AS hour_of_day,
           c.n_events,
           ROUND(c.avg_value, 6) AS avg_value,
           ROUND(CAST(c.n_events AS DOUBLE)
                 / CAST(t.type_total AS DOUBLE), 6) AS volume_share
    FROM c JOIN t USING (event_type)
    """,
    description="hour-of-day seasonality profile per event type: "
    "decimal-exact cell means + each cell's volume share — two keyed "
    "aggregates (cells, then per-type totals joined back)",
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import davg

    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        davg("value").alias("__avg"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n_events").alias("__tot")
    )
    return (
        cells.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "hour_of_day",
            "n_events",
            F.round("__avg", 6).alias("avg_value"),
            F.round(
                F.col("n_events").cast("double")
                / F.col("__tot").cast("double"),
                6,
            ).alias("volume_share"),
        )
    )


@register(
    "agg_boolean_suite",
    # boolean/conditional aggregate family: bool_and / bool_or /
    # count_if / every-style predicates per group. DuckDB SUM(int) is
    # HUGEINT -> everything counted is cast BIGINT.
    oracle="""
    SELECT o_orderstatus,
           BOOL_AND(o_totalprice < 400000) AS all_under_400k,
           BOOL_OR(o_totalprice > 300000) AS any_over_300k,
           CAST(COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END)
                AS BIGINT) AS n_over_100k,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY o_orderstatus
    """,
    description="boolean aggregate family: bool_and / bool_or / "
    "count_if per group — one partial-aggregated exchange",
)
def agg_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") < 400000).alias("all_under_400k"),
        F.bool_or(F.col("o_totalprice") > 300000).alias("any_over_300k"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_over_100k"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "fn_bitwise_suite",
    # bitwise scalar + aggregate family over integer keys: AND/OR/XOR
    # aggregates and shift/bit scalars — exact integers end to end.
    oracle="""
    SELECT s_nationkey,
           CAST(BIT_AND(s_suppkey) AS BIGINT) AS band,
           CAST(BIT_OR(s_suppkey) AS BIGINT) AS bor,
           CAST(BIT_XOR(s_suppkey) AS BIGINT) AS bxor,
           CAST(SUM(s_suppkey * 4) AS BIGINT) AS shifted_sum,
           CAST(SUM(s_suppkey & 7) AS BIGINT) AS low_bits_sum
    FROM supplier GROUP BY s_nationkey
    """,
    description="bitwise family: bit_and/or/xor aggregates + shift and "
    "mask scalars per group — exact integer arithmetic",
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.bit_and(F.col("s_suppkey")).alias("band"),
        F.bit_or(F.col("s_suppkey")).alias("bor"),
        F.bit_xor(F.col("s_suppkey")).alias("bxor"),
        F.sum(F.shiftleft(F.col("s_suppkey"), 2)).alias("shifted_sum"),
        F.sum(F.col("s_suppkey").bitwiseAND(F.lit(7))).alias(
            "low_bits_sum"
        ),
    )


@register(
    "fn_regexp_suite",
    # regexp scalar family over document text: extract / replace-length
    # / count — both engines run the same RE2-class patterns; outputs
    # are strings and exact integers (no float anywhere).
    oracle=r"""
    SELECT doc_id,
           COALESCE(NULLIF(regexp_extract(text, '([A-Za-z]+)', 1), ''),
                    '') AS first_word,
           CAST(LEN(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
             AS devoweled_len,
           CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_number_runs
    FROM documents WHERE doc_id < 200
    """,
    description="regexp scalar family: extract (first group), replace "
    "(global devowel length), count (number runs) — row-local, "
    "codegen'd, no UDF",
)
def fn_regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"([A-Za-z]+)", 1).alias(
            "first_word"
        ),
        F.length(
            F.regexp_replace(F.col("text"), r"[aeiou]", "")
        ).cast("long").alias("devoweled_len"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]+")).cast("long").alias(
            "n_number_runs"
        ),
    )


@register(
    "window_gap_islands",
    # gaps-and-islands: maximal runs of CONSECUTIVE orderkeys per
    # status (the island id is key - row_number, the classic trick) —
    # the integer-sequence companion of time sessionization. Exact
    # integers throughout.
    oracle="""
    WITH r AS (
      SELECT o_orderstatus, o_orderkey,
             o_orderkey - ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
             ) AS island
      FROM orders WHERE o_orderkey <= 3000
    )
    SELECT o_orderstatus,
           MIN(o_orderkey) AS island_start,
           MAX(o_orderkey) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS island_len
    FROM r GROUP BY o_orderstatus, island
    HAVING COUNT(*) >= 3
    """,
    description="gaps-and-islands: maximal consecutive-key runs per "
    "group via the key-minus-row_number trick (one keyed window + one "
    "aggregate), islands of length >= 3",
)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
    r = o.select(
        "o_orderstatus",
        "o_orderkey",
        (F.col("o_orderkey") - F.row_number().over(w)).alias("__island"),
    )
    return (
        r.groupBy("o_orderstatus", "__island")
        .agg(
            F.min("o_orderkey").alias("island_start"),
            F.max("o_orderkey").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .filter(F.col("island_len") >= 3)
        .drop("__island")
    )


@register(
    "join_null_safe",
    # null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    # MATCH each other — the semantic a plain equi-join silently drops.
    # Built from orders with a derived nullable key so the NULL-match
    # behavior is actually exercised at every SF.
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 5 END AS k
      FROM orders WHERE o_orderkey <= 400
    ), b AS (
      SELECT CASE WHEN n_nationkey >= 20 THEN NULL
                  ELSE n_nationkey % 5 END AS k,
             n_name
      FROM nation
    )
    SELECT a.o_orderkey, b.n_name
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    description="null-safe equality join (eqNullSafe / IS NOT DISTINCT "
    "FROM): NULL keys match NULL keys — plans as a hash join on the "
    "null-safe key, never a nested loop",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 400)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_orderkey") % 5)
            .alias("k_a"),
        )
    )
    n = load(spark, sf_dir, "nation").select(
        F.when(F.col("n_nationkey") >= 20, F.lit(None))
        .otherwise(F.col("n_nationkey") % 5)
        .alias("k_b"),
        "n_name",
    )
    return o.join(n, F.col("k_a").eqNullSafe(F.col("k_b"))).select(
        "o_orderkey", "n_name"
    )


_BENFORD = {
    "1": 0.301029996, "2": 0.176091259, "3": 0.124938737,
    "4": 0.096910013, "5": 0.079181246, "6": 0.06694679,
    "7": 0.057991947, "8": 0.051152522, "9": 0.045757491,
}


@register(
    "profile_benford",
    # Benford's-law first-significant-digit profile of order totals —
    # the classic fabricated-/synthetic-data smell test. Expected
    # shares are a 9-entry LITERAL table (log10(1+1/d) pre-rounded to
    # 9 decimals) inlined identically in both engines, so no libm call
    # happens at query time; the chi-square terms are the same pinned
    # double arithmetic on exact integer counts.
    oracle="""
    WITH d AS (
      SELECT SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
    ), t AS (
      SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c
    ), e AS (
      SELECT digit, n_obs, n,
             CAST(CASE digit
               WHEN '1' THEN 0.301029996 WHEN '2' THEN 0.176091259
               WHEN '3' THEN 0.124938737 WHEN '4' THEN 0.096910013
               WHEN '5' THEN 0.079181246 WHEN '6' THEN 0.06694679
               WHEN '7' THEN 0.057991947 WHEN '8' THEN 0.051152522
               WHEN '9' THEN 0.045757491 END AS DOUBLE) AS exp_share
      FROM c CROSS JOIN t
    )
    SELECT digit, n_obs,
           ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_share,
           exp_share,
           ROUND(
             (CAST(n_obs AS DOUBLE) - exp_share * CAST(n AS DOUBLE))
             * (CAST(n_obs AS DOUBLE) - exp_share * CAST(n AS DOUBLE))
             / (exp_share * CAST(n AS DOUBLE)), 6) AS chi2_term
    FROM e
    """,
    description="Benford first-digit profile of order totals: observed "
    "vs expected digit shares + per-digit chi-square terms (literal "
    "log10 table, no query-time libm) — the synthetic/fabricated-data "
    "smell test",
)
def profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"),
            1, 1,
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = c.agg(F.sum("n_obs").cast("long").alias("__n"))
    exp_share = F.col("digit")
    expr = None
    for k, v in _BENFORD.items():
        expr = (
            F.when(F.col("digit") == k, F.lit(v))
            if expr is None
            else expr.when(F.col("digit") == k, F.lit(v))
        )
    obs = F.col("n_obs").cast("double")
    n = F.col("__n").cast("double")
    dev = obs - expr * n
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_obs",
            F.round(obs / n, 6).alias("obs_share"),
            expr.alias("exp_share"),
            F.round(dev * dev / (expr * n), 6).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10b additions: trend regression, time-weighted averaging,
# rolling medians, contingency chi-square, and Gini concentration.
# ---------------------------------------------------------------------------


@register(
    "profile_linear_trend",
    # Per-priority OLS trend of order value over time, CROSS-ENGINE
    # EXACT via the profile_correlation recipe: the four co-moment
    # sums are DECIMAL(38,6) (order-independent), every per-row value
    # stays inside the engine-identical double->decimal cast range
    # (|v|*10^6 < 2^53): x = epoch-day - 9000 is in [-965, 1439], y =
    # totalprice/1000 < 600, so x*y < 9e5 and x*x < 2.1e6. The closed
    # form runs on DOUBLE casts of the exact sums as a fixed IEEE
    # sequence mirrored textually in both engines; slope is per-day in
    # thousand-currency units, intercept is the fitted level at
    # epoch-day 9000 (1994-08-22), so neither output needs a huge
    # extrapolation to day 0.
    oracle=f"""
    WITH u AS (
      SELECT o_orderpriority,
             DATEDIFF('day', DATE '1970-01-01',
                      CAST(o_orderdate AS DATE)) - 9000 AS x,
             o_totalprice / 1000.0 AS y
      FROM orders
    ), s AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             {SQL_DSUM('x')} AS sx,
             {SQL_DSUM('y')} AS sy,
             {SQL_DSUM('x * y')} AS sxy,
             {SQL_DSUM('x * x')} AS sxx
      FROM u GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 9) AS slope_per_day,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 9) AS intercept_at_day9000
    FROM s ORDER BY o_orderpriority
    """,
    description="per-priority OLS slope/intercept of order value over "
    "time — DECIMAL co-moment sums + fixed IEEE closed form (the "
    "drift-over-time profile run before trusting a corpus snapshot)",
)
def profile_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    x = _epoch_day("o_orderdate") - F.lit(9000)
    y = F.col("o_totalprice") / F.lit(1000.0)
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return s.select(
        "o_orderpriority",
        "n",
        F.round(slope, 9).alias("slope_per_day"),
        F.round(intercept, 9).alias("intercept_at_day9000"),
    ).orderBy("o_orderpriority")


@register(
    "events_time_weighted_avg",
    # Time-weighted average (TWAP) per event type over irregular
    # telemetry samples: each observed value holds until the next
    # sample, so the mean is sum(value*dt)/sum(dt), not the row mean —
    # the standard correction when sampling cadence varies (bursty
    # devices would otherwise dominate). dt comes from epoch
    # microseconds (exact BIGINT in both engines; events ts is µs-
    # granular), divided by 1e6 as one IEEE double op; value*dt_s
    # stays under ~5e7 so the DECIMAL(38,6) accumulation casts
    # engine-identically. The last sample per (type, ordered by ts,
    # event_id) has no successor and is excluded from both sums.
    oracle=f"""
    WITH u AS (
      SELECT event_type, value,
             (LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id)
              - epoch_us(ts)) / 1000000.0 AS dt_s
      FROM events
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n_intervals,
             {SQL_DSUM('value * dt_s')} AS swv,
             {SQL_DSUM('dt_s')} AS sw
      FROM u WHERE dt_s IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_intervals,
           ROUND(CAST(sw AS DOUBLE), 6) AS span_seconds,
           ROUND(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE), 9)
             AS time_weighted_avg
    FROM s ORDER BY event_type
    """,
    description="time-weighted average value per event type (TWAP) — "
    "lead-window hold intervals, DECIMAL-accumulated value*dt; the "
    "irregular-sampling correction for telemetry means",
)
def events_time_weighted_avg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    u = e.select(
        "event_type",
        "value",
        ((F.lead(us).over(w) - us) / F.lit(1000000.0)).alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull())
    s = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        dsum(F.col("value") * F.col("dt_s")).alias("swv"),
        dsum(F.col("dt_s")).alias("sw"),
    )
    return s.select(
        "event_type",
        "n_intervals",
        F.round(F.col("sw").cast("double"), 6).alias("span_seconds"),
        F.round(
            F.col("swv").cast("double") / F.col("sw").cast("double"), 9
        ).alias("time_weighted_avg"),
    ).orderBy("event_type")


@register(
    "window_rolling_median",
    # Rolling median of shipment quantity per supplier over the 7 most
    # recent line items — the robust twin of window_rolling_mean
    # (medians shrug off the fat-tailed quantities that drag a mean).
    # Spark has no median window function but percentile(x, 0.5) OVER
    # a rows frame is the same holistic aggregate; DuckDB's windowed
    # median interpolates identically, and on integer-valued
    # quantities every midpoint is an exact binary half — no rounding
    # needed. The frame is pinned by the (shipdate, orderkey,
    # linenumber) total order so both engines see identical windows.
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS quantity,
           median(CAST(l_quantity AS DOUBLE)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS rolling_median_7
    FROM lineitem WHERE l_suppkey <= 10
    """,
    description="rolling 7-row median of quantity per supplier — "
    "percentile(0.5) over a pinned rows frame (exact midpoints on "
    "integer quantities); the robust rolling-mean twin",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.expr(
            "percentile(CAST(l_quantity AS DOUBLE), 0.5) OVER ("
            "PARTITION BY l_suppkey "
            "ORDER BY l_shipdate, l_orderkey, l_linenumber "
            "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ).alias("rolling_median_7"),
    )


@register(
    "profile_chi_square",
    # Pearson chi-square test of independence for the source x lang
    # contingency table + Cramér's V effect size — the categorical
    # companion of profile_mutual_information and the same
    # determinism recipe: exact integer cell/marginal counts, each
    # cell's (obs - exp)^2 / exp term evaluated as a pinned IEEE
    # sequence, folded in (source, lang)-sorted order (0.0-seeded
    # Spark fold == first-element-seeded DuckDB list_reduce), sqrt is
    # IEEE-exact so Cramér's V needs no extra rounding guard.
    oracle="""
    WITH cell AS (
      SELECT source, lang, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents GROUP BY source, lang
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS cc
      FROM documents
    ), px AS (
      SELECT source, CAST(SUM(CAST(c AS BIGINT)) AS DOUBLE) AS rx
      FROM cell GROUP BY source
    ), py AS (
      SELECT lang, CAST(SUM(CAST(c AS BIGINT)) AS DOUBLE) AS cy
      FROM cell GROUP BY lang
    ), terms AS (
      SELECT LIST(
               (cell.c - (px.rx * py.cy) / n)
               * (cell.c - (px.rx * py.cy) / n)
               / ((px.rx * py.cy) / n)
               ORDER BY cell.source, cell.lang
             ) AS t,
             ANY_VALUE(n) AS n, ANY_VALUE(r) AS r, ANY_VALUE(cc) AS cc
      FROM cell JOIN px USING (source) JOIN py USING (lang), tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           (r - 1) * (cc - 1) AS dof,
           ROUND(LIST_REDUCE(t, (a, b) -> a + b), 9) AS chi2,
           ROUND(SQRT(LIST_REDUCE(t, (a, b) -> a + b)
                      / (n * CAST(LEAST(r - 1, cc - 1) AS DOUBLE))),
                 9) AS cramers_v
    FROM terms
    """,
    description="chi-square independence test + Cramér's V for the "
    "source x lang contingency table — exact counts, sorted "
    "engine-identical term fold; the categorical drift/dependence test",
)
def profile_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    px = cell.groupBy("source").agg(
        F.sum(F.col("c").cast("long")).cast("double").alias("rx")
    )
    py = cell.groupBy("lang").agg(
        F.sum(F.col("c").cast("long")).cast("double").alias("cy")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.countDistinct("source").alias("r"),
        F.countDistinct("lang").alias("cc"),
    ).collect()[0]
    n, r, cc = float(tot["n"]), int(tot["r"]), int(tot["cc"])
    ex = (F.col("rx") * F.col("cy")) / F.lit(n)
    joined = cell.join(F.broadcast(px), "source").join(
        F.broadcast(py), "lang"
    )
    terms = joined.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "source",
                    "lang",
                    (
                        (F.col("c") - ex) * (F.col("c") - ex) / ex
                    ).alias("term"),
                )
            )
        ).alias("__t")
    )
    chi2 = F.aggregate(
        F.transform("__t", lambda x: x["term"]),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.select(
        F.lit(int(n)).cast("long").alias("n"),
        F.lit((r - 1) * (cc - 1)).cast("long").alias("dof"),
        F.round(chi2, 9).alias("chi2"),
        F.round(
            F.sqrt(chi2 / F.lit(n * float(min(r - 1, cc - 1)))), 9
        ).alias("cramers_v"),
    )


@register(
    "profile_gini",
    # Gini concentration coefficient of document length per source —
    # how unevenly a source's bytes are spread across its documents
    # (0 = uniform, ->1 = a few giants hold everything). Uses the
    # rank formulation G = (2*Σi·x_(i) - (n+1)*Σx) / (n*Σx) over the
    # ascending (n_chars, doc_id) order; Σi·x and Σx are exact BIGINT
    # sums (ties contribute the same Σi·x under any tie order, so the
    # doc_id tiebreak is for frame determinism, not value), and the
    # final expression is one pinned double division.
    oracle="""
    WITH r AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS i
      FROM documents
    ), s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r GROUP BY source
    )
    SELECT source, n,
           ROUND((2.0 * CAST(six AS DOUBLE)
                  - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)),
                 9) AS gini_n_chars
    FROM s ORDER BY source
    """,
    description="Gini coefficient of document length per source — "
    "rank formulation with exact integer rank/value sums; the "
    "length-concentration profile for mixture weighting",
)
def profile_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(w).alias("i"),
    )
    s = r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    return s.select(
        "source",
        "n",
        F.round(
            (F.lit(2.0) * six - (n + F.lit(1.0)) * sx) / (n * sx), 9
        ).alias("gini_n_chars"),
    ).orderBy("source")


# Poisson(1) CDF, pre-rounded to 12 decimals and inlined as literals in
# BOTH engines (no query-time libm): the inverse-CDF lookup that turns
# the exact sha-hash uniform variate into a per-(row, replicate)
# Poisson bootstrap weight. P(X > 5) ~ 6e-4 truncates to weight 6.
_POISSON1_CDF = [
    (0, 0.367879441171),
    (1, 0.735758882343),
    (2, 0.919698602929),
    (3, 0.981011843124),
    (4, 0.996340153173),
    (5, 0.999405815182),
]
_BOOT_B = 40  # replicates: enough for a stable 95% percentile CI


def _boot_interp(sorted_expr_fmt: str, q: float, b: int) -> tuple:
    """Literal (lo_idx, hi_idx, frac) for the q-quantile of b sorted
    values — positions are data-independent, so both engines get pure
    literals instead of cross-engine index arithmetic."""
    pos = q * (b - 1)
    lo = int(pos)
    frac = round(pos - lo, 12)
    return lo, min(lo + 1, b - 1), frac


@register(
    "profile_bootstrap_ci",
    # Poisson bootstrap (Chamandy et al., Google 2012): the bootstrap
    # that scales — each (row, replicate) pair draws a Poisson(1)
    # multiplicity instead of resampling n rows WITH replacement, so
    # the whole thing is one explode(B) + one map-side-combinable
    # aggregate, no per-replicate pass over the corpus. Determinism:
    # the multiplicity comes from the exact sha-hash uniform variate
    # pushed through a LITERAL Poisson(1) inverse-CDF table (no libm);
    # per-replicate sums are exact BIGINTs (weight<=6 x n_chars); each
    # replicate mean is ONE IEEE division; the CI interpolates the
    # sorted replicate means at literal (index, fraction) positions.
    oracle=f"""
    WITH b AS (SELECT UNNEST(RANGE(0, {_BOOT_B})) AS rep),
    w AS (
      SELECT rep,
             CASE
               WHEN u < 0.367879441171 THEN 0
               WHEN u < 0.735758882343 THEN 1
               WHEN u < 0.919698602929 THEN 2
               WHEN u < 0.981011843124 THEN 3
               WHEN u < 0.996340153173 THEN 4
               WHEN u < 0.999405815182 THEN 5
               ELSE 6 END AS wt,
             n_chars
      FROM (
        SELECT rep, n_chars,
               ('0x' || substr(sha256('boot' || CAST(rep AS VARCHAR)
                 || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 / CAST({float(1 << 60)} AS DOUBLE) AS u
        FROM documents CROSS JOIN b
      )
    ), reps AS (
      SELECT rep,
             CAST(SUM(wt * CAST(n_chars AS BIGINT)) AS DOUBLE)
               / CAST(SUM(wt) AS DOUBLE) AS m
      FROM w GROUP BY rep
    ), arr AS (
      SELECT LIST(m ORDER BY m) AS ms FROM reps
    )
    SELECT {_BOOT_B} AS n_replicates,
           ROUND(LIST_REDUCE(ms, (a, x) -> a + x)
                 / {float(_BOOT_B)}, 9) AS boot_mean,
           ROUND(ms[{_boot_interp('', 0.025, _BOOT_B)[0] + 1}]
                 + (ms[{_boot_interp('', 0.025, _BOOT_B)[1] + 1}]
                    - ms[{_boot_interp('', 0.025, _BOOT_B)[0] + 1}])
                   * {_boot_interp('', 0.025, _BOOT_B)[2]}, 9)
             AS ci_lower,
           ROUND(ms[{_boot_interp('', 0.975, _BOOT_B)[0] + 1}]
                 + (ms[{_boot_interp('', 0.975, _BOOT_B)[1] + 1}]
                    - ms[{_boot_interp('', 0.975, _BOOT_B)[0] + 1}])
                   * {_boot_interp('', 0.975, _BOOT_B)[2]}, 9)
             AS ci_upper
    FROM arr
    """,
    description="Poisson-bootstrap 95% CI for mean document length — "
    "explode(B) + one combinable aggregate (the bootstrap that works "
    "at 100 TB: no with-replacement resample pass), literal "
    "inverse-CDF weights from the exact sha variate",
)
def profile_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = F.explode(
        F.array(*[F.lit(i) for i in range(_BOOT_B)])
    ).alias("rep")
    u = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.lit("boot"),
                    F.col("rep").cast("string"),
                    F.lit("|"),
                    F.col("doc_id").cast("string"),
                ),
                256,
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") / F.lit(float(1 << 60))
    wt = F.lit(6)
    for k, p in reversed(_POISSON1_CDF):
        wt = F.when(F.col("u") < F.lit(p), F.lit(k)).otherwise(wt)
    w = docs.select("doc_id", "n_chars", reps).select(
        "rep", "n_chars", u.alias("u")
    ).select("rep", "n_chars", wt.alias("wt"))
    per_rep = w.groupBy("rep").agg(
        (
            F.sum(F.col("wt") * F.col("n_chars").cast("long")).cast(
                "double"
            )
            / F.sum("wt").cast("double")
        ).alias("m")
    )
    arr = per_rep.agg(F.sort_array(F.collect_list("m")).alias("ms"))
    ms = F.col("ms")
    mean = (
        F.aggregate(ms, F.lit(0.0), lambda a, x: a + x)
        / F.lit(float(_BOOT_B))
    )

    def interp(q: float):
        lo, hi, frac = _boot_interp("", q, _BOOT_B)
        return ms[lo] + (ms[hi] - ms[lo]) * F.lit(frac)

    return arr.select(
        F.lit(_BOOT_B).alias("n_replicates"),
        F.round(mean, 9).alias("boot_mean"),
        F.round(interp(0.025), 9).alias("ci_lower"),
        F.round(interp(0.975), 9).alias("ci_upper"),
    )


@register(
    "profile_welch_ttest",
    # Welch's unequal-variance t-test between every pair of document
    # sources on mean document length — the A/B comparison primitive.
    # Same determinism recipe as profile_correlation: per-group n, Σx,
    # Σx² as exact sums (n_chars is integer — BIGINT sums, no decimal
    # needed), then t and the Welch–Satterthwaite df as one pinned
    # IEEE sequence per pair (sqrt is IEEE-exact). The pair join is a
    # tiny broadcast self-join of the 20-row per-source stats frame.
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(n_chars AS BIGINT)
                      * CAST(n_chars AS BIGINT)) AS BIGINT) AS sxx
      FROM documents GROUP BY source
    ), v AS (
      SELECT source, n,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             (CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0) AS var
      FROM s
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_a, b.n AS n_b,
           ROUND(a.m - b.m, 9) AS mean_diff,
           ROUND((a.m - b.m)
                 / SQRT(a.var / CAST(a.n AS DOUBLE)
                        + b.var / CAST(b.n AS DOUBLE)), 9) AS t_stat,
           ROUND(
             (a.var / CAST(a.n AS DOUBLE) + b.var / CAST(b.n AS DOUBLE))
             * (a.var / CAST(a.n AS DOUBLE) + b.var / CAST(b.n AS DOUBLE))
             / ((a.var / CAST(a.n AS DOUBLE))
                * (a.var / CAST(a.n AS DOUBLE))
                / (CAST(a.n AS DOUBLE) - 1.0)
                + (b.var / CAST(b.n AS DOUBLE))
                  * (b.var / CAST(b.n AS DOUBLE))
                  / (CAST(b.n AS DOUBLE) - 1.0)), 9) AS welch_df
    FROM v a JOIN v b ON a.source < b.source
    """,
    description="pairwise Welch t-test of mean document length across "
    "sources — exact integer moment sums, pinned IEEE t/df closed "
    "form, broadcast self-join of the per-source stats frame",
)
def profile_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core.exec import scoped_persist

    docs = load(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("long")
    # persist the |sources|-row stats frame: both sides of the pair
    # join read it, and without the pin each side would re-run the
    # full corpus aggregate (two 100 TB scans for a 20-row frame)
    s = scoped_persist(
        docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("long").alias("sx"),
            F.sum(x * x).cast("long").alias("sxx"),
        )
    )
    n = F.col("n").cast("double")
    m = F.col("sx").cast("double") / n
    var = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / n
    ) / (n - F.lit(1.0))
    v = s.select("source", "n", m.alias("m"), var.alias("var"))
    a = v.select(
        F.col("source").alias("source_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("var").alias("var_a"),
    )
    b = v.select(
        F.col("source").alias("source_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("var").alias("var_b"),
    )
    j = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    se_a = F.col("var_a") / na
    se_b = F.col("var_b") / nb
    se2 = se_a + se_b
    return j.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 9).alias("mean_diff"),
        F.round(
            (F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 9
        ).alias("t_stat"),
        F.round(
            se2 * se2
            / (
                se_a * se_a / (na - F.lit(1.0))
                + se_b * se_b / (nb - F.lit(1.0))
            ),
            9,
        ).alias("welch_df"),
    )


@register(
    "events_autocorrelation",
    # Sample autocorrelation of the hourly event-count series at lags
    # 1 h / 24 h / 168 h — the periodicity diagnostic behind the
    # seasonal profile (a large lag-24 ACF says "daily cycle"). The
    # series is the hour-truncated count (exact integers), pairs are
    # ROW-lagged over the hour-ordered series (gaps documented: absent
    # hours are absent, not zero-filled), and each lag's Pearson r
    # uses the profile_correlation recipe — exact BIGINT co-moment
    # sums (counts are ~100s, products ~1e4: far inside exact-integer
    # range), one pinned IEEE closed form, round(9). The hour-grain
    # series is tiny relative to the corpus at any scale, so the
    # unpartitioned lead() window over it is deliberate — the heavy
    # work (the count) is a map-side-combinable aggregate.
    oracle="""
    WITH hr AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT x,
             LEAD(x, 1) OVER (ORDER BY h) AS y1,
             LEAD(x, 24) OVER (ORDER BY h) AS y24,
             LEAD(x, 168) OVER (ORDER BY h) AS y168
      FROM hr
    ), stacked AS (
      SELECT u.lag, u.x, u.y FROM lagged,
      UNNEST([
        {'lag': 1,   'x': x, 'y': y1},
        {'lag': 24,  'x': x, 'y': y24},
        {'lag': 168, 'x': x, 'y': y168}
      ]) AS t(u)
      WHERE u.y IS NOT NULL
    ), s AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM stacked GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_hours, n AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 9) AS acf
    FROM s ORDER BY lag_hours
    """,
    description="hourly event-count autocorrelation at lags 1/24/168 — "
    "exact integer co-moment sums per lag over a lead()-stacked "
    "series; the periodicity diagnostic for seasonal pipelines",
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    hr = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy("h")
    lagged = hr.select(
        "x",
        F.lead("x", 1).over(w).alias("y1"),
        F.lead("x", 24).over(w).alias("y24"),
        F.lead("x", 168).over(w).alias("y168"),
    )
    stacked = (
        lagged.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("lag"),
                        F.col("x").alias("x"),
                        F.col("y1").alias("y"),
                    ),
                    F.struct(
                        F.lit(24).alias("lag"),
                        F.col("x").alias("x"),
                        F.col("y24").alias("y"),
                    ),
                    F.struct(
                        F.lit(168).alias("lag"),
                        F.col("x").alias("x"),
                        F.col("y168").alias("y"),
                    ),
                )
            ).alias("u")
        )
        .select("u.lag", "u.x", "u.y")
        .filter(F.col("y").isNotNull())
    )
    s = stacked.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    return s.select(
        F.col("lag").cast("long").alias("lag_hours"),
        F.col("n").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            9,
        ).alias("acf"),
    ).orderBy("lag_hours")



@register(
    "events_cusum_drift",
    # Page's CUSUM drift statistic per event type over the hourly
    # total-value series: S_t = max(0, S_{t-1} + (T_t - target)) with
    # the series mean as target (zero allowance) — cusum_max is the
    # largest sustained upward excursion, THE classic sequential
    # change-point score. Computed via the prefix identity
    # S_t = C_t - min(0, min_{j<=t} C_j) (C = running sum of
    # deviations), which needs only windows, no recursive fold.
    # Determinism: everything is EXACT INTEGER until the final
    # division — hourly totals are DECIMAL(38,6) sums scaled to
    # micro-units (BIGINT), deviations are scaled by n_hours
    # (d_t = n*T_t - ΣT, clearing the rational mean), and integer
    # window sums are order-independent, so even a segment-tree
    # windowed SUM is exact. d and its prefix sums accumulate in
    # DECIMAL(38,0) on BOTH engines: n*T_t reaches ~1e17 at gated
    # scales and d prefix sums would cross int64 at extreme value
    # magnitudes, where non-ANSI Spark wraps silently while DuckDB
    # raises — 38 digits keeps the exact path exact at any corpus
    # scale (r10 ADVICE). The hour-grain series per type is tiny at
    # any corpus scale; the heavy work is the combinable hourly
    # aggregate.
    oracle="""
    WITH hr AS (
      SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
             CAST(SUM(CAST(value AS DECIMAL(38, 6))) * 1000000
                  AS BIGINT) AS t_micro
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(t_micro) AS BIGINT) AS sum_micro
      FROM hr GROUP BY event_type
    ), dev AS (
      SELECT hr.event_type, h, n_hours, sum_micro,
             CAST(n_hours AS DECIMAL(38, 0)) * t_micro - sum_micro AS d
      FROM hr JOIN tot USING (event_type)
    ), csum AS (
      SELECT event_type, h, n_hours, sum_micro,
             CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY h
                               ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38, 0)) AS c
      FROM dev
    ), pre AS (
      SELECT event_type, n_hours, sum_micro, c,
             CAST(MIN(c) OVER (PARTITION BY event_type ORDER BY h
                               ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38, 0)) AS run_min
      FROM csum
    ), ex AS (
      SELECT event_type, n_hours, sum_micro,
             CAST(MAX(c - LEAST(CAST(0 AS DECIMAL(38, 0)), run_min))
                  AS DECIMAL(38, 0)) AS cusum_scaled
      FROM pre GROUP BY event_type, n_hours, sum_micro
    )
    SELECT event_type, n_hours,
           ROUND(CAST(sum_micro AS DOUBLE)
                 / (CAST(n_hours AS DOUBLE) * 1000000.0), 9)
             AS series_mean,
           ROUND(CAST(cusum_scaled AS DOUBLE)
                 / (CAST(n_hours AS DOUBLE) * 1000000.0), 9)
             AS cusum_max
    FROM ex ORDER BY event_type
    """,
    description="Page's CUSUM drift score per event type over the "
    "hourly total-value series — exact-integer prefix-sum/min windows "
    "(S_t = C_t - min prefix), one division at the end; the "
    "sequential change-point detector",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..core.exec import scoped_persist

    e = load(spark, sf_dir, "events")
    # persist the hour-grain frame: both the per-type totals and the
    # deviation join read it — unpinned, the full-corpus hourly
    # aggregate would execute twice
    hr = scoped_persist(
        e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(
            (
                F.sum(F.col("value").cast("decimal(38,6)"))
                * F.lit(1000000)
            )
            .cast("long")
            .alias("t_micro")
        )
    )
    tot = hr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("t_micro").cast("long").alias("sum_micro"),
    )
    dev = hr.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "h",
        "n_hours",
        "sum_micro",
        (
            F.col("n_hours").cast("decimal(38,0)") * F.col("t_micro")
            - F.col("sum_micro")
        ).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.select(
        "event_type",
        "h",
        "n_hours",
        "sum_micro",
        F.sum("d").over(w).cast("decimal(38,0)").alias("c"),
    )
    pre = pre.select(
        "event_type",
        "n_hours",
        "sum_micro",
        "c",
        F.min("c")
        .over(
            Window.partitionBy("event_type")
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("decimal(38,0)")
        .alias("run_min"),
    )
    ex = pre.groupBy("event_type", "n_hours", "sum_micro").agg(
        F.max(
            F.col("c")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.col("run_min"))
        )
        .cast("decimal(38,0)")
        .alias("cusum_scaled")
    )
    denom = F.col("n_hours").cast("double") * F.lit(1000000.0)
    return ex.select(
        "event_type",
        "n_hours",
        F.round(F.col("sum_micro").cast("double") / denom, 9).alias(
            "series_mean"
        ),
        F.round(F.col("cusum_scaled").cast("double") / denom, 9).alias(
            "cusum_max"
        ),
    ).orderBy("event_type")


@register(
    "multimodal_scene_cuts",
    # Shot/scene segmentation over the decoded video path: per media,
    # frames in order, Hamming distance between consecutive per-frame
    # average-hashes; a transition is a CUT when the 64-bit hashes
    # differ in more than 12 positions (the standard hash-distance shot
    # detector). Reuses the PVID container walk + per-frame ahash of
    # multimodal_video_frame_hashes (only 64-char hash strings reach
    # this query — frames never leave the decode stage); the distance
    # is an exact integer count of differing positions, so both
    # engines agree bit-for-bit. Output is the per-media transition
    # profile (n_transitions, max/total hamming, n_cuts).
    oracle=r"""
    WITH m AS (
      SELECT doc_id AS media_id, text AS t
      FROM documents WHERE doc_id < 40 AND LEN(text) >= 64
    ), fr AS (
      SELECT media_id, t, CAST(UNNEST(RANGE(0, 4)) AS INT) AS frame_no
      FROM m
    ), r AS (
      SELECT media_id, frame_no,
             SUBSTR(t, frame_no + 1) || SUBSTR(t, 1, frame_no) AS rot
      FROM fr
    ), p AS (
      SELECT media_id, frame_no,
             SUBSTR(REPEAT(rot, CAST(CEIL(192.0 / LEN(rot)) AS INT)),
                    1, 192) AS px
      FROM r
    ), l AS (
      SELECT media_id, frame_no,
             LIST_TRANSFORM(RANGE(0, 64), j ->
               (ORD(SUBSTR(px, CAST(1 + j*3 AS INT), 1))
                + ORD(SUBSTR(px, CAST(2 + j*3 AS INT), 1))
                + ORD(SUBSTR(px, CAST(3 + j*3 AS INT), 1))) // 3)
               AS luma
      FROM p
    ), h AS (
      SELECT media_id, frame_no,
             LIST_AGGREGATE(
               LIST_TRANSFORM(luma, x ->
                 CASE WHEN x > LIST_SUM(luma) // 64 THEN '1' ELSE '0'
                 END),
               'string_agg', '') AS ahash
      FROM l
    ), lagged AS (
      SELECT media_id, frame_no, ahash,
             LAG(ahash) OVER (PARTITION BY media_id
                              ORDER BY frame_no) AS prev
      FROM h
    ), d AS (
      SELECT media_id,
             CAST(LEN(LIST_FILTER(RANGE(1, 65), j ->
               SUBSTR(ahash, CAST(j AS INT), 1)
                 != SUBSTR(prev, CAST(j AS INT), 1))) AS BIGINT)
               AS hamming
      FROM lagged WHERE prev IS NOT NULL
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(MAX(hamming) AS BIGINT) AS max_hamming,
           CAST(SUM(hamming) AS BIGINT) AS total_hamming,
           CAST(SUM(CASE WHEN hamming > 12 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts
    FROM d GROUP BY media_id
    """,
    description="video scene-cut profile: consecutive-frame ahash "
    "Hamming distances per media (cut when >12 of 64 bits differ) — "
    "shot segmentation over the container-walk decode path; exact "
    "integer distances",
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import multimodal as M

    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 40) & (F.length("text") >= 64)
    )
    media = M.documents_as_video(docs, n_frames=4)
    h = M.video_frame_hashes(media).select(
        "media_id", "frame_no", "ahash"
    )
    w = Window.partitionBy("media_id").orderBy("frame_no")
    lagged = h.select(
        "media_id",
        "frame_no",
        "ahash",
        F.lag("ahash").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: F.col("ahash").substr(j, F.lit(1))
            != F.col("prev").substr(j, F.lit(1)),
        )
    ).cast("long")
    d = lagged.select("media_id", hamming.alias("hamming"))
    return d.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.max("hamming").cast("long").alias("max_hamming"),
        F.sum("hamming").cast("long").alias("total_hamming"),
        F.sum(F.when(F.col("hamming") > 12, 1).otherwise(0))
        .cast("long")
        .alias("n_cuts"),
    )


@register(
    "profile_expectations",
    # Data-quality expectations report — the "assert before you train"
    # gate: five standard rule classes (key uniqueness, range, non-null
    # + positivity, referential integrity, date window) each evaluated
    # as ONE exact-integer aggregate, unioned into a per-rule
    # (n_checked, n_violations, passed) report. Referential integrity
    # is an anti-join COUNT (orders → customer), planned as a hash
    # semi/anti join, never a nested loop. Everything is exact
    # integers — no float hazards at all.
    oracle="""
    SELECT 'orderkey_unique' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
             AS n_violations,
           COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
    FROM orders
    UNION ALL
    SELECT 'totalprice_range',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice <= 0
                          OR o_totalprice > 1000000 THEN 1 ELSE 0 END)
                AS BIGINT),
           SUM(CASE WHEN o_totalprice <= 0
                     OR o_totalprice > 1000000 THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'quantity_positive',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_quantity IS NULL
                          OR l_quantity <= 0 THEN 1 ELSE 0 END)
                AS BIGINT),
           SUM(CASE WHEN l_quantity IS NULL
                     OR l_quantity <= 0 THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'orderdate_window',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
                              < DATE '1992-01-01'
                          OR CAST(o_orderdate AS DATE)
                              > DATE '1998-12-31' THEN 1 ELSE 0 END)
                AS BIGINT),
           SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1992-01-01'
                     OR CAST(o_orderdate AS DATE) > DATE '1998-12-31'
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    """,
    description="data-quality expectations report: key uniqueness, "
    "value range, non-null/positivity, referential integrity "
    "(hash anti-join count), date window — one exact-integer "
    "aggregate per rule; the assert-before-you-train gate",
)
def profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")

    def report(name, n_checked, n_violations):
        return (
            F.lit(name).alias("rule"),
            n_checked.cast("long").alias("n_checked"),
            n_violations.cast("long").alias("n_violations"),
            (n_violations == F.lit(0)).alias("passed"),
        )

    uniq = o.agg(
        *report(
            "orderkey_unique",
            F.count(F.lit(1)),
            F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
        )
    )
    rng = o.agg(
        *report(
            "totalprice_range",
            F.count(F.lit(1)),
            F.sum(
                F.when(
                    (F.col("o_totalprice") <= 0)
                    | (F.col("o_totalprice") > 1000000),
                    1,
                ).otherwise(0)
            ),
        )
    )
    qty = li.agg(
        *report(
            "quantity_positive",
            F.count(F.lit(1)),
            F.sum(
                F.when(
                    F.col("l_quantity").isNull()
                    | (F.col("l_quantity") <= 0),
                    1,
                ).otherwise(0)
            ),
        )
    )
    fk = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == F.col("c_custkey"),
            "left",
        ).agg(
            *report(
                "orders_custkey_fk",
                F.count(F.lit(1)),
                F.sum(
                    F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
                ),
            )
        )
    )
    dt = o.agg(
        *report(
            "orderdate_window",
            F.count(F.lit(1)),
            F.sum(
                F.when(
                    (
                        F.col("o_orderdate").cast("date")
                        < F.lit("1992-01-01").cast("date")
                    )
                    | (
                        F.col("o_orderdate").cast("date")
                        > F.lit("1998-12-31").cast("date")
                    ),
                    1,
                ).otherwise(0)
            ),
        )
    )
    return uniq.unionAll(rng).unionAll(qty).unionAll(fk).unionAll(dt)


@register(
    "events_rolling_distinct_users",
    # Rolling 24-hour distinct active users, hourly grain (the "rolling
    # DAU" dashboard query): each event lands in the 24 hourly windows
    # it is visible from, then distinct (window, user) pairs are
    # counted. The explode is a bounded 24x amplification of (hour,
    # user) PAIRS — not raw events: events first collapse to their
    # distinct (hour, user) grid (combinable pre-aggregate), so the
    # generate runs over the much smaller hourly-active set. Counts are
    # exact integers. Only windows fully inside the observed span are
    # emitted (the first 23 hours have truncated lookback).
    oracle="""
    WITH hu AS (
      SELECT DISTINCT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
             user_id
      FROM events
    ), bounds AS (
      SELECT MIN(h) AS h0 FROM hu
    ), expanded AS (
      SELECT h + INTERVAL (o) HOUR AS w, user_id
      FROM hu, UNNEST(RANGE(0, 24)) AS t(o)
    ), agg AS (
      SELECT w, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      FROM expanded GROUP BY w
    )
    SELECT w AS window_end_hour, active_users
    FROM agg, bounds
    WHERE w >= h0 + INTERVAL 23 HOUR
      AND w <= (SELECT MAX(h) FROM hu)
    ORDER BY w
    """,
    description="rolling 24h distinct active users at hourly grain — "
    "distinct (hour, user) grid first (combinable), then a bounded "
    "24x window explode + distinct count; the rolling-DAU primitive",
)
def events_rolling_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load(spark, sf_dir, "events")
    hu = e.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
    ).distinct()
    from ..core.exec import scoped_persist

    hu = scoped_persist(hu)
    expanded = hu.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(23)),
                lambda o: F.col("h")
                + F.make_interval(hours=o.cast("int")),
            )
        ).alias("w"),
        "user_id",
    )
    agg = expanded.groupBy("w").agg(
        F.countDistinct("user_id").cast("long").alias("active_users")
    )
    b = hu.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    return (
        agg.crossJoin(F.broadcast(b))
        .filter(
            (F.col("w") >= F.col("h0") + F.expr("INTERVAL 23 HOURS"))
            & (F.col("w") <= F.col("h1"))
        )
        .select(
            F.col("w").alias("window_end_hour"), "active_users"
        )
        .orderBy("window_end_hour")
    )


@register(
    "agg_frequent_itemsets",
    # Frequent 2-itemsets with association metrics — market-basket
    # mining over order baskets: top-20 part pairs by co-occurrence
    # support, with confidence P(b|a) and lift n·s(ab)/(s(a)·s(b)).
    # The pair generation is the standard a<b self-join on the basket
    # key (baskets are small — the blowup is Σ C(|basket|,2), bounded
    # by the basket-size cap, never corpus²); item supports broadcast
    # back. All counts exact integers; confidence/lift are single
    # pinned double divisions, round(9). Ties in the top-20 broken by
    # (part_a, part_b) for a deterministic result set.
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s_item
      FROM basket GROUP BY l_partkey
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
      FROM basket
    ), pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), top AS (
      SELECT part_a, part_b, support
      FROM pair
      ORDER BY support DESC, part_a, part_b
      LIMIT 20
    )
    SELECT part_a, part_b, support,
           ROUND(CAST(support AS DOUBLE)
                 / CAST(ia.s_item AS DOUBLE), 9) AS confidence_a_b,
           ROUND(CAST(n_baskets AS DOUBLE) * CAST(support AS DOUBLE)
                 / (CAST(ia.s_item AS DOUBLE)
                    * CAST(ib.s_item AS DOUBLE)), 9) AS lift
    FROM top
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN n
    """,
    description="frequent part pairs (market-basket 2-itemsets) with "
    "support / confidence / lift — basket-keyed a<b self-join (work "
    "bounded by basket sizes, never corpus squared), supports "
    "broadcast back, exact integer counts",
)
def agg_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core.exec import scoped_persist

    li = load(spark, sf_dir, "lineitem")
    basket = scoped_persist(
        li.select("l_orderkey", "l_partkey").distinct()
    )
    item = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("s_item")
    )
    n_baskets = basket.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pair = (
        basket.join(b, basket.l_orderkey == b.k)
        .filter(F.col("l_partkey") < F.col("part_b"))
        .groupBy(
            F.col("l_partkey").alias("part_a"), F.col("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    top = pair.orderBy(
        F.desc("support"), "part_a", "part_b"
    ).limit(20)
    ia = item.select(
        F.col("l_partkey").alias("part_a"),
        F.col("s_item").alias("s_a"),
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"),
        F.col("s_item").alias("s_b"),
    )
    j = (
        top.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    return j.select(
        "part_a",
        "part_b",
        "support",
        F.round(
            F.col("support").cast("double") / F.col("s_a").cast("double"),
            9,
        ).alias("confidence_a_b"),
        F.round(
            F.col("n_baskets").cast("double")
            * F.col("support").cast("double")
            / (F.col("s_a").cast("double") * F.col("s_b").cast("double")),
            9,
        ).alias("lift"),
    )


@register(
    "profile_table_fingerprint",
    # Order-insensitive partition fingerprints — the anti-entropy /
    # replication-verification primitive: two sites compare per-month
    # (n_rows, fingerprint) pairs and re-sync only months that differ,
    # never shipping rows. Fingerprint = Σ sha-hash(row canon) mod
    # 2^60: addition is commutative, so the result is independent of
    # row order, partitioning, and merge strategy — and the sum is
    # exact (DECIMAL(38)/HUGEINT accumulate 60-bit terms without
    # overflow). Row canonicalization avoids every engine-divergent
    # rendering: integers and dates only — the price canonicalizes as
    # ROUND(x*100) (Spark CAST truncates where DuckDB CAST rounds, so
    # the explicit ROUND is the portable spelling; both engines round
    # positive halves identically).
    oracle=f"""
    WITH c AS (
      SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE))
                  AS DATE) AS month,
             ('0x' || substr(sha256(
                CAST(o_orderkey AS VARCHAR) || '|'
                || CAST(o_custkey AS VARCHAR) || '|'
                || o_orderstatus || '|'
                || CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                        AS VARCHAR) || '|'
                || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
              ), 1, 15))::BIGINT AS h
      FROM orders
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) % {1 << 60} AS BIGINT) AS fingerprint
    FROM c GROUP BY month ORDER BY month
    """,
    description="order-insensitive per-month table fingerprints "
    "(sum of 60-bit row hashes mod 2^60) — the anti-entropy check "
    "that lets two replicas diff a 100 TB table by exchanging one row "
    "per partition; integer-only row canonicalization",
)
def profile_table_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * F.lit(100), 0)
        .cast("long")
        .cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
    )
    h = F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast(
        "long"
    )
    return (
        o.select(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("month"),
            h.alias("h"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(F.col("h").cast("decimal(38,0)"))
                % F.lit(1 << 60)
            )
            .cast("long")
            .alias("fingerprint"),
        )
        .orderBy("month")
    )


@register(
    "profile_join_cardinality_estimate",
    # Sampling-based join cardinality estimation — the optimizer-
    # statistics primitive, done the correct way for PK–FK joins:
    # sample the PRIMARY-KEY side (orders, deterministic 2% sha-hash
    # sample — a key is in or out, so every fact row of a sampled key
    # is kept) and join the FULL fact side; the unbiased estimate is
    # sample_join_rows / 0.02 = 50x, an exact integer. Sampling the
    # fact side too would square the inclusion probability and
    # underestimate. Relative error vs the exact join count is one
    # pinned division. At 100 TB the sample join touches 2% of one
    # side and the exact pass is what you are trying to avoid — here
    # it is computed only to gate the estimator.
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey FROM orders
      WHERE {SP.sql_hash_fraction('o_orderkey', salt='card')} < 0.02
    ), sj AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sample_join_rows,
             CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS sample_orders
      FROM lineitem JOIN s ON l_orderkey = o_orderkey
    ), ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT sample_orders, sample_join_rows,
           sample_join_rows * 50 AS estimated_rows,
           exact_rows,
           ROUND((CAST(sample_join_rows * 50 AS DOUBLE)
                  - CAST(exact_rows AS DOUBLE))
                 / CAST(exact_rows AS DOUBLE), 9) AS rel_error
    FROM sj, ex
    """,
    description="sampling-based PK-FK join cardinality estimate: 2% "
    "deterministic hash sample of the key side x full fact side, 50x "
    "scale-up vs the exact count with relative error — the optimizer-"
    "statistics primitive, exact integers end to end",
)
def profile_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions import sampling as SP_

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = o.filter(
        SP_.hash_fraction(F.col("o_orderkey"), salt="card") < F.lit(0.02)
    ).select("o_orderkey")
    sj = li.join(
        F.broadcast(s), li.l_orderkey == s.o_orderkey
    ).agg(F.count(F.lit(1)).cast("long").alias("sample_join_rows"))
    so = s.agg(F.count(F.lit(1)).cast("long").alias("sample_orders"))
    ex = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).cast("long").alias("exact_rows")
    )
    j = (
        sj.crossJoin(F.broadcast(so))
        .crossJoin(F.broadcast(ex))
    )
    est = F.col("sample_join_rows") * F.lit(50)
    return j.select(
        "sample_orders",
        "sample_join_rows",
        est.cast("long").alias("estimated_rows"),
        "exact_rows",
        F.round(
            (est.cast("double") - F.col("exact_rows").cast("double"))
            / F.col("exact_rows").cast("double"),
            9,
        ).alias("rel_error"),
    )


@register(
    "classify_auc",
    # Exact ROC AUC via the Mann-Whitney U identity — the core
    # classifier-evaluation primitive, computed without materializing
    # a single ROC point: AUC = P(score_pos > score_neg) + ½P(tie)
    # = (2·R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻), where R⁺ is the midrank sum of
    # positives. Everything is EXACT INTEGER until one final division:
    # scores collapse to per-value (c_pos, c_tot) cells, a prefix
    # window over the value-ordered cells gives count-less, and each
    # cell's doubled midrank contribution is c_pos·(2·cum_less +
    # c_tot + 1). Ties get midranks exactly (the same correction
    # scipy's rankdata applies). Here: does document length predict
    # English? (label = lang='en', score = n_chars).
    oracle="""
    WITH cell AS (
      SELECT CAST(n_chars AS BIGINT) AS v,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_pos,
             CAST(COUNT(*) AS BIGINT) AS c_tot
      FROM documents GROUP BY 1
    ), pre AS (
      SELECT v, c_pos, c_tot,
             CAST(COALESCE(SUM(c_tot) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cum_less
      FROM cell
    ), s AS (
      SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
             CAST(SUM(c_tot - c_pos) AS BIGINT) AS n_neg,
             CAST(SUM(c_pos * (2 * cum_less + c_tot + 1))
                  AS BIGINT) AS two_rpos
      FROM pre
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(two_rpos - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE), 9) AS auc
    FROM s
    """,
    description="exact ROC AUC (Mann-Whitney rank-sum identity, "
    "midrank tie correction) of doc length predicting lang='en' — "
    "integer-exact per-value cells + one prefix window, one division",
)
def classify_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    cell = docs.groupBy(
        F.col("n_chars").cast("long").alias("v")
    ).agg(
        F.sum(
            F.when(F.col("lang") == "en", 1).otherwise(0)
        )
        .cast("long")
        .alias("c_pos"),
        F.count(F.lit(1)).alias("c_tot"),
    )
    # two-pass distributed cum_less (r12 window audit): length cells
    # are value-domain bounded, but a corpus of megabyte documents
    # still yields ~1e6 cells — no reason to sort them in one task
    # when the primitive is a drop-in (result identical: cells are
    # uniquely keyed by v)
    from ..functions.twopass import distributed_prefix_sum

    pre = distributed_prefix_sum(
        cell, ["v"], "c_tot", out_col="__cl", exclusive=True
    ).select(
        "c_pos",
        "c_tot",
        F.col("__cl").cast("long").alias("cum_less"),
    )
    s = pre.agg(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum(F.col("c_tot") - F.col("c_pos"))
        .cast("long")
        .alias("n_neg"),
        F.sum(
            F.col("c_pos")
            * (
                F.lit(2) * F.col("cum_less")
                + F.col("c_tot")
                + F.lit(1)
            )
        )
        .cast("long")
        .alias("two_rpos"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        F.round(
            (
                F.col("two_rpos")
                - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
            ).cast("double")
            / (
                F.lit(2) * F.col("n_pos") * F.col("n_neg")
            ).cast("double"),
            9,
        ).alias("auc"),
    )


# function-word vocabulary for the calibration score (a literal list,
# inlined identically in both engines)
_CAL_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")


@register(
    "classify_calibration",
    # Calibration curve + Brier score for a probability-like score —
    # the companion of classify_auc (AUC measures ranking; calibration
    # measures whether p=0.7 MEANS 70%). Score = function-word token
    # ratio (count of 8 literal stopwords / token count): exact
    # integer counts, one per-row IEEE division, identical in both
    # engines. Rows bucket into score deciles via FLOOR(p*10) (clamped
    # to 9); per-decile observed positive rate is a ratio of exact
    # counts, and the decile Brier contribution dsum((p - y)^2) uses
    # the DECIMAL accumulator (each term < 1 — far inside the
    # engine-identical cast range).
    oracle=r"""
    WITH t AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             LEN(LIST_FILTER(
               regexp_split_to_array(lower(text), '\s+'),
               x -> LEN(x) > 0)) AS n_tok,
             LEN(LIST_FILTER(
               regexp_split_to_array(lower(text), '\s+'),
               x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is',
                          'for'))) AS n_stop
      FROM documents
    ), p AS (
      SELECT y,
             CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS score
      FROM t WHERE n_tok > 0
    ), b AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS decile,
             y, score
      FROM p
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
             AS observed_rate,
           ROUND(CAST(SUM(CAST((score - y) * (score - y)
                               AS DECIMAL(38, 6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS brier
    FROM b GROUP BY decile ORDER BY decile
    """,
    description="calibration curve + per-decile Brier score of the "
    "function-word-ratio English score — exact integer counts, one "
    "pinned division per row, DECIMAL-accumulated Brier terms; the "
    "companion of classify_auc",
)
def classify_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    stops = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda x: x.isin(*_CAL_STOPWORDS),
    )
    t = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(toks).alias("n_tok"),
        F.size(stops).alias("n_stop"),
    ).filter(F.col("n_tok") > 0)
    p = t.select(
        "y",
        (
            F.col("n_stop").cast("double")
            / F.col("n_tok").cast("double")
        ).alias("score"),
    )
    b = p.select(
        F.least(
            F.floor(F.col("score") * F.lit(10)).cast("long"), F.lit(9)
        ).alias("decile"),
        "y",
        "score",
    )
    d = (F.col("score") - F.col("y"))
    return (
        b.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("y").cast("long").alias("n_pos"),
            F.round(
                F.sum("y").cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("observed_rate"),
            F.round(
                F.sum((d * d).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("brier"),
        )
        .orderBy("decile")
    )


@register(
    "events_hourly_p95",
    # Hour-of-day latency/value profile — the classic observability
    # query (p50/p95 per hour bucket), built on the SAME pinned
    # rank-and-interpolate machinery as profile_iqr_outliers: exact
    # interpolated quantiles with the interpolation expression spelled
    # identically in both engines. q=0.95 is not dyadic, but both
    # engines evaluate the SAME literal product (n-1)*0.95 as the same
    # correctly-rounded double, so rank selection and interpolation
    # agree bit-for-bit; round(6) guards nothing further. One window
    # sort per quantile per 24-row group set — never a collect.
    oracle="""
    WITH src AS (
      SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS g0,
             CAST(value AS DOUBLE) AS v0
      FROM events
    ),
    """
    + _oracle_quantile_cte("src", "g0", "v0", "0.5", "p50t")[5:]
    + ","
    + _oracle_quantile_cte("src", "g0", "v0", "0.95", "p95t")[5:]
    + """
    SELECT src.g0 AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(p50t.qv, 6) AS p50,
           ROUND(p95t.qv, 6) AS p95
    FROM src
    JOIN p50t ON src.g0 = p50t.g
    JOIN p95t ON src.g0 = p95t.g
    GROUP BY src.g0, p50t.qv, p95t.qv
    ORDER BY hour_of_day
    """,
    description="hour-of-day p50/p95 value profile (the observability "
    "latency-percentile shape) — pinned exact rank-and-interpolate "
    "quantiles, one window sort per quantile, no collect",
)
def events_hourly_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        F.hour(F.col("ts")).cast("long").alias("hr"),
        F.col("value").cast("double").alias("__v"),
    )
    p50 = grouped_exact_quantile(e, ["hr"], "__v", 0.5, out_col="__p50")
    p95 = grouped_exact_quantile(e, ["hr"], "__v", 0.95, out_col="__p95")
    counts = e.groupBy("hr").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        counts.join(F.broadcast(p50), "hr")
        .join(F.broadcast(p95), "hr")
        .select(
            F.col("hr").alias("hour_of_day"),
            "n_events",
            F.round(F.col("__p50"), 6).alias("p50"),
            F.round(F.col("__p95"), 6).alias("p95"),
        )
        .orderBy("hour_of_day")
    )


@register(
    "profile_conformal_interval",
    # Split-conformal prediction interval (Vovk; Lei et al. 2018) —
    # the distribution-free uncertainty primitive: fit on train,
    # take the (1-α) quantile of absolute residuals on a held-out
    # calibration set, and the interval ŷ ± q̂ carries a finite-sample
    # coverage guarantee. Every stage reuses proven engine-exact
    # machinery: the sha-hash three-way split (train/cal/test at
    # 60/20/20), the OLS closed form from DECIMAL co-moment sums
    # (profile_linear_trend), the pinned rank-and-interpolate quantile
    # at α=0.1 (0.9 is evaluated as the same correctly-rounded double
    # product in both engines), and exact-integer coverage counting on
    # the test set. Residuals are pinned IEEE sequences of exact-sum
    # derived doubles, so both engines rank the same values.
    oracle=f"""
    WITH u AS (
      SELECT o_orderkey,
             DATEDIFF('day', DATE '1970-01-01',
                      CAST(o_orderdate AS DATE)) - 9000 AS x,
             o_totalprice / 1000.0 AS y,
             {SP.sql_hash_fraction('o_orderkey', salt='conformal')} AS f
      FROM orders
    ), tr AS (
      SELECT COUNT(*) AS n,
             {SQL_DSUM('x')} AS sx, {SQL_DSUM('y')} AS sy,
             {SQL_DSUM('x * y')} AS sxy, {SQL_DSUM('x * x')} AS sxx
      FROM u WHERE f < 0.6
    ), fit AS (
      SELECT CAST(n AS BIGINT) AS n_train,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
             , (CAST(sy AS DOUBLE)
                - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      FROM tr
    ), cal AS (
      SELECT 1 AS g0,
             ABS(u.y - (fit.a + fit.b * u.x)) AS v0
      FROM u, fit WHERE u.f >= 0.6 AND u.f < 0.8
    ),
    """
    + _oracle_quantile_cte("cal", "g0", "v0", "0.9", "qt")[5:]
    + """
    SELECT fit.n_train,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cal) AS n_cal,
           ROUND(fit.b, 9) AS slope,
           ROUND(fit.a, 9) AS intercept,
           ROUND(qt.qv, 9) AS q_alpha10,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM u WHERE f >= 0.8)
             AS n_test,
           ROUND(
             (SELECT CAST(SUM(CASE WHEN ABS(u.y - (fit.a + fit.b * u.x))
                                        <= qt.qv
                                   THEN 1 ELSE 0 END) AS DOUBLE)
              FROM u WHERE f >= 0.8)
             / (SELECT CAST(COUNT(*) AS DOUBLE) FROM u WHERE f >= 0.8),
             9) AS test_coverage
    FROM fit, qt
    """,
    description="split-conformal prediction interval over the OLS "
    "trend model: sha-hash 60/20/20 split, DECIMAL closed-form fit, "
    "pinned exact 90% residual quantile on calibration, exact-integer "
    "coverage on test — the distribution-free UQ primitive",
)
def profile_conformal_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.profile import grouped_exact_quantile

    o = load(spark, sf_dir, "orders")
    u = o.select(
        "o_orderkey",
        (_epoch_day("o_orderdate") - F.lit(9000)).alias("x"),
        (F.col("o_totalprice") / F.lit(1000.0)).alias("y"),
        SP.hash_fraction(F.col("o_orderkey"), salt="conformal").alias(
            "f"
        ),
    )
    tr = u.filter(F.col("f") < 0.6).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    from ..core.exec import scoped_persist

    # persist the 1-row fit: the calibration pass, the test pass, and
    # the final select all read it — unpinned, the full train-split
    # co-moment aggregate would re-execute per consumer
    fit = scoped_persist(
        tr.select(
            F.col("n").alias("n_train"),
            b.alias("b"),
            ((sy - b * sx) / n).alias("a"),
        )
    )
    # persist the calibration residuals: consumed by the count AND the
    # quantile window (one materialization instead of two corpus reads)
    cal = scoped_persist(
        u.filter((F.col("f") >= 0.6) & (F.col("f") < 0.8))
        .crossJoin(F.broadcast(fit))
        .select(
            F.lit(1).alias("g0"),
            F.abs(
                F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
            ).alias("__v"),
        )
    )
    n_cal = cal.count()
    qt = grouped_exact_quantile(cal, ["g0"], "__v", 0.9, out_col="__q")
    test = (
        u.filter(F.col("f") >= 0.8)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qt.select("__q")))
    )
    cov = test.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(
            F.when(
                F.abs(
                    F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
                )
                <= F.col("__q"),
                1,
            ).otherwise(0)
        ).alias("n_covered"),
    )
    return (
        fit.crossJoin(F.broadcast(qt.select("__q")))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_train",
            F.lit(n_cal).cast("long").alias("n_cal"),
            F.round(F.col("b"), 9).alias("slope"),
            F.round(F.col("a"), 9).alias("intercept"),
            F.round(F.col("__q"), 9).alias("q_alpha10"),
            F.col("n_test").cast("long").alias("n_test"),
            F.round(
                F.col("n_covered").cast("double")
                / F.col("n_test").cast("double"),
                9,
            ).alias("test_coverage"),
        )
    )


@register(
    "join_scd2_lookup",
    # Point-in-time SCD Type-2 dimension lookup — the warehouse join
    # every fact table needs: each line item resolves the supplier
    # attribute version EFFECTIVE at its ship date (closed-open
    # [start, end) validity ranges). The versioned dimension is
    # derived deterministically from supplier (three epochs per
    # supplier, balance re-stated +1000 per epoch — a synthetic but
    # fully-specified SCD2 history both engines rebuild identically,
    # the documents_as_video pattern). The lookup runs through the
    # bucketed range join (operators/range_join.py): an equi-join on
    # (suppkey, epoch-day bucket) + residual range filter — never a
    # nested loop, the shape that survives a 100 TB fact side.
    # Epoch-day integers end to end; sums in DECIMAL(38,6).
    oracle="""
    WITH dim AS (
      SELECT s_suppkey, v.version,
             v.st AS eff_start, v.en AS eff_end,
             s_acctbal + 1000 * v.version AS acctbal_v
      FROM supplier, UNNEST([
        {'version': 0, 'st': 8035, 'en': 8766},
        {'version': 1, 'st': 8766, 'en': 9497},
        {'version': 2, 'st': 9497, 'en': 11000}
      ]) AS t(v)
    ), fact AS (
      SELECT l_suppkey, l_quantity,
             DATEDIFF('day', DATE '1970-01-01',
                      CAST(l_shipdate AS DATE)) AS ship_day
      FROM lineitem WHERE l_suppkey <= 20
    )
    SELECT d.s_suppkey, d.version,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(CAST(SUM(CAST(f.l_quantity AS DECIMAL(38, 6)))
                      AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(MIN(d.acctbal_v) AS DOUBLE), 2) AS acctbal_v
    FROM fact f JOIN dim d
      ON f.l_suppkey = d.s_suppkey
     AND f.ship_day >= d.eff_start AND f.ship_day < d.eff_end
    GROUP BY d.s_suppkey, d.version
    """,
    description="SCD Type-2 point-in-time dimension lookup: fact ship "
    "dates resolve the supplier version effective at that date via the "
    "bucketed range join (equi on suppkey+day-bucket, residual range "
    "filter — no nested loop); deterministic 3-epoch dimension history",
)
def join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import range_join

    sup = load(spark, sf_dir, "supplier")
    epochs = F.array(
        *[
            F.struct(
                F.lit(v).alias("version"),
                F.lit(st).alias("st"),
                F.lit(en).alias("en"),
            )
            for v, st, en in ((0, 8035, 8766), (1, 8766, 9497), (2, 9497, 11000))
        ]
    )
    dim = sup.select(
        "s_suppkey",
        F.explode(epochs).alias("e"),
        "s_acctbal",
    ).select(
        "s_suppkey",
        F.col("e.version").alias("version"),
        F.col("e.st").alias("eff_start"),
        # closed-open [start, end): range_join is inclusive on both
        # ends, so the interval side carries end-1 (integer days)
        (F.col("e.en") - F.lit(1)).alias("eff_end_incl"),
        (F.col("s_acctbal") + F.lit(1000) * F.col("e.version")).alias(
            "acctbal_v"
        ),
    )
    fact = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 20)
        .select(
            "l_suppkey",
            "l_quantity",
            _epoch_day("l_shipdate").alias("ship_day"),
        )
    )
    joined = range_join(
        fact,
        dim,
        point_col="ship_day",
        start_col="eff_start",
        end_col="eff_end_incl",
        bucket_width=365,
        equi_keys=[("l_suppkey", "s_suppkey")],
    )
    return (
        joined.groupBy(
            F.col("l_suppkey").alias("s_suppkey"), F.col("version")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_qty"),
            F.round(F.min("acctbal_v").cast("double"), 2).alias(
                "acctbal_v"
            ),
        )
    )
