"""Dataset splitting, sampling, and contamination checks for training
pipelines.

The reference engine stops at scan/filter/project; a corpus pipeline also
needs to SPLIT (train/val/test), SAMPLE (per-stratum rates), and CHECK
CONTAMINATION (eval n-grams leaking into train) — all at 100 TB, which
rules out anything driver-side or random-seeded-per-task.

Everything here derives from a sha256 HASH of a key column, not from RNG:

  * reproducible across runs, engines, partitionings, and cluster sizes —
    Spark's ``randomSplit``/``sampleBy`` draw per-task streams, so adding
    an executor reshuffles the split; a hash split never moves a row;
  * pure narrow projections — zero shuffle for split/sample;
  * exactly oracle-checkable (sha256 is identical everywhere; the gate
    recomputes assignments in DuckDB bit for bit).

The uniform variate is the first 60 bits of sha256(salt || key) scaled to
[0, 1): u = int(hex[:15], 16) / 2^60. Exact in IEEE double (60-bit int
divided by a power of two — no rounding), so threshold comparisons agree
across engines.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.exec import local_frame, scoped_persist

HASH_BITS = 60  # 15 hex chars: fits a signed long, exact as a double


def hash_fraction(key: Column, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) variate from a key column."""
    h = F.sha2(F.concat(F.lit(salt), key.cast("string")), 256)
    return F.conv(F.substring(h, 1, HASH_BITS // 4), 16, 10).cast(
        "long"
    ) / F.lit(float(1 << HASH_BITS))


def sql_hash_fraction(key_expr: str, salt: str = "") -> str:
    """The DuckDB-equivalent expression (oracle construction)."""
    return (
        f"(('0x' || substr(sha256('{salt}' || CAST({key_expr} AS VARCHAR)),"
        f" 1, {HASH_BITS // 4}))::BIGINT"
        f" / CAST({float(1 << HASH_BITS)} AS DOUBLE))"
    )


def with_split(
    df: DataFrame,
    key_col: str,
    weights: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative weight intervals
    over the hash variate. Pure projection: no shuffle, no RNG, stable
    under repartitioning — the property ``randomSplit`` cannot give you
    on a cluster. Weights need not sum to 1; a remainder becomes NULL
    (explicit holdout)."""
    u = hash_fraction(F.col(key_col), salt)
    expr = F.lit(None).cast("string")
    cumulative = 0.0
    cases = []
    for name, w in weights:
        cumulative += w
        cases.append((cumulative, name))
    for bound, name in reversed(cases):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    key_col: str,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of size ``k`` —
    Efraimidis–Spirakis A-Res with the deterministic sha variate in
    place of RNG: each row ranks by ``u^(1/w)`` and the global top-k
    wins, so inclusion probability is proportional to ``weight``.

    Scale shape: one scan + a TakeOrdered top-k (no global sort, no
    shuffle of the corpus). Reproducible across engines/partitionings;
    the rank is rounded to 12 decimals with the key as tiebreak so the
    cross-engine pow() last-ulp never flips the boundary row.

    Rows with weight ≤ 0 are excluded (A-Res semantics: inclusion
    probability proportional to a POSITIVE weight; a negative weight
    would otherwise rank u^(1/w) > 1, ahead of every legitimate row)."""
    u = hash_fraction(F.col(key_col), salt)
    w = weight.cast("double")
    rank = F.round(F.pow(u, F.lit(1.0) / w), 12)
    return (
        df.filter(w > 0)
        .withColumn("__wrank", rank)
        .orderBy(F.desc("__wrank"), F.asc(key_col))
        .limit(k)
        .drop("__wrank")
    )


def group_quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    key_col: str,
    salt: str = "quota",
) -> DataFrame:
    """Cap each group at ``quota`` rows, chosen by deterministic hash
    rank — the data-mixing primitive that stops one domain/source from
    dominating a training mix. One shuffle keyed on the group; within
    each group the window keeps the ``quota`` smallest variates (a
    uniform random subset, reproducible everywhere)."""
    w = Window.partitionBy(group_col).orderBy(
        hash_fraction(F.col(key_col), salt), F.asc(key_col)
    )
    return (
        df.withColumn("__qrn", F.row_number().over(w))
        .filter(F.col("__qrn") <= quota)
        .drop("__qrn")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Keep each row iff its hash variate falls under its stratum's rate —
    deterministic ``sampleBy``. Zero shuffle (the rate lookup compiles to
    a CASE expression, not a join); reproducible across engines and
    cluster layouts; composable with :func:`with_split` via a different
    salt (the variates are independent)."""
    u = hash_fraction(F.col(key_col), salt)
    rate: Column = F.lit(float(default_fraction))
    for value, fraction in sorted(fractions.items()):
        rate = F.when(
            F.col(strata_col) == F.lit(value), F.lit(float(fraction))
        ).otherwise(rate)
    return df.filter(u < rate)


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per eval document: the fraction of its distinct word n-grams that
    appear anywhere in the train corpus (benchmark-leakage detector, cf.
    the n-gram overlap checks in GPT-3/PaLM dataset reports).

    Scale shape: explode both sides to distinct gram rows, aggregate the
    train side to a distinct gram SET (shrinks it below the raw corpus),
    then a left semi-style join on the gram string and one count-agg per
    eval doc. Shuffles carry grams (~tens of bytes) and ids — never
    documents. Output: (id, n_grams, contaminated, contamination)."""
    from .dedup import shingle_rows

    # spread=False on both sides: each gram stream's first operator is
    # its own distinct exchange and no per-gram hashing precedes it, so
    # the degenerate-scan repartition is pure overhead (r13 paired
    # probe: 0.45→0.37 s, OFF winning 4/4 interleaved pairs; identical
    # at production scale where spread_input no-ops)
    eval_grams = (
        shingle_rows(eval_df, text_col, id_col, n, spread=False)
        .select(F.col(id_col), F.col("gram"))
        .distinct()
    )
    train_grams = (
        shingle_rows(train, text_col, id_col, n, spread=False)
        .select(F.col("gram"))
        .distinct()
    )
    hits = eval_grams.join(
        train_grams.withColumn("__hit", F.lit(1)), "gram", "left"
    )
    return hits.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("contaminated"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            / F.count("*").cast("double"),
            6,
        ).alias("contamination"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict,
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mixture",
) -> DataFrame:
    """Pretraining data-mixture sampling: keep a deterministic subset of
    each source so expected kept-token mass matches
    ``token_budget * weights[source]`` (the Pile/LLaMA-style mixture
    recipe). Sources absent from ``weights`` are dropped.

    Mechanics — two aggregates and a broadcast, no RNG:
      1. per-source token totals (one partial-agg job over
         (source, n_tokens) — text never shuffles);
      2. keep_rate_s = min(1, budget·w_s / tokens_s), a driver-free
         broadcast join of a |sources|-row frame;
      3. keep rows where the sha256 variate of the key < rate —
         the same reproducible-anywhere hash the split/sample
         operators use. Oversubscribed sources (rate would exceed 1)
         keep everything; the shortfall is visible in the output
         token counts rather than silently re-weighted.

    Returns the kept rows as (id, source, n_tokens)."""
    from .text import WS_TOKEN_RE, token_count

    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    toks = df.select(
        F.col(id_col),
        F.col(source_col),
        token_count(F.col(text_col), WS_TOKEN_RE)
        .cast("long")
        .alias("n_tokens"),
    )
    totals = toks.groupBy(source_col).agg(
        F.sum("n_tokens").alias("__total")
    )
    weight_rows = [(s, float(w)) for s, w in sorted(weights.items())]
    wdf = local_frame(
        df.sparkSession, weight_rows, f"{source_col} string, __w double"
    )
    rates = totals.join(wdf, source_col).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.lit(float(token_budget)) * F.col("__w") / F.col("__total"),
        ).alias("__rate"),
    )
    u = hash_fraction(F.col(id_col), salt)
    return (
        toks.join(F.broadcast(rates), source_col)
        .filter(u < F.col("__rate"))
        .select(id_col, source_col, "n_tokens")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
    coarse_buckets: int = 1000,
) -> DataFrame:
    """Greedy corpus selection under a token budget: take documents in
    (score DESC, id ASC) order while the running token total stays
    ≤ ``budget`` — the "best data that fits" primitive behind
    quality-thresholded pretraining mixes. Returns the selected rows as
    (id, score, tokens); semantics are the exact greedy prefix (the
    first overflowing document and everything after it are excluded).
    Unscored rows (NULL — and NaN for float scores) sort after every
    scored row (NaN before NULL, then id), so they are only selected
    once every scored document fits.

    Scale shape — the naive form is a GLOBAL sort of the corpus plus an
    unpartitioned running-sum window (one task sees every row). Instead:

      1. quantize scores into ``coarse_buckets`` integer buckets and
         aggregate token mass per bucket (one narrow shuffle of
         (bucket, tokens); the corpus never globally sorts);
      2. running-sum the ≤ ``coarse_buckets``-row bucket table (a tiny
         single-partition window) → buckets whose cumulative mass fits
         entirely, and THE one boundary bucket where the budget lands;
      3. fully-fitting buckets join back by bucket id (broadcast);
         only the boundary bucket's documents — a ``1/coarse_buckets``
         slice of the corpus — are exactly sorted (score DESC, id ASC)
         and prefix-summed against the remaining budget.

    Equivalent to the naive form because bucket id is monotone in score,
    so the greedy order visits buckets in id order and equal scores
    never straddle a bucket; the coarse pass only decides WHOLE buckets.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")

    # Persist the narrow (id, score, tokens) projection: the plan below
    # reads it THREE times (bucket-mass aggregate, whole-bucket
    # semi-join, boundary slice), and without a persist each reference
    # re-executes the caller's whole upstream pipeline — for the
    # curation composites that is a corpus-sized scoring job ×3 (r14,
    # guide §5; the analogous persist in nucleus_select measured
    # curate_v3 5.1 s → 2.0 s at sf0.1). Scope-released like every
    # dedup-pipeline intermediate.
    base = scoped_persist(
        df.select(
            F.col(id_col),
            F.col(score_col).alias("__score"),
            F.col(token_col).cast("long").alias("__tokens"),
        )
    )
    # NULL/NaN scores sort LAST (after every scored row, by id) — a
    # dedicated final bucket plus the __bad sort key keeps the bucket
    # assignment and the boundary ordering consistent; without this,
    # greatest(0, NULL) would silently promote unscored rows to the
    # BEST bucket, and an ANSI NaN→int cast would error out
    from pyspark.sql import types as _T

    score_type = base.schema["__score"].dataType
    bad = F.col("__score").isNull()
    if isinstance(score_type, (_T.DoubleType, _T.FloatType)):
        bad = bad | F.isnan(F.col("__score"))
    # integer bucket, monotone DEcreasing in score so ascending bucket
    # order == greedy (score desc) order; clamp to [0, coarse_buckets],
    # with coarse_buckets+1 reserved for unscored rows
    bucket = F.when(bad, F.lit(coarse_buckets + 1)).otherwise(
        F.least(
            F.lit(coarse_buckets),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.lit(1.0) - F.col("__score")) * coarse_buckets
                ).cast("int"),
            ),
        )
    )
    bucketed = base.withColumn("__b", bucket).withColumn(
        "__bad", bad.cast("int")
    )
    mass = bucketed.groupBy("__b").agg(F.sum("__tokens").alias("__m"))
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    cum = mass.select(
        "__b",
        F.sum("__m").over(w).alias("__cum"),
        (F.sum("__m").over(w) - F.col("__m")).alias("__prev"),
    )
    full = cum.filter(F.col("__cum") <= F.lit(budget)).select("__b")
    boundary = cum.filter(
        (F.col("__prev") <= F.lit(budget)) & (F.col("__cum") > F.lit(budget))
    ).select("__b", "__prev")
    taken_full = bucketed.join(F.broadcast(full), "__b", "left_semi")
    # the boundary slice: exact greedy prefix within ONE bucket's docs
    # (the only place a sort + unpartitioned running sum runs, on
    # ~corpus/coarse_buckets rows)
    bw = Window.orderBy(F.desc("__score"), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    taken_boundary = (
        bucketed.join(F.broadcast(boundary), "__b")
        .withColumn("__cum", F.sum("__tokens").over(bw) + F.col("__prev"))
        .filter(F.col("__cum") <= F.lit(budget))
        .drop("__cum", "__prev")
    )
    return (
        taken_full.unionByName(taken_boundary)
        .select(
            F.col(id_col),
            F.col("__score").alias(score_col),
            F.col("__tokens").alias(token_col),
        )
    )


def nucleus_select(
    df: DataFrame,
    group_cols: Sequence[str],
    score_col: str,
    p: float,
    id_col: str = "doc_id",
    coarse_buckets: int = 1000,
) -> DataFrame:
    """Per-group nucleus (top-p) selection: within each group, take
    documents in (score DESC, id ASC) order until the selected score
    mass first reaches ``p`` of the group's total — i.e. a document is
    kept iff the mass BEFORE it is < p·total, so the crossing document
    is included (the top-p sampling convention). The per-domain
    "highest-quality share of each source" primitive of pretraining
    mixes — where :func:`token_budget_select` takes the best data that
    fits a GLOBAL budget, this takes the best p-fraction of every group.

    Scale shape — the naive form sorts every group and runs a running-
    sum window over all its rows (one task per group sees the whole
    group; a 100 TB web-crawl group is a straggler). Instead, the same
    two-level plan as ``token_budget_select``, per group:

      1. per-group (min, max) score envelope (one narrow agg,
         broadcast back), scores quantized into ``coarse_buckets``
         integer buckets, monotone DEcreasing in score;
      2. score mass per (group, bucket) — a narrow shuffle of triples;
         the per-group running sum over its ≤``coarse_buckets`` bucket
         rows is a tiny window;
      3. buckets whose cumulative mass stays under p·total join back
         whole (broadcast); ONLY the one boundary bucket per group —
         a ~1/``coarse_buckets`` slice — is exactly sorted and
         prefix-summed.

    Equivalent to the naive form: the bucket id is monotone in score
    and equal scores share a bucket, so the greedy order visits whole
    buckets in bucket order; whether the threshold p·total lands before
    a doc can only change inside the single bucket whose cumulative
    range contains it.

    Scores must be an INTEGER mass (token/char/byte counts — the same
    contract as ``token_budget_select``'s token column) and
    non-negative: fractional score types raise up front (a silent
    long-cast would truncate quality scores in [0, 1) to zero and
    select nothing), and negatives raise from the (tiny, already
    computed) per-group envelope — no extra corpus pass. Fractional
    quality scores should be quantized by the caller
    (e.g. ``F.round(quality * 1_000_000).cast("long")``).

    Returns the selected rows as (id, *group_cols, score).
    """
    from pyspark.sql import types as _T

    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    score_type = df.schema[score_col].dataType
    if not isinstance(
        score_type, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
    ):
        raise ValueError(
            f"nucleus_select needs an integer mass score column; "
            f"{score_col} is {score_type.simpleString()} — quantize "
            f"first (e.g. round(score * 1e6) cast to long)"
        )
    groups = [F.col(g) for g in group_cols]

    # Persist the narrow (id, groups, score) projection: the two-level
    # plan reads it FOUR times (group envelope, bucket-mass aggregate,
    # whole-bucket semi-join, boundary slice), and without a persist
    # each reference re-executes the caller's whole upstream pipeline.
    # pipeline_curate_v3 feeds this the fused gram-scorer pipeline
    # (~1.2 s/pass at sf0.1): the un-persisted form measured 5.14 s
    # for the full query vs 1.21 s for the scorers alone — the
    # two-level machinery was re-running the scoring job per reference
    # (r14, guide §5). Scope-released like every dedup-pipeline
    # intermediate.
    base = scoped_persist(
        df.select(
            F.col(id_col),
            *groups,
            F.col(score_col).cast("long").alias("__s"),
        )
    )
    # the |groups|-row envelope is persisted too: the eager
    # negative-mass validation below materializes it once and the
    # broadcast join reuses the cache — validation costs no second
    # corpus pass
    env = scoped_persist(
        base.groupBy(*group_cols).agg(
            F.min("__s").alias("__lo"),
            F.max("__s").alias("__hi"),
            F.sum("__s").alias("__total"),
        )
    )
    if not env.filter(F.col("__lo") < 0).limit(1).isEmpty():
        raise ValueError("nucleus_select needs non-negative scores")
    b = base.join(F.broadcast(env), list(group_cols))
    # bucket monotone DEcreasing in score; DOUBLE arithmetic — the
    # (hi - s) * B long multiply would overflow for extreme mass
    # ranges (ANSI crash / wrapped non-monotone buckets); double ops
    # are monotone so bucket order still equals greedy order and equal
    # scores share a bucket. Degenerate groups (one score value)
    # collapse into bucket 0.
    span = F.col("__hi").cast("double") - F.col("__lo").cast("double")
    scaled = (
        (F.col("__hi").cast("double") - F.col("__s").cast("double"))
        * F.lit(float(coarse_buckets))
        / span
    )
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.lit(coarse_buckets - 1),
            F.greatest(F.lit(0), F.floor(scaled).cast("int")),
        )
    )
    bucketed = b.withColumn("__b", bucket)
    mass = bucketed.groupBy(*group_cols, "__b").agg(
        F.sum("__s").alias("__m"), F.max("__total").alias("__total")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = mass.select(
        *group_cols,
        "__b",
        "__total",
        F.sum("__m").over(w).alias("__cum"),
        (F.sum("__m").over(w) - F.col("__m")).alias("__prev"),
    )
    thresh = F.col("__total") * F.lit(float(p))
    # whole bucket kept: its last doc's before-mass < its cum ≤ thresh…
    # strictly, every doc's before-mass < bucket cum, so __cum < thresh
    # keeps all; the boundary bucket (first with __cum >= thresh) is
    # resolved exactly; later buckets have before-mass ≥ __prev ≥ thresh
    full = cum.filter(F.col("__cum") < thresh).select(*group_cols, "__b")
    boundary = cum.filter(
        (F.col("__prev") < thresh) & (F.col("__cum") >= thresh)
    ).select(*group_cols, "__b", "__prev", "__total")
    keys = [*group_cols, "__b"]
    taken_full = bucketed.join(F.broadcast(full), keys, "left_semi")
    bw = (
        Window.partitionBy(*group_cols)
        .orderBy(F.desc("__s"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    taken_boundary = (
        bucketed.drop("__total")
        .join(F.broadcast(boundary), keys)
        .withColumn("__before", F.sum("__s").over(bw) + F.col("__prev") - F.col("__s"))
        .filter(F.col("__before") < F.col("__total") * F.lit(float(p)))
        .select(*bucketed.columns)
    )
    return (
        taken_full.unionByName(taken_boundary)
        .select(F.col(id_col), *group_cols, F.col("__s").alias(score_col))
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "cluster-split",
    out: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: documents connected by
    near-duplicate ``pairs`` (id_a, id_b) always land in the SAME
    split, because the hash-split variate keys on the near-dup
    CLUSTER's component id rather than the document id. A plain
    per-document split leaks evaluation data through near-duplicates —
    the train set memorizes a 0.95-Jaccard twin of a test document;
    keying on the component closes that channel by construction.

    Scale shape: component ids via min-label propagation over the pair
    graph only (:func:`~datarepo_spark.functions.graph
    .connected_components` — document text never enters the
    iteration), one left join of the |paired-docs|-row component map
    back (paired docs are a small fraction of a deduped corpus;
    singletons stay their own component via coalesce), then the split
    is a pure projection (sha variate — no RNG, stable under
    repartitioning).

    Returns ``df`` + (component, split).
    """
    from .graph import connected_components

    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias(id_col), "component"
    )
    annotated = df.join(comp, id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    return with_split(annotated, "component", weights, salt, out)


def ntile_shards(
    df: DataFrame,
    score_col: str,
    n_shards: int,
    id_col: str = "doc_id",
    coarse_buckets: int = 1000,
) -> DataFrame:
    """Exact NTILE(n) over (score ASC, id ASC) — equal-count shards in
    difficulty order, the curriculum-learning layout step — WITHOUT a
    global sort.

    The naive form is a single ORDER BY window over the whole corpus
    (one task sees every row). Instead the two-level plan:

      1. quantize scores into ``coarse_buckets`` integer buckets
         (monotone ASCENDING in score, from a per-frame min/max
         envelope — one narrow agg);
      2. count rows per bucket; the running bucket-prefix over the
         ≤``coarse_buckets``-row count table is a tiny window;
      3. rank rows WITHIN each bucket (hash exchange on the bucket id,
         local per-bucket sort — parallel, never rangepartitioning);
         global rank = bucket prefix + within-bucket rank, exact
         because the bucket id is monotone in score and equal scores
         share a bucket;
      4. the shard is arithmetic on the global rank (the standard
         NTILE split: the first ``N mod n`` shards take one extra row).

    Ties pile equal scores into one bucket (same caveat as
    ``token_budget_select``); a corpus where most rows share one score
    degrades to the naive shape for that bucket. NULL scores sort
    FIRST (Spark's ascending-order default) into their own bucket.

    Returns (id, score, shard) with 1-based long shards identical to
    ``NTILE(n_shards) OVER (ORDER BY score, id)``.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    base = df.select(F.col(id_col), F.col(score_col).alias("__s"))
    env = base.agg(
        F.min("__s").alias("__lo"),
        F.max("__s").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    b = base.crossJoin(F.broadcast(env))
    # bucket arithmetic in DOUBLE: (s - lo) * B on longs overflows for
    # wide score ranges (nanosecond timestamps, hash-derived longs) —
    # ANSI crash or wrapped non-monotone buckets; double multiply and
    # divide are monotone in s, so bucket order still equals score
    # order and equal scores share a bucket. A zero/tiny span (all
    # scores equal, or doubles in a range << 1) collapses to bucket 0
    # via the span <= 0 guard rather than a divide blowup; NULL scores
    # take a dedicated bucket -1, ordering FIRST like Spark's
    # ORDER BY score ASC.
    span = F.col("__hi").cast("double") - F.col("__lo").cast("double")
    scaled = (
        (F.col("__s").cast("double") - F.col("__lo").cast("double"))
        * F.lit(float(coarse_buckets))
        / span
    )
    bucket = (
        F.when(F.col("__s").isNull(), F.lit(-1))
        .when(span <= 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(coarse_buckets - 1),
                F.greatest(F.lit(0), F.floor(scaled).cast("int")),
            )
        )
    )
    bucketed = scoped_persist(
        b.withColumn("__b", bucket).select(id_col, "__s", "__b", "__n")
    )
    counts = bucketed.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    prefix = counts.select(
        "__b", (F.sum("__c").over(w) - F.col("__c")).alias("__prefix")
    )
    bw = Window.partitionBy("__b").orderBy(
        F.asc_nulls_first("__s"), F.asc(id_col)
    )
    ranked = (
        bucketed.join(F.broadcast(prefix), "__b")
        .withColumn(
            "__rank", F.row_number().over(bw) + F.col("__prefix")
        )
    )
    # NTILE arithmetic: N rows into k shards — first rem shards hold
    # base+1 rows (rank and shard both 1-based)
    n = F.col("__n")
    k = F.lit(n_shards)
    rank0 = F.col("__rank") - 1
    base_sz = F.floor(n / k).cast("long")
    rem = n - base_sz * k
    cut = rem * (base_sz + 1)
    shard = (
        F.when(base_sz == 0, rank0 + 1)
        .when(rank0 < cut, F.floor(rank0 / (base_sz + 1)) + 1)
        .otherwise(rem + F.floor((rank0 - cut) / base_sz) + 1)
    ).cast("long")
    return ranked.select(
        F.col(id_col),
        F.col("__s").alias(score_col),
        shard.alias("shard"),
    )


def temperature_weights(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    budget: int = 10_000,
) -> DataFrame:
    """Temperature-scaled mixture weights per source: w_i = n_i^α / Σ n_j^α.

    α < 1 flattens the natural source distribution (the multilingual /
    multi-corpus sampling rule from mBERT/XLM-R and the LLaMA data
    recipe): head sources are down-weighted, tail sources up-weighted,
    α=1 recovers proportional sampling and α=0 uniform. Output:
    (group, n, weight, expected_rows = weight × budget).

    Shape: one grouped count (the only corpus-sized exchange), then a
    whole-frame window over the GROUP frame — a handful of rows, so the
    single-partition window is free. pow is libm (last-ulp variance
    across engines): results are rounded to 6."""
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    p = F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
    w = p / F.sum(p).over(Window.partitionBy())
    return counts.select(
        group_col,
        "n",
        F.round(w, 6).alias("weight"),
        F.round(w * F.lit(float(budget)), 3).alias("expected_rows"),
    )


def temperature_sample(
    df: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = 0.7,
    budget: int = 10_000,
    salt: str = "temp",
) -> DataFrame:
    """Draw a temperature-flattened mixture: each group contributes
    round(w_i × budget) rows (w_i from :func:`temperature_weights`),
    chosen by deterministic hash rank — :func:`group_quota_sample` with
    a PER-GROUP quota instead of a flat cap. The executable form of the
    mBERT/XLM-R α-mixing recipe: one grouped count, the tiny weight
    frame broadcast back, one group-keyed window. The quota rounds the
    6-digit weight × budget half-away-from-zero — identical in Spark
    and DuckDB, and a .5 boundary is an exact binary double so neither
    engine drifts."""
    weights = temperature_weights(df, group_col, alpha=alpha, budget=budget)
    quota = weights.select(
        group_col,
        F.round(F.col("weight") * F.lit(float(budget)), 0)
        .cast("long")
        .alias("__quota"),
    )
    w = Window.partitionBy(group_col).orderBy(
        hash_fraction(F.col(key_col), salt), F.asc(key_col)
    )
    return (
        df.join(F.broadcast(quota), group_col)
        .withColumn("__trn", F.row_number().over(w))
        .filter(F.col("__trn") <= F.col("__quota"))
        .drop("__trn", "__quota")
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 64,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global corpus shuffle into training shards:
    ``shard`` = hash bucket of the key, ``pos`` = rank of a second
    (differently-salted) hash within the shard. Appends both columns.

    Training loaders need the corpus in reproducible pseudo-random
    order; at 100 TB a global ORDER BY rand() is both nondeterministic
    (retry hazard) and a rangepartitioning sort of the whole corpus.
    The distributed spelling is shard-then-sort-within: ONE exchange on
    the shard key and per-shard sorts — no global order, no sampling
    pass for range bounds — and the (shard, pos) pair is a total,
    content-derived permutation: identical on any cluster layout,
    any retry (see :func:`hash_fraction`).
    """
    shard = F.floor(
        hash_fraction(F.col(key_col), f"{salt}:shard") * n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(
        hash_fraction(F.col(key_col), f"{salt}:pos"), F.asc(key_col)
    )
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
    )
