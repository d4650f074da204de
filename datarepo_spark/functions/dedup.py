"""Deduplication operators for LLM training-data pipelines.

Five tiers, all expressed Spark-first and designed for the 100 TB shape:

  exact_dedup        one shuffle on a 32-byte hash key (not the document!)
  minhash_lsh_dedup  shingle → minhash → band → bucket-join; candidate
                     verification by exact Jaccard. The classic
                     Broder/MMDS construction.
  simhash_dedup      64-bit simhash + banded hamming candidate join
  ngram_jaccard      exact n-gram Jaccard over candidate pairs
  embedding_near_dup cosine near-duplicate pairs over embeddings

Scale notes (the reason these shapes were chosen):
  - Never shuffle raw documents. Every exchange key is a fixed-width hash
    (sha256 / minhash band / simhash band), so shuffle volume is O(rows ×
    32B), not O(corpus bytes).
  - LSH turns the O(n²) pair problem into per-bucket joins; band width r
    and band count b tune the S-curve (P[candidate] = 1-(1-s^r)^b).
  - Candidate verification joins back to shingle sets by doc id — two
    narrow shuffles instead of a quadratic cross join.
  - All hashing uses built-in JVM functions (xxhash64/sha2) — codegen'd,
    no Python boundary.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.exec import (  # noqa: F401  (unpersist_intermediates: re-export)
    parallelism,
    scoped_persist,
    spread_input,
    unpersist_intermediates,
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_key(text: Column, *, normalize: bool = True) -> Column:
    """32-byte exact-duplicate key: sha256 of (optionally normalized) text.
    sha2 is standardized → identical in every engine, so exact dedup is
    fully oracle-verifiable."""
    c = F.lower(F.trim(text)) if normalize else text
    return F.sha2(c, 256)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (lowest id) per distinct normalized content.

    min(id) is the deterministic survivor rule (dropDuplicates would keep
    an arbitrary row). Shuffle inventory, honestly: the winners aggregate
    shuffles (32-byte sha256, id) pairs — never text — but the final
    left-semi join re-partitions BOTH sides by ``id_col``, and on an
    unbucketed source that second exchange carries full document rows.
    The production layout at 100 TB is the corpus bucketed by ``id_col``
    (:mod:`datarepo_spark.tables.bucketed`): the bucketed scan reports
    HashPartitioning(id) so Catalyst elides the fact-side exchange and
    only the tiny winners (ids) move — document bodies then never shuffle
    (asserted: tests/test_bucketed.py
    ``test_exact_dedup_on_bucketed_corpus_never_shuffles_text``)."""
    key = content_key(F.col(text_col))
    winners = (
        df.select(F.col(id_col), key.alias("__ck"))
        .groupBy("__ck")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def exact_dedup_project(
    df: DataFrame,
    cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup when only ``cols`` (which must include ``id_col``) of
    the survivor row are needed: one scan, one shuffle, NO join back.

    ``min(struct(id, payload...))`` picks the same min-id survivor as
    :func:`exact_dedup` and carries its payload columns through the
    aggregation, so the semi-join re-scan of the source (and its second
    evaluation of any upstream projection) disappears. The shuffle moves
    only (32-byte sha256, id, payload) — at 100 TB this is the shape to
    prefer whenever the downstream consumer needs a column subset rather
    than whole rows."""
    if id_col not in cols:
        raise ValueError(f"cols must include {id_col!r}: {cols}")
    payload = [id_col] + [c for c in cols if c != id_col]
    key = content_key(F.col(text_col))
    won = (
        df.select(key.alias("__ck"), F.struct(*payload).alias("__row"))
        .groupBy("__ck")
        .agg(F.min("__row").alias("__w"))
    )
    return won.select(*[F.col(f"__w.{c}").alias(c) for c in cols])


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles_from_tokens(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram array from a token-array column. ``tokens``
    should be a materialized column *reference* — the per-gram lambda
    references it 'n' times, and Spark inlines expression arguments into
    every reference site."""
    count = F.size(tokens)
    idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(0)))
    grams = F.when(
        count >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))
    return F.array_distinct(grams)


def tokens_of(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: F.length(t) > 0)


def shingles(text: Column, n: int = 3) -> Column:
    """Expression-level shingles (OK for small inputs / single use; prefer
    :func:`with_shingles` in pipelines — see shingles_from_tokens note)."""
    return shingles_from_tokens(tokens_of(text), n)


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, out: str = "grams"
) -> DataFrame:
    """(id, grams) via staged projections so tokenization runs once per row
    and the n-gram lambda reads a materialized attribute."""
    toks = df.select(F.col(id_col), tokens_of(F.col(text_col)).alias("__toks"))
    return toks.select(
        id_col, shingles_from_tokens(F.col("__toks"), n).alias(out)
    )


def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
    distinct: bool = False, spread: bool = True,
) -> DataFrame:
    """(id, gram) ROWS — the high-throughput shingle path.

    Higher-order array functions (transform/filter) are CodegenFallback in
    Spark — interpreted per row — which made the array-of-grams expression
    the pipeline bottleneck (~2.4 ms/doc measured). This formulation is
    all codegen-able relational ops with NO shuffle of its own: explode a
    position index, then gram = concat_ws(slice(tokens, i+1, n)). The
    whole chain (scan → explode → slice/concat → downstream hash +
    partial agg) fuses into one WholeStageCodegen pipeline, so a MinHash
    signature costs exactly ONE exchange of O(docs × lanes × 8 B) — the
    earlier window-lead construction paid two O(corpus-token) shuffles
    (window sort + distinct) before that. Measured at sf0.1: 4→1
    exchanges, 0.90 s → 0.56 s warm; identical signatures.

    Rows are a multiset by default: duplicate grams don't affect the
    per-lane MIN that MinHash takes downstream. Pass ``distinct=True``
    when set semantics matter (costs the (id, gram) shuffle back).
    Docs with fewer than n tokens produce the whole-doc gram, and
    0-token docs produce the single empty gram ``''`` — matching
    shingles_from_tokens (and every DuckDB oracle's ``ELSE ['']``
    branch), so empty documents participate in dedup/contamination
    instead of silently vanishing from the row stream.

    The input is routed through :func:`spread_input` first when
    ``spread=True`` (the default): consumers of this path that do
    per-gram HASH work before their first exchange (sha256 band hashes,
    xxhash lanes — the MinHash/SimHash signature paths) would otherwise
    run it on the single task a one-row-group parquet scan plans to
    (r13; measured 2.64 s → 1.90 s on the sf0.1 portable-SimHash
    signature). Consumers whose first post-tokenize operator is ITSELF
    an exchange (a distinct / groupBy on (id, gram)) pass
    ``spread=False``: the tokenize+concat work ahead of that exchange
    is cheap, so the extra repartition is pure overhead there (r13
    paired probes: contamination 0.45→0.37 s, curation-v3 4.62→3.94 s,
    repetition 0.61→0.43 s, OFF winning 15/15 interleaved pairs). At
    production scale both settings are identical — spread_input no-ops
    on any multi-split scan."""
    df = df.select(F.col(id_col), F.col(text_col))
    if spread:
        df = spread_input(df, id_col)
    toks = df.select(F.col(id_col), tokens_of(F.col(text_col)).alias("__toks"))
    idx = toks.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.size("__toks") - n, F.lit(0))
            )
        ).alias("__i"),
    )
    gram = F.when(
        F.size("__toks") >= n,
        F.concat_ws(" ", F.slice("__toks", F.col("__i") + 1, n)),
    ).otherwise(F.concat_ws(" ", "__toks"))
    out = idx.select(F.col(id_col), gram.alias("gram"))
    return out.distinct() if distinct else out


def minhash_doc_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    with_sig: bool = False,
) -> DataFrame:
    """(id, __bands [, __sig]) per document: MinHash the shingle set and
    hash each band of lanes. The shared signature front-end of the LSH
    pipeline and the persisted dedup index.

    Explode-and-aggregate MinHash (the scalable construction): one row
    per (doc, shingle), ``num_hashes`` independent xxhash64 columns,
    then groupBy(doc).min per lane. Why not one deep array expression
    per row: fusing shingles→64 hash lanes→16 band hashes into a single
    projection generates a method past the JIT's ~8KB compile limit,
    and an interpreted hot loop is ~20-100× slower (measured: 95 s vs
    5 s at sf0.001). Here every stage's generated code is small, and
    the hash partial-aggregate (map-side combine) shrinks the shuffle
    to O(docs × num_hashes × 8 B) regardless of shingle count."""
    rows = num_hashes // bands
    exploded = shingle_rows(df, text_col, id_col, n)
    # One strong string hash per shingle; the 64 minhash lanes re-hash the
    # fixed-width base (xxhash64 over two longs) instead of hashing the
    # shingle string 64× — ~10× cheaper per row. (A multiply-add universal
    # family would be cheaper still, but ANSI mode makes wrapping 64-bit
    # multiplication an overflow error.)
    hashed = exploded.select(
        id_col, F.xxhash64(F.col("gram")).alias("__h")
    )
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    # Materialize all band hashes once as an array; each banded row
    # carries the full array so the pair stream can apply the first-
    # matching-band filter inline (same construction as simhash):
    # a pair colliding in several bands survives from exactly ONE, so
    # no global pair distinct — the pair stream's only exchange — is
    # needed. Payload cost: bands × 8 B per bucket member.
    cols = [
        F.col(id_col),
        F.array(
            *[
                F.xxhash64(
                    *[F.col(f"__m{b * rows + r}") for r in range(rows)]
                )
                for b in range(bands)
            ]
        ).alias("__bands"),
    ]
    if with_sig:
        cols.append(
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(
                "__sig"
            )
        )
    return sig.select(*cols)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH bucket.

    Plan shape: one scan computes signatures, explode to (band, bucket,
    id), self-join on (band, bucket) — the only shuffle keys are 16-byte
    band hashes. With b=16, r=4 the S-curve puts the 50% threshold at
    s ≈ (1/16)^(1/4) ≈ 0.5."""
    withbands = minhash_doc_bands(df, text_col, id_col, n, num_hashes, bands)
    buckets = withbands.select(
        id_col,
        "__bands",
        F.posexplode("__bands").alias("band", "bucket"),
    )
    cands = bucket_pairs(
        buckets,
        ["band", "bucket"],
        id_col,
        payload_cols=["__bands"],
        carry_key_cols=["band"],
        distinct_pairs=False,
    )
    earlier_band_match = F.lit(False)
    for j in range(bands - 1):
        earlier_band_match = earlier_band_match | (
            (F.lit(j) < F.col("band"))
            & (
                F.element_at(F.col("__bands_a"), j + 1)
                == F.element_at(F.col("__bands_b"), j + 1)
            )
        )
    return cands.filter(~earlier_band_match).select("id_a", "id_b")


def _wrap64(v: int) -> int:
    """Two's-complement wrap into signed 64-bit (JVM long literals)."""
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def bucket_pairs(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket_size: int = 2_000,
    payload_cols: Sequence[str] = (),
    carry_key_cols: Sequence[str] = (),
    distinct_pairs: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing a bucket.

    ``payload_cols``: narrow per-id columns (e.g. an 8-byte signature) to
    carry through the bucket aggregation and emit as ``<col>_a``/
    ``<col>_b`` alongside the ids — letting the caller verify candidates
    inline instead of joining the payload back by id afterwards (two
    fewer shuffles). Only worth it for fixed-width payloads; wide ones
    (shingle arrays) should keep using the join-back pattern.

    Construction: groupBy bucket → sorted member array (buckets above
    ``max_bucket_size`` dropped), then NESTED generators: posexplode the
    member array to (pos_a, member_a), explode ``slice(members,
    pos_a + 2, …)`` for the partners after it. Pairs stream out of one
    WholeStageCodegen stage — no self-join, no second exchange, and no
    persist (the aggregate has exactly one consumer; earlier join-based
    formulations needed a cache because AQE's broadcast conversion
    re-executed the whole signature pipeline per side). Peak per-row
    allocation is the O(max_bucket_size) member array (~32 KB at the
    default cap), never an in-row C(n,2) pair product. The only
    exchanges in the whole operator: the bucket groupBy and the final
    pair distinct.

    The cap exists because an oversized LSH bucket means a degenerate key
    (empty docs, boilerplate): at 100 TB it is what keeps one bad bucket
    from producing 10^12 pairs. 2k members ≈ 2M pairs per worst bucket —
    bounded work AND bounded memory.

    ``carry_key_cols``: bucket-key columns to emit on each pair (e.g.
    the band index). ``distinct_pairs=False`` skips the final pair
    distinct — for callers that guarantee global uniqueness themselves
    (the first-matching-band filter in :func:`simhash_dedup_pairs`),
    removing the pair stream's only exchange."""
    member = F.struct(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in payload_cols],
    )
    ids = (
        buckets.groupBy(*key_cols)
        # struct sort orders by the leading __id field, so position order
        # is id order with or without payload
        .agg(F.sort_array(F.collect_set(member)).alias("__ids"))
        .filter(
            (F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket_size)
        )
    )
    first = ids.select(
        *carry_key_cols,
        F.col("__ids"),
        F.posexplode("__ids").alias("__pos", "__a"),
    )
    # partners strictly after __pos keep id_a < id_b (array is sorted);
    # slice() is 1-based, so start = __pos + 2
    second = first.select(
        *carry_key_cols,
        F.col("__a"),
        F.explode(
            F.slice(
                F.col("__ids"), F.col("__pos") + 2, F.size("__ids")
            )
        ).alias("__b"),
    )
    out = [
        F.col("__a.__id").alias("id_a"),
        F.col("__b.__id").alias("id_b"),
    ]
    for c in payload_cols:
        out += [
            F.col(f"__a.{c}").alias(f"{c}_a"),
            F.col(f"__b.{c}").alias(f"{c}_b"),
        ]
    out += [F.col(c) for c in carry_key_cols]
    result = second.select(*out)
    return result.distinct() if distinct_pairs else result


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(0.0)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|).

    Jaccard under-scores doc-in-doc duplication (a paragraph quoted
    inside a 100× longer page has Jaccard ≈ 1% but containment ≈ 100%)
    — containment is the standard asymmetric-duplication signal
    (Broder's resemblance/containment pair, SPIRE '97).

    Shape: the inverted-index form — distinct (id, gram) rows self-join
    on gram, so the shared-gram COUNT *is* |A∩B| and no per-pair list
    intersection runs; set sizes join back by id. Every pair with
    containment > 0 shares ≥1 gram, so candidate enumeration is exact,
    not sampled. Scale note: this is the exact-verification shape; at
    corpus scale the Zipf gram head makes the gram self-join quadratic
    in head-gram document frequency — band it behind MinHash-LSH
    (:func:`minhash_lsh_dedup_pairs` geometry) and use this on the
    candidate pairs, exactly like the Jaccard pipeline does."""
    g = scoped_persist(
        shingle_rows(df, text_col, id_col, n=n, distinct=True)
    )
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = g.select(F.col(id_col).alias("id_a"), "gram")
    b = g.select(F.col(id_col).alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("la"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("lb"))
    cont = F.round(
        F.col("c").cast("double") / F.least("la", "lb").cast("double"), 6
    )
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold.
    Verification joins shingle sets back by id — two narrow shuffles,
    never a cross join."""
    # The candidate-pair list feeds the cand_ids projection AND the final
    # verification join; without a persist the whole signature pipeline
    # (the dominant cost) re-executes once per consumer. The cache is
    # O(candidate pairs) — two longs per row, ≪ corpus.
    cands = scoped_persist(
        minhash_lsh_candidates(
            df, text_col, id_col, n, num_hashes, bands
        ).coalesce(parallelism(df))
    )
    # Shingle sets are only needed for CANDIDATE docs — semi-join first.
    # (LSH typically leaves <<1% of the corpus as candidates; computing
    # arrays for everything would redo the dominant cost.)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # sh feeds BOTH verification joins (sh_a and sh_b); without a persist
    # the candidate-shingle computation runs twice (self-join subtree
    # duplication — AQE broadcast conversion defeats exchange reuse).
    # Candidates are <<1% of the corpus, so this is a small cache
    # (coalesced: AQE can't shrink partition counts inside cached plans).
    sh = scoped_persist(
        with_shingles(
            df.join(cand_ids, id_col, "left_semi"),
            text_col,
            id_col,
            n,
            out="sh",
        ).coalesce(parallelism(df))
    )
    return (
        cands.join(
            sh.select(
                F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """64-bit SimHash from a (materialized!) array of shingle hashes: each
    output bit is the sign of Σ±1 over shingles for that bit position.

    NOTE: higher-order folds are CodegenFallback (interpreted per row) —
    this expression form is kept for small arrays / verification only; the
    pipeline path is :func:`simhash_df`'s explode/agg construction (same
    result, all codegen + partial aggregation)."""
    def signed64(v: int) -> int:
        # JVM longs are signed: bit 63's mask is the most negative long.
        return v - (1 << 64) if v >= (1 << 63) else v

    def bit_sum(i: int) -> Column:
        # NB: bind the mask via closure — a default-arg lambda would change
        # the lambda's arity, and pyspark passes one Column per parameter.
        mask = F.lit(signed64(1 << i))
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(
            bit_sum(i) > 0, F.lit(signed64(1 << i)).cast("long")
        ).otherwise(0)
    return out


PORTABLE_SIMHASH_BITS = 60  # 15 hex chars of sha256 — fits a signed long


def _gram_hash(gram: Column, portable: bool) -> Column:
    """Per-gram 64-bit hash. ``portable=False``: xxhash64 (native, cheap —
    the production default). ``portable=True``: the low 60 bits of
    sha256 — identical in every engine (DuckDB, Trino, …), which is what
    lets the SimHash pipeline be oracle-checked bit-for-bit end to end."""
    if not portable:
        return F.xxhash64(gram)
    return F.conv(
        F.substring(F.sha2(gram, 256), 1, PORTABLE_SIMHASH_BITS // 4), 16, 10
    ).cast("long")


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    portable: bool = False,
) -> DataFrame:
    """(id, simhash) via the explode/agg construction (mirrors MinHash):
    shingle ROWS → one hash per gram → distinct (set semantics) →
    groupBy(id) with per-bit conditional ±1 sums → recombine the sign bits.

    Every stage is whole-stage-codegen'd relational work with map-side
    partial aggregation — unlike the per-row 64-fold expression form
    (:func:`simhash_from_hashes`), which is interpreted (CodegenFallback)
    and was measured ~2.4 ms/doc. Shuffles: one distinct on (id, hash)
    16-byte rows + one vote aggregate — never the document text.

    ``portable=True`` swaps xxhash64 for a 60-bit sha256-derived gram hash
    (see :func:`_gram_hash`) so the whole signature is engine-portable and
    the DuckDB correctness gate can recompute it exactly.

    0-token docs arrive from shingle_rows as the single empty gram, and
    SimHash of one gram is the gram hash itself (each bit's lone vote is
    that bit) — so empty docs get the constant hash('') signature with no
    separate re-attach scan of the corpus."""
    bits = PORTABLE_SIMHASH_BITS if portable else 64
    # One exchange, not two: repartition by id, then BOTH the gram-set
    # dedup (groupBy id, hash) and the vote aggregate (groupBy id) run
    # exchange-free on that partitioning ([id] ⊆ each required
    # clustering). The trade: the shuffle ships the shingle MULTISET
    # ((id, 8 B hash) rows) instead of the map-side-deduped set — for
    # natural text the within-doc duplicate-gram rate is a few tens of
    # percent, far cheaper than a second full exchange.
    hashed = (
        shingle_rows(df, text_col, id_col, n)
        .select(
            F.col(id_col), _gram_hash(F.col("gram"), portable).alias("__h")
        )
        .repartition(F.col(id_col))
        .distinct()
    )
    # Packed-lane votes: two 32-bit ones-counters per aggregated long
    # (bit 2g in lane 0, bit 2g+1 in lane 1), halving the aggregation
    # buffer from `bits` sums to bits/2 + a count. The majority vote
    # recombines as 2*ones_i > n ⟺ (ones_i - (n-ones_i)) > 0, identical
    # to the per-bit ±1 sum. Lane sums are bounded by the distinct-gram
    # count per doc (< 2^31 at any representable row size), so lanes
    # never carry into each other.
    lane_mask = F.lit((1 << 32) - 1)
    packed = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("__h"), 2 * g).bitwiseAND(
                    F.lit(1)
                )
                + F.shiftleft(
                    F.shiftrightunsigned(F.col("__h"), 2 * g + 1).bitwiseAND(
                        F.lit(1)
                    ),
                    32,
                )
            ).alias(f"__p{g}")
            for g in range((bits + 1) // 2)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(bits):
        ones = F.shiftrightunsigned(
            F.col(f"__p{i // 2}"), 32 * (i % 2)
        ).bitwiseAND(lane_mask)
        sim = sim + F.when(
            ones * 2 > F.col("__n"), F.lit(_wrap64(1 << i)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return packed.select(F.col(id_col), sim.alias("sh"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via banded exact-match:
    split the signature bits into k+1 bands — any pair within distance k
    must agree exactly on ≥1 band (pigeonhole), so candidates come from
    equi-joins on band keys, never a cross join. Pigeonhole recall is
    EXACTLY 100%, so the output equals the brute-force hamming filter —
    with ``portable=True`` (sha256-derived signature) that makes the whole
    pipeline oracle-checkable end to end."""
    sh = simhash_df(df, text_col, id_col, portable=portable)
    bits = PORTABLE_SIMHASH_BITS if portable else 64
    return hamming_band_pairs(
        sh, id_col=id_col, bits=bits, max_hamming=max_hamming
    )


def hamming_band_pairs(
    sh_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sh",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket_size: int = 2_000,
) -> DataFrame:
    """All (id_a < id_b) pairs whose ``sig_col`` signatures are within
    ``max_hamming`` — banded exact-match over any precomputed fixed-width
    signature (SimHash, image average-hash, …): split the bits into k+1
    bands; any pair within distance k agrees exactly on ≥1 band
    (pigeonhole), so candidates come from equi-joins on band keys, never
    a cross join. Recall is pigeonhole-complete among pairs whose shared
    band-buckets stay within ``max_bucket_size``; an oversized bucket
    means a DEGENERATE key (constant signatures — blank images, empty
    docs) and is dropped by the :func:`bucket_pairs` skew guard rather
    than expanded into C(n,2) pairs — raise the cap if a corpus
    legitimately clusters that hard."""
    bands = max_hamming + 1
    width = bits // bands

    def band_key(sh: Column, b: int) -> Column:
        # last band absorbs the remainder bits so every signature bit is
        # covered — pigeonhole needs bands to PARTITION the bits, or
        # pairs differing only in uncovered bits would be missed
        w = bits - b * width if b == bands - 1 else width
        return F.shiftrightunsigned(sh, b * width).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    # The 8-byte signature rides through the bucket aggregation as a
    # bucket_pairs payload, so candidates come out with BOTH signatures
    # attached and hamming verification is an inline projection — no
    # signature persist and no pair-of-joins back to the signature table
    # (two fewer shuffles than the classic verify-by-id-join shape; the
    # signature pipeline is evaluated exactly once, as banding's input).
    sh = sh_df.select(F.col(id_col), F.col(sig_col).alias("sh"))
    banded = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(F.col("sh"), b).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sh", "bk.band", "bk.key")
    # distinct_pairs=False + first-matching-band filter: a pair whose
    # signatures agree on multiple bands would otherwise be emitted once
    # per agreeing band and need a global pair distinct (an exchange of
    # the whole pair stream). Since both signatures ride along, "is this
    # the LOWEST band where the keys agree?" is an inline predicate —
    # each qualifying pair survives from exactly one band, no exchange.
    cands = bucket_pairs(
        banded,
        ["band", "key"],
        id_col,
        max_bucket_size=max_bucket_size,
        payload_cols=["sh"],
        carry_key_cols=["band"],
        distinct_pairs=False,
    )
    earlier_band_match = F.lit(False)
    for j in range(bands - 1):
        earlier_band_match = earlier_band_match | (
            (F.lit(j) < F.col("band"))
            & (
                band_key(F.col("sh_a"), j) == band_key(F.col("sh_b"), j)
            )
        )
    # Hamming verification is an inline projection over the carried
    # signatures — never a cross join, and no join at all.
    return (
        cands.filter(~earlier_band_match)
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float arrays — sequential double folds (zip_with +
    aggregate), deterministic and engine-portable."""
    # Cast BEFORE multiplying: float×float rounds in float precision and
    # would diverge from any engine that promotes to double first.
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_a = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    norm_b = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return F.when(
        (norm_a > 0) & (norm_b > 0), dot / (norm_a * norm_b)
    ).otherwise(0.0)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. ``block_col`` (e.g. an LSH bucket or
    coarse-quantizer cell) bounds the join; without it this is the exact
    O(n²) baseline — fine for verification, not the 100 TB path (use
    :mod:`datarepo_spark.functions.similarity` buckets there)."""
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        *( [F.col(block_col).alias("blk_a")] if block_col else [] ),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        *( [F.col(block_col).alias("blk_b")] if block_col else [] ),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("blk_a") == F.col("blk_b"))
    return (
        a.join(b, cond)
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    k: int = 16,
    nprobe: int = 2,
    max_cell_rows: int = 65536,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with spherical k-means, find
    cosine near-duplicate pairs WITHIN clusters, and keep one document
    per near-dup component. Returns ``(id, component, kept)`` for every
    input row — singletons are their own component and are kept.

    Scale shape (cf. reference corpus-dedup goals; no counterpart
    operator exists there — the reference stops at exact dedup,
    /root/reference/src/datarepo/core/tables/deltalake_table.py has only
    unique_columns):
    - the k-means fit is the bounded FAISS-style sampled fit
      (:class:`~datarepo_spark.functions.ivf.IVFIndex.fit` — one
      ``sample_size``-row collect, never the corpus);
    - candidate generation is cell-blocked: the O(n²) cosine join runs
      per cell, so its cost is Σ|cell|², not |corpus|² — the SemDeDup
      trade. ``nprobe=2`` multi-probe assignment catches pairs that
      straddle a Voronoi boundary (each vector blocks into its top-2
      cells); the duplicate candidates this creates collapse in one
      pair-level groupBy, which is O(near-dup pairs) — tiny;
    - components via min-label propagation on the pair list only
      (:func:`~datarepo_spark.functions.graph.connected_components`);
    - vectors never shuffle after assignment; the component join carries
      ids only;
    - ``max_cell_rows`` bounds per-task memory: a cell larger than the
      cap is hash-split into ``nb = ceil(|cell|/cap)`` sub-blocks and
      every BLOCK PAIR (i ≤ j) becomes its own task holding ≤ 2·cap
      rows — exact within-cell semantics (every pair lands in exactly
      one task), so a skewed mega-cell degrades into more tasks instead
      of OOMing one executor. Normal cells have nb=1 and keep the
      single-task shape.
    """
    from pyspark.sql import types as T

    from .graph import connected_components
    from .ivf import IVFIndex

    if max_cell_rows < 1:
        raise ValueError(f"max_cell_rows must be >= 1, got {max_cell_rows}")
    index = IVFIndex.fit(df, vec_col=vec_col, id_col=id_col, k=k)
    # the assignment (the Arrow-batched corpus pass) feeds BOTH the cell
    # counts aggregate and the blocked pair generation — persist it once
    # (registered for release via unpersist_intermediates/dedup_scope)
    # or the most expensive stage executes twice
    assigned = scoped_persist(
        index.assign(
            df, vec_col=vec_col, id_col=id_col, nprobe=nprobe
        ).coalesce(parallelism(df))
    )

    # Sub-block oversized cells: nb per cell from a k-row broadcast of
    # cell counts; each row hashes to one block and replicates to the nb
    # block-pair tasks its block participates in. The replication factor
    # is nb — 1 for every cell under the cap, and only oversized cells
    # pay it (the alternative is one task materializing the whole cell).
    counts = assigned.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(max_cell_rows))
        .cast("int")
        .alias("__nb")
    )
    blocked = (
        assigned.join(F.broadcast(counts), "cell")
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__nb")).cast("int"),
        )
        .select(
            "*",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__nb") - 1),
                    lambda o: F.struct(
                        F.least(F.col("__blk"), o).alias("bi"),
                        F.greatest(F.col("__blk"), o).alias("bj"),
                    ),
                )
            ).alias("__task"),
        )
        .select(
            "cell",
            F.col("__task.bi").alias("__bi"),
            F.col("__task.bj").alias("__bj"),
            "__blk",
            id_col,
            vec_col,
        )
    )

    # Per-task all-pairs as numpy matmuls (applyInPandas), not a
    # row-level self-join: the join form evaluates an interpreted
    # higher-order dot product per candidate pair (CodegenFallback) —
    # measured 40× slower at sf0.1. Each task gathers at most two
    # sub-blocks (the one unavoidable shuffle); the matmul runs in row
    # chunks so the similarity buffer stays ≤ ~256 MB regardless of
    # block size, and only the ≥ threshold id pairs leave the task.
    def cell_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        _, bi, bj = key

        def unit_rows(frame):
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in frame[vec_col]]
            )
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0.0] = 1.0
            return mat / norms[:, None]

        def thresholded(unit_l, ids_l, unit_r, ids_r, intra):
            out_a, out_b = [], []
            chunk = max(1, (1 << 25) // max(len(ids_r), 1))
            for s in range(0, len(ids_l), chunk):
                sims = np.round(
                    unit_l[s : s + chunk] @ unit_r.T, 6
                )
                ia, ib = np.nonzero(sims >= threshold)
                if intra:  # strict upper triangle of the full matrix
                    keep = (ia + s) < ib
                    ia, ib = ia[keep], ib[keep]
                if len(ia):
                    out_a.append(ids_l[ia + s])
                    out_b.append(ids_r[ib])
            if not out_a:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype(
                    {"id_a": ids_l.dtype, "id_b": ids_r.dtype}
                )
            a = np.concatenate(out_a)
            b = np.concatenate(out_b)
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            return pd.DataFrame({"id_a": lo, "id_b": hi})

        if bi == bj:
            unit = unit_rows(pdf)
            ids = pdf[id_col].to_numpy()
            return thresholded(unit, ids, unit, ids, intra=True)
        left = pdf[pdf["__blk"] == bi]
        right = pdf[pdf["__blk"] == bj]
        if left.empty or right.empty:
            return pd.DataFrame(
                {"id_a": pdf[id_col].to_numpy()[:0],
                 "id_b": pdf[id_col].to_numpy()[:0]}
            )
        return thresholded(
            unit_rows(left),
            left[id_col].to_numpy(),
            unit_rows(right),
            right[id_col].to_numpy(),
            intra=False,
        )

    id_type = df.schema[id_col].dataType
    pairs = (
        blocked.groupBy("cell", "__bi", "__bj")
        .applyInPandas(
            cell_pairs,
            schema=T.StructType(
                [
                    T.StructField("id_a", id_type),
                    T.StructField("id_b", id_type),
                ]
            ),
        )
        # multi-probe: the same pair collides in up to nprobe shared
        # cells — one exchange over the (tiny) pair stream dedups it
        .distinct()
    )
    comp = connected_components(pairs, "id_a", "id_b")
    out = df.select(F.col(id_col)).join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    )
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        (
            F.col("component").isNull()
            | (F.col(id_col) == F.col("component"))
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Exact duplicate-span detection (substring-level dedup)
# ---------------------------------------------------------------------------


def shingle_rows_pos(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, pos, gram) rows — positional variant of :func:`shingle_rows`
    for span-level work. Only documents with >= n tokens participate
    (shorter docs have no length-n substring, per the substring-dedup
    definition). Input routed through :func:`spread_input` like
    :func:`shingle_rows` (same single-scan-task hazard): the raw
    (id, text) projection is spread BEFORE tokenizing, so on a
    degenerate single-task scan the tokenize itself parallelizes and
    the exchange ships text, not the wider ``__toks`` arrays (r14,
    per the r13 advice — the previous placement spread post-tokenize
    rows)."""
    base = spread_input(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )
    toks = base.select(
        F.col(id_col), tokens_of(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    idx = toks.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(
            F.sequence(F.lit(0), F.size("__toks") - n)
        ).alias("pos"),
    )
    return idx.select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", F.slice("__toks", F.col("pos") + 1, n)).alias(
            "gram"
        ),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Token spans whose every length-``n`` window occurs more than once
    in the corpus — the detection half of exact-substring dedup
    (Lee et al. 2022, 'Deduplicating Training Data Makes Language
    Models Better': substrings repeated across a corpus are memorized
    disproportionately; the dedup pass finds and cuts them). Returns
    (id, span_start, span_end, n_windows) with [span_start, span_end)
    in token coordinates, overlapping/adjacent windows merged.

    Relational shape — the suffix-array step of the paper replaced by
    an aggregation (count > 1 over length-n windows ≙ a repeated
    substring of length ≥ n):
      1. positional shingle explode (codegen, no shuffle);
      2. repeated-window set via groupBy(gram) count > 1 — partial
         aggregation does the heavy lifting map-side;
      3. left-semi join marks each doc's duplicated windows;
      4. gaps-and-islands merge per doc: a window starts a new span
         when its start exceeds the running max end of its
         predecessors (one window-function pass), then one groupBy
         per island.
    Shuffles: the gram aggregate + semi join (gram-keyed; production
    variant hashes grams to fixed 8-byte keys first) and the per-doc
    window partition. Document text itself never shuffles."""
    rows = shingle_rows_pos(df, text_col, id_col, n)
    repeated = (
        rows.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("gram")
    )
    marked = rows.join(repeated, "gram", "left_semi").select(
        F.col(id_col),
        F.col("pos").alias("start"),
        (F.col("pos") + n).alias("end"),
    )
    w = Window.partitionBy(id_col).orderBy("start")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = marked.select(
        F.col(id_col),
        "start",
        "end",
        F.when(
            prev_max.isNull() | (F.col("start") > prev_max), 1
        ).otherwise(0).alias("__new"),
    )
    islands = flagged.select(
        F.col(id_col),
        "start",
        "end",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__island"),
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select(id_col, "span_start", "span_end", "n_windows")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
) -> DataFrame:
    """Cross-corpus exact LINE dedup with document reassembly — the C4
    cleanup step: a line that repeats anywhere in the corpus (boilerplate
    headers, nav bars, license blurbs) survives only at its FIRST
    occurrence (minimal (doc, position)); every other copy is dropped
    and each document is stitched back together from its surviving
    lines. Lines shorter than ``min_tokens`` whitespace tokens never
    participate (dropping every repeated blank or bullet would destroy
    formatting — the same carve-out C4 makes by operating on sentence
    spans).

    Relational shape: one explode (posexplode of the line split), one
    aggregate keyed on the LINE CONTENT choosing the winner as a
    min-struct (no window over the corpus), one join back on content,
    and a per-document sort_array(collect_list) reassembly — bounded by
    a single document's line count, which is the unit that must fit
    anywhere by definition. Shuffles carry lines and ids, never whole
    documents.

    Returns (id, text, n_lines_kept, n_lines_dropped); a document whose
    every line was deduplicated away survives with empty text."""
    src = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("__text0"),
    )
    from .text import token_count

    lines = src.select(
        F.col(id_col),
        F.posexplode(F.split(F.col("__text0"), "\n")).alias(
            "__pos", "__line"
        ),
    )
    # token_count = one codegen'd regexp_count, textually paired with
    # the oracle's LEN(regexp_extract_all(...)) — cheaper on the hot
    # per-line path than materializing a filtered token array
    eligible = token_count(F.col("__line")) >= min_tokens
    lines = lines.withColumn("__dedupable", eligible)

    winners = (
        lines.filter(F.col("__dedupable"))
        .groupBy("__line")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__w")
        )
        .select(
            "__line",
            F.col("__w")[id_col].alias("__wid"),
            F.col("__w.__pos").alias("__wpos"),
        )
    )
    kept = lines.join(winners, "__line", "left").filter(
        (~F.col("__dedupable"))
        | (
            (F.col("__wid") == F.col(id_col))
            & (F.col("__wpos") == F.col("__pos"))
        )
    )
    per_doc = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = src.select(
        F.col(id_col),
        F.size(F.split(F.col("__text0"), "\n")).alias("__n_total"),
    )
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias(
            "n_lines_kept"
        ),
        (
            F.col("__n_total")
            - F.coalesce(F.col("n_lines_kept"), F.lit(0))
        ).cast("long").alias("n_lines_dropped"),
    )


def sql_line_dedup_ctes(min_tokens: int = 5) -> str:
    """The DuckDB CTE chain mirroring :func:`line_dedup` up through the
    per-(doc, pos) ``kept`` lines — shared by every oracle that builds
    on line dedup (consumers append their own reassembly aggregate).
    Expects an upstream CTE ``src(doc_id, t)``."""
    from .text import WS_TOKEN_RE, sql_token_count

    return rf"""split AS (
      SELECT doc_id, string_split(t, chr(10)) AS l FROM src
    ), lines AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             l[CAST(i AS INT)] AS line
      FROM split, UNNEST(RANGE(1, LEN(l) + 1)) AS u(i)
    ), flagged AS (
      SELECT *,
             {sql_token_count('line', WS_TOKEN_RE)} >= {min_tokens}
               AS dedupable
      FROM lines
    ), winners AS (
      SELECT line, MIN(doc_id * 1000000 + pos) AS wkey
      FROM flagged WHERE dedupable GROUP BY line
    ), kept AS (
      SELECT f.doc_id, f.pos, f.line
      FROM flagged f LEFT JOIN winners w ON f.line = w.line
      WHERE NOT f.dedupable
         OR (f.doc_id * 1000000 + f.pos) = w.wkey
    )"""


def minhash_lsh_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    broadcast_right: bool = True,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — (left_id, right_id,
    jaccard) for every left doc whose exact shingle Jaccard against
    some right doc clears ``threshold``. The near-dup upgrade of exact
    n-gram contamination checks: a training document that is a
    0.8-Jaccard paraphrase-level twin of an eval document shares few
    exact 13-grams but is still leakage.

    Plan shape: both sides band independently (the shared MinHash
    front-end), candidates come from ONE (band, bucket) equi-join —
    never a cross join; exact verification reads shingles for
    CANDIDATE ids only (left-semi both sides). ``broadcast_right``:
    the right side is typically the small benchmark/eval corpus —
    broadcast its bucket map so the big training side never shuffles
    for candidate generation; pass False when both sides are large
    (shuffled equi-join on the 16-byte band keys).
    """
    # the training-side bucket stream has exactly ONE consumer (the
    # candidate join) — no persist/coalesce: caching the largest
    # intermediate in the job buys nothing, and collapsing its
    # parallelism would bottleneck the 100 TB side
    lb = minhash_doc_bands(
        left, text_col, id_col, n, num_hashes, bands
    ).select(
        F.col(id_col).alias("left_id"),
        F.posexplode("__bands").alias("band", "bucket"),
    )
    rb = (
        minhash_doc_bands(right, text_col, id_col, n, num_hashes, bands)
        .select(
            F.col(id_col).alias("right_id"),
            F.posexplode("__bands").alias("band", "bucket"),
        )
    )
    if broadcast_right:
        rb = F.broadcast(rb)
    cands = scoped_persist(
        lb.join(rb, ["band", "bucket"])
        .select("left_id", "right_id")
        .distinct()
        .coalesce(parallelism(left))
    )
    lsh = with_shingles(
        left.join(
            cands.select(F.col("left_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        text_col,
        id_col,
        n,
        out="sh",
    ).select(F.col(id_col).alias("left_id"), F.col("sh").alias("sh_l"))
    rsh = with_shingles(
        right.join(
            cands.select(F.col("right_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        text_col,
        id_col,
        n,
        out="sh",
    ).select(F.col(id_col).alias("right_id"), F.col("sh").alias("sh_r"))
    return (
        cands.join(lsh, "left_id")
        .join(rsh, "right_id")
        .select(
            "left_id",
            "right_id",
            F.round(jaccard(F.col("sh_l"), F.col("sh_r")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate_near_dup(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """Drop training documents near-duplicate to ANY eval document
    (:func:`minhash_lsh_cross_pairs` under the hood) — benchmark
    decontamination at paraphrase level, not just exact-gram overlap.
    Returns the surviving training rows."""
    flagged = (
        minhash_lsh_cross_pairs(
            train, eval_df, text_col, id_col, threshold, **kwargs
        )
        .select(F.col("left_id").alias(id_col))
        .distinct()
    )
    return train.join(flagged, id_col, "left_anti")


def sql_shingle_gram_ctes(table: str = "documents") -> str:
    """DuckDB CTE text producing ``gr(doc_id, ln, g)`` — one row per
    (doc, distinct 3-gram), the exact convention of
    :func:`shingle_rows(distinct=True)` including the ``ELSE ['']``
    short-document carve-out pinned by tests/test_empty_doc_parity.py.
    Shared by oracles that score per-doc gram sets."""
    return rf"""toks AS (
      SELECT doc_id,
             LIST_FILTER(regexp_split_to_array(lower(text), '\s+'),
                         t -> LEN(t) > 0) AS tk
      FROM {table}
    ), sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               CASE WHEN LEN(tk) >= 3
                 THEN LIST_TRANSFORM(RANGE(1, LEN(tk) - 1),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 ELSE [COALESCE(LIST_AGGREGATE(tk, 'string_agg', ' '), '')]
               END) AS s
      FROM toks
    ), gr AS (
      SELECT doc_id, LEN(s) AS ln, UNNEST(s) AS g FROM sh
    )"""


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT all-pairs Jaccard-similarity join over word-token sets via
    prefix filtering (Chaudhuri/Ganti/Kaushik 2006; Bayardo et al.
    "Scaling Up All Pairs", WWW 2007) — the deterministic companion to
    MinHash-LSH: no probabilistic misses, same no-all-pairs scale shape.

    Returns (id_a, id_b, jaccard) for every unordered pair with
    token-set Jaccard >= ``threshold`` (ids ordered id_a < id_b,
    jaccard rounded(6) AFTER the exact threshold compare — the division
    is two identical integers in any engine, so the compare is
    engine-deterministic).

    Why it scales (and a naive token join doesn't): a pair at Jaccard
    >= t must share a token among the first ``|S| - ceil(t*|S|) + 1``
    of EITHER set when both sets are ordered by ascending global
    document frequency (rarest first). Joining only those short
    prefixes keys the candidate join on the corpus's RARE tokens — the
    frequent tokens that make a full token self-join quadratic never
    enter the join. Candidates then verify exactly on their full sets.

    Plan shape: token df is a keyed aggregate; the per-doc rarity
    order is a window partitioned BY DOCUMENT ordered by (df, token)
    — a consistent global total order without ever materializing a
    global vocabulary rank (no single-partition window anywhere).
    Verification joins the candidate ID pairs (small) back to per-doc
    sorted token arrays; document text never transits an exchange.
    Size pruning (t*|A| <= |B| <= |A|/t) drops impossible pairs before
    verification.
    """
    from pyspark.sql.window import Window

    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    t = float(threshold)
    tok = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(tokens_of(F.col(text_col)))).alias(
                "__tok"
            ),
        )
    )
    dfreq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        tok.join(dfreq, "__tok")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.asc("__df"), F.asc("__tok")
                )
            ),
        )
        .withColumn(
            "__sz",
            F.count(F.lit(1)).over(Window.partitionBy("__id")),
        )
    )
    # prefix length: |S| - ceil(t*|S|) + 1
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz")) + 1
    ).select("__id", "__tok", "__sz")
    a = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("__tok").alias("__tk"),
        F.col("__sz").alias("__sa"),
    )
    b = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("__tok").alias("__tk"),
        F.col("__sz").alias("__sb"),
    )
    cand = (
        a.join(b, "__tk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size pruning: t*|A| <= |B| and |B| <= |A|/t
            & (F.lit(t) * F.col("__sa") <= F.col("__sb"))
            & (F.col("__sb") * F.lit(t) <= F.col("__sa"))
        )
        .select("id_a", "id_b")
        .distinct()  # a pair can share several prefix tokens
    )
    sets = tok.groupBy("__id").agg(
        F.sort_array(F.collect_list("__tok")).alias("__set")
    )
    verified = (
        cand.join(
            sets.select(
                F.col("__id").alias("id_a"), F.col("__set").alias("__ta")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("__id").alias("id_b"), F.col("__set").alias("__tb")
            ),
            "id_b",
        )
        .withColumn(
            "__inter",
            F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))),
        )
        .withColumn(
            "__union",
            F.size("__ta") + F.size("__tb") - F.col("__inter"),
        )
        .withColumn(
            "__j",
            F.col("__inter").cast("double")
            / F.col("__union").cast("double"),
        )
        .filter(F.col("__j") >= t)
    )
    return verified.select(
        "id_a", "id_b", F.round("__j", 6).alias("jaccard")
    )
