"""Text-analysis operators for LLM training-data pipelines.

All operators are pure Catalyst column expressions (no Python UDFs) — they
run JVM-side inside whole-stage codegen and scale linearly with executors;
at 100 TB the cost is one scan, no shuffle. Each has a deterministic,
SQL-expressible definition so the DuckDB oracle can verify it bit-exactly.

Operators:
  - token statistics (whitespace + BPE-ish regex token counts)
  - quality scoring (length / punctuation / stopword / alpha ratios)
  - language identification (stopword-profile n-gram heuristic)
  - document fingerprinting (polynomial rolling hash over tokens)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish tokenizer regex (GPT-2 style, simplified to the alternation
# subset shared by Java regex and RE2 so engine and oracle agree).
BPE_TOKEN_RE = r"'[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"
WS_TOKEN_RE = r"\S+"
PUNCT_RE = r"[^\w\s]"

# Per-language stopword profiles for the n-gram/stopword heuristic.
# Word-boundary matches; tiny on purpose — a profile is a signature, not a
# dictionary. Order = tie-break precedence.
LANG_PROFILES: list[tuple[str, str]] = [
    ("en", r"\b(the|and|of|to|in|is|that|for|it|with)\b"),
    ("es", r"\b(el|la|de|que|y|los|en|un|una|por)\b"),
    ("de", r"\b(der|die|und|das|ist|von|mit|ein|zu|den)\b"),
    ("fr", r"\b(le|la|les|de|et|un|une|est|pour|dans)\b"),
]
CJK_RE = r"[一-鿿]"

FINGERPRINT_MOD = 1_000_000_007


def token_count(col: Column | str, pattern: str = WS_TOKEN_RE) -> Column:
    """Number of regex-token matches (JVM regexp_count — no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(pattern))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token/length statistics columns."""
    c = F.col(text_col)
    return df.select(
        "*",
        F.length(c).alias("n_chars_actual"),
        token_count(c, WS_TOKEN_RE).alias("n_tokens_ws"),
        token_count(c, BPE_TOKEN_RE).alias("n_tokens_bpe"),
        token_count(c, PUNCT_RE).alias("n_punct"),
    )


def quality_score(text: Column) -> Column:
    """Deterministic quality score in [0, 1]: penalize extreme length,
    high punctuation density, low stopword density, low alpha ratio.
    Mirrors the standard Gopher/C4-style heuristic filters, expressed as
    pure SQL arithmetic so it is cross-engine reproducible."""
    n_chars = F.length(text).cast("double")
    n_tokens = token_count(text, WS_TOKEN_RE).cast("double")
    n_punct = token_count(text, PUNCT_RE).cast("double")
    n_alpha = token_count(text, r"[a-zA-Z]").cast("double")
    n_stop = F.regexp_count(text, F.lit(LANG_PROFILES[0][1])).cast("double")

    mean_tok_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(1.0)
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0)

    len_ok = F.when((n_tokens >= 5) & (n_tokens <= 100000), 1.0).otherwise(0.0)
    tok_ok = F.when((mean_tok_len >= 2) & (mean_tok_len <= 12), 1.0).otherwise(0.0)
    score = (
        0.25 * len_ok
        + 0.25 * tok_ok
        + 0.2 * F.least(F.lit(1.0), stop_ratio * 4)
        + 0.2 * alpha_ratio
        + 0.1 * (1 - F.least(F.lit(1.0), punct_ratio * 5))
    )
    return F.round(score, 6)


def detect_language(text: Column) -> Column:
    """Stopword-profile language heuristic: count per-language profile hits
    (normalized by token count), CJK characters trump, ties break in
    profile order. Pure regexp_count arithmetic — codegen'd, no UDF."""
    lowered = F.lower(text)
    scores = {
        lang: F.regexp_count(lowered, F.lit(pat))
        for lang, pat in LANG_PROFILES
    }
    cjk = F.regexp_count(text, F.lit(CJK_RE))
    result = F.lit("unknown")
    # Build from lowest precedence up so earlier profiles win ties.
    for lang, _ in reversed(LANG_PROFILES):
        score = scores[lang]
        better = F.lit(True)
        for other, _ in LANG_PROFILES:
            if other == lang:
                continue
            # Earlier profile wins ties: against later profiles a tie is
            # enough (<=); against earlier ones we must be strictly ahead.
            cmp = (
                scores[other] <= score
                if _precedes(lang, other)
                else scores[other] < score
            )
            better = better & cmp
        result = F.when((score > 0) & better, F.lit(lang)).otherwise(result)
    # CJK dominates when present in any volume.
    return F.when(cjk > 0, F.lit("zh")).otherwise(result)


def _precedes(lang: str, other: str) -> bool:
    order = [l for l, _ in LANG_PROFILES]
    return order.index(lang) < order.index(other)


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over whitespace tokens:
    ``h = (h*31 + len(tok)*ascii(tok[0])) mod 1e9+7``.
    Unlike xxhash64/sha2 this is engine-portable (the oracle reproduces it
    with LIST_REDUCE), yet order-sensitive like a real rolling hash.
    Left-fold over the token array — sequential, deterministic."""
    tokens = F.filter(
        F.split(text, r"\s+"), lambda t: F.length(t) > 0
    )
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.length(t) * F.ascii(t))
        % FINGERPRINT_MOD,
    )


POSITIVE_RE = (
    r"\b(good|great|fast|best|excellent|love|happy|win|easy|clean)\b"
)
NEGATIVE_RE = (
    r"\b(bad|slow|worst|terrible|hate|sad|fail|hard|dirty|broken)\b"
)


def sentiment_score(text: Column) -> Column:
    """Lexicon-based sentiment in [-1, 1]: (pos − neg) / tokens, the
    classic distributed-lexicon approach (cf. 'Large Scale Sentiment
    Analysis on Twitter with Spark', EDBT 2016 — lexicon scoring is the
    embarrassingly parallel stage that scales linearly). Deterministic
    regexp counts → cross-engine reproducible."""
    lowered = F.lower(text)
    pos = F.regexp_count(lowered, F.lit(POSITIVE_RE)).cast("double")
    neg = F.regexp_count(lowered, F.lit(NEGATIVE_RE)).cast("double")
    n_tokens = token_count(text, WS_TOKEN_RE).cast("double")
    return F.round(
        F.when(n_tokens > 0, (pos - neg) / n_tokens).otherwise(0.0), 6
    )


# --- SQL oracle builders (shared text so engine and oracle can't drift) ---


def sql_token_count(expr: str, pattern: str) -> str:
    """DuckDB equivalent of token_count."""
    escaped = pattern.replace("'", "''")
    return f"LEN(regexp_extract_all({expr}, '{escaped}'))"


def sql_fingerprint(expr: str) -> str:
    """DuckDB equivalent of :func:`fingerprint`.

    DuckDB's LIST_REDUCE needs a uniform element type and seeds the
    accumulator with the first element; Spark's AGGREGATE seeds with 0.
    They compute the same sequence: Spark's first step is 0*31+x1 = x1,
    which is exactly DuckDB's seed."""
    tokens = (
        f"LIST_TRANSFORM(LIST_FILTER(regexp_split_to_array({expr}, '\\s+'), "
        f"t -> LEN(t) > 0), t -> CAST(LEN(t) AS BIGINT) * ascii(t))"
    )
    return (
        f"CASE WHEN LEN({tokens}) = 0 THEN 0 ELSE "
        f"LIST_REDUCE({tokens}, (acc, x) -> (acc * 31 + x) % {FINGERPRINT_MOD})"
        f" END"
    )


# --- PII redaction ---------------------------------------------------------

# Patterns are RE2-compatible (no backrefs/lookaround) so the Spark (Java
# regex) and DuckDB (RE2) evaluations agree — the oracle replays the same
# chain. Order matters: SSN before the generic digit runs, email before
# IP (a.b.c.d inside a hostname stays an email match).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CARD>"),
]


def redact_pii(text: Column) -> Column:
    """Replace common PII shapes with typed placeholder tokens — the
    standard scrub pass before corpus text reaches a training mix. Pure
    chained regexp_replace: whole-stage codegen, zero shuffle, linear in
    bytes scanned."""
    out = text
    for _name, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def sql_redact_pii(expr: str) -> str:
    """DuckDB equivalent of :func:`redact_pii` ('g' = global, matching
    Spark's replace-all default)."""
    out = expr
    for _name, pattern, token in PII_PATTERNS:
        escaped = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped}', '{token}', 'g')"
    return out


# --- Chunking --------------------------------------------------------------


def chunk_tokens(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 16,
    overlap: int = 4,
) -> "DataFrame":
    """Split documents into overlapping token windows — the standard
    training/embedding prep step (context-window packing, RAG chunking).
    Output: (id, chunk_id, chunk_text, n_tokens), one row per window,
    stride = chunk_size - overlap.

    Pure explode over a computed start-index sequence: zero shuffle, and
    the token array is materialized once per row (staged projection) so
    the per-window lambda reads an attribute, not a re-inlined
    tokenization."""
    if overlap >= chunk_size:
        raise ValueError(f"overlap {overlap} must be < chunk_size {chunk_size}")
    stride = chunk_size - overlap
    from pyspark.sql import functions as F  # local alias for clarity

    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"),
            lambda t: F.length(t) > 0,
        ).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    starts = F.filter(
        F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(stride)),
        # windows fully covered by a predecessor add no information:
        # keep starts 0, stride, 2*stride… while start < size
        lambda s: s < F.size("__toks"),
    )
    exploded = toks.select(
        F.col(id_col),
        F.size("__toks").alias("__n"),
        F.posexplode(starts).alias("chunk_id", "__start"),
        F.col("__toks"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("__start") + 1, F.lit(chunk_size)
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def repetition_stats(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Gopher-style repetition metrics per document — the standard
    "remove template/boilerplate junk" quality signals (Rae et al. 2021
    §A1.1 use duplicate-line and top-n-gram fractions as hard filters):

      dup_line_frac    1 - distinct(non-blank lines)/count(lines); a page
                       of repeated navigation chrome scores near 1.
      top_bigram_frac  occurrences of the most frequent word bigram /
                       total bigram occurrences; degenerate generator
                       loops ("the the the …") score near 1.

    Both are relational explode→partial-agg pipelines (no higher-order
    aggregates in the hot path): shuffles carry (id, line-hash) and
    (id, gram) rows — never documents — and combine map-side. Every doc
    keeps a row: 0-line docs get dup_line_frac 0.0 (explode_outer), and
    docs under 2 tokens carry the single whole-doc gram, so their
    top_bigram_frac is trivially 1.0 — callers filtering on it should
    also require a minimum token count (as Gopher does)."""
    from pyspark.sql import functions as F  # local alias, matches module

    from .dedup import shingle_rows

    # NOT spread_input-routed (r13 final): both branches' first
    # post-tokenize operator is a groupBy exchange on (id, …), so the
    # degenerate-scan repartition buys nothing the exchange doesn't
    # already provide and its extra shuffle measured a consistent loss
    # (paired probe 0.61→0.43 s, OFF winning 7/7 pairs); projected to
    # the two columns both branches read
    df = df.select(F.col(id_col), F.col(text_col))
    lines = df.select(
        F.col(id_col),
        F.explode_outer(
            F.filter(
                F.split(F.col(text_col), "\n"),
                lambda l: F.length(F.trim(l)) > 0,
            )
        ).alias("__line"),
    )
    line_stats = lines.groupBy(id_col).agg(
        F.count("__line").alias("__n_lines"),
        F.count_distinct("__line").alias("__n_distinct"),
    )
    line_frac = line_stats.select(
        F.col(id_col),
        F.when(
            F.col("__n_lines") > 0,
            F.round(
                1
                - F.col("__n_distinct").cast("double") / F.col("__n_lines"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
    )
    # bigram multiset (distinct=False): repetition is exactly what the
    # multiset keeps and a distinct would erase
    grams = shingle_rows(df, text_col, id_col, n=2, spread=False)
    gram_counts = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("__c")
    )
    gram_frac = gram_counts.groupBy(id_col).agg(
        F.round(
            F.max("__c").cast("double") / F.sum("__c").cast("double"), 6
        ).alias("top_bigram_frac")
    )
    return line_frac.join(gram_frac, id_col)


def unigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """LM-based quality filter (the CCNet/Wikipedia-LM pattern): score
    each document by its perplexity under a unigram language model
    trained on the corpus itself. Common-word documents score low
    (fluent), rare-token soup (boilerplate, mojibake, code dumps in a
    text corpus) scores high — the standard cheap proxy when a real
    KenLM model isn't shippable with the job.

    Relational shape, three shuffles, none carrying document text:
      1. token explode → vocabulary count (the "training" aggregate);
      2. token → count join (token-keyed shuffle; the vocabulary is
         zipfian so AQE's skew split handles the head words);
      3. per-document aggregate of add-``alpha``-smoothed log-probs.
    The model itself is never collected — scoring joins against it.

    Cross-engine determinism: each token's log-prob is rounded to 6
    decimals and accumulated as DECIMAL(38,6) (float sums are
    order-dependent; decimal sums are exact), then one documented
    double conversion at the end. Output: (id, n_tokens, perplexity
    rounded to 4).

    r13: the input is spread_input-routed first — the tokenize +
    explode + both aggregates otherwise run on the one task a
    single-row-group parquet scan plans to (measured 0.87-1.26 s →
    0.66 s at sf0.1). Scoring joins every token occurrence (instance
    grain): r13 measured a (doc, token, tf) grain slower at sf0.1
    (0.93-1.21 s vs 0.66 s), since the join fuses into the map stage
    while the vocabulary broadcasts."""
    from ..core.exec import spread_input
    from .dedup import tokens_of

    base = spread_input(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks = base.select(
        F.col(id_col),
        F.explode(tokens_of(F.col(text_col))).alias("__tok"),
    )
    vocab = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    totals = vocab.agg(
        F.sum("__cnt").alias("__total"), F.count(F.lit(1)).alias("__v")
    )
    logp = F.round(
        F.log(
            (F.col("__cnt") + F.lit(alpha))
            / (F.col("__total") + F.lit(alpha) * F.col("__v"))
        ),
        6,
    ).cast("decimal(38,6)")
    scored = (
        toks.join(vocab, "__tok")
        .crossJoin(F.broadcast(totals))
        .select(F.col(id_col), logp.alias("__lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.exp(
                -(
                    F.sum("__lp").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
            ),
            4,
        ).alias("perplexity"),
    )


# Normalization rules, applied in order. RE2-safe subset (no lookaround)
# so Java regex and DuckDB RE2 agree byte-for-byte; rule order matters
# (tags strip before whitespace collapse) and is part of the contract.
NORMALIZE_RULES: list[tuple[str, str]] = [
    # unbounded [^<>]* on purpose: a COUNTED quantifier ({1,200}) would
    # count UTF-16 code units in Java but codepoints in RE2 and diverge
    # on astral chars; * has no counting semantics in either engine
    (r"<[^<>]*>", " "),                      # HTML-ish tags
    (r"[\x00-\x08\x0b\x0c\x0e-\x1f]", ""),  # control chars (keep \t\n\r)
    (r"[“”«»]", "\""),  # curly/guillemet quotes
    (r"[‘’`´]", "'"),   # curly quotes / backtick
    (r"[–—―]", "-"),          # en/em/horizontal dashes
    (r" ", " "),                        # non-breaking space
    (r"\s+", " "),                           # whitespace collapse
]


def normalize_text(text: Column) -> Column:
    """Standard corpus pre-clean (tag strip, control-char removal,
    typographic-quote/dash folding, whitespace collapse, trim) as one
    chained ``regexp_replace`` projection — pure codegen, zero shuffle,
    and byte-identical in the DuckDB gate via :func:`sql_normalize_text`."""
    out = text
    for pattern, repl in NORMALIZE_RULES:
        out = F.regexp_replace(out, pattern, repl)
    return F.trim(out)


def sql_normalize_text(expr: str) -> str:
    """DuckDB equivalent of :func:`normalize_text` (shared rule list, so
    engine and oracle cannot drift)."""
    out = expr
    for pattern, repl in NORMALIZE_RULES:
        escaped_p = pattern.replace("'", "''")
        escaped_r = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped_p}', '{escaped_r}', 'g')"
    return f"TRIM({out})"


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Bigram-LM quality filter — the sequence-aware upgrade of
    :func:`unigram_perplexity`: p(w2|w1) = (c(w1,w2)+α) / (c(w1·)+αV),
    perplexity over each document's adjacent-pair stream. Catches
    shuffled/concatenated boilerplate that unigram statistics cannot
    (same words, impossible transitions).

    Relational shape — ONE corpus pass: bigrams explode from the
    materialized token array; context counts c(w1·) derive from the
    bigram table itself with a window (never a second tokenize), the
    vocabulary size is a one-row aggregate broadcast back, and scoring
    joins occurrences against the count table keyed on the pair.
    Documents with fewer than two tokens have no bigrams and are
    absent from the output (no defined perplexity).

    Determinism: per-pair log-probs round to 6 decimals and accumulate
    as DECIMAL(38,6); one documented double conversion at the end.
    Output: (id, n_bigrams, perplexity rounded to 4)."""
    from pyspark.sql import Window

    from ..core.exec import spread_input
    from .dedup import tokens_of

    base = spread_input(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks_arr = base.select(
        F.col(id_col), tokens_of(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= 2)
    pairs = toks_arr.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(0, size(__toks) - 2), "
                "i -> struct(__toks[i] AS w1, __toks[i + 1] AS w2))"
            )
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2"))

    counts = (
        pairs.groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c12"))
        .withColumn(
            "__c1", F.sum("__c12").over(Window.partitionBy("__w1"))
        )
    )
    vocab = counts.agg(F.count_distinct("__w2").alias("__v"))
    logp = F.round(
        F.log(
            (F.col("__c12") + F.lit(alpha))
            / (F.col("__c1") + F.lit(alpha) * F.col("__v"))
        ),
        6,
    ).cast("decimal(38,6)")
    scored = (
        pairs.join(counts, ["__w1", "__w2"])
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), logp.alias("__lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.exp(
                -(
                    F.sum("__lp").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
            ),
            4,
        ).alias("perplexity"),
    )


# --- shared quality-score oracle text (three oracles reuse it; a
# drifting copy would be a silently wrong gate) ------------------------

SQL_QUALITY_FORMULA = """ROUND(
        0.25 * (CASE WHEN nt >= 5 AND nt <= 100000 THEN 1.0 ELSE 0.0 END)
      + 0.25 * (CASE WHEN nt > 0 AND nc/nt >= 2 AND nc/nt <= 12
                     THEN 1.0 ELSE 0.0 END)
      + 0.2 * LEAST(1.0, (CASE WHEN nt > 0 THEN ns/nt ELSE 0.0 END) * 4)
      + 0.2 * (CASE WHEN nc > 0 THEN na/nc ELSE 0.0 END)
      + 0.1 * (1 - LEAST(1.0,
            (CASE WHEN nc > 0 THEN np/nc ELSE 1.0 END) * 5)),
      6)"""


def sql_quality_inputs(expr: str) -> str:
    """The nc/nt/np/na/ns input columns SQL_QUALITY_FORMULA consumes,
    computed over ``expr`` — the DuckDB mirror of quality_score's
    Spark-side ratios."""
    return (
        f"CAST(LEN({expr}) AS DOUBLE) AS nc,\n"
        f"      CAST({sql_token_count(expr, WS_TOKEN_RE)} AS DOUBLE) AS nt,\n"
        f"      CAST({sql_token_count(expr, PUNCT_RE)} AS DOUBLE) AS np,\n"
        f"      CAST({sql_token_count(expr, '[a-zA-Z]')} AS DOUBLE) AS na,\n"
        f"      CAST({sql_token_count(expr, LANG_PROFILES[0][1])} AS DOUBLE)"
        f" AS ns"
    )


def boilerplate_fraction(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_fraction: float = 0.05,
    grams=None,
):
    """Per document: the fraction of its distinct word n-grams that are
    corpus BOILERPLATE — grams appearing in at least
    ``min_doc_fraction`` of all documents (navigation chrome, license
    headers, template text). The standard cheap boilerplate signal a
    curation pipeline thresholds on before spending model-based quality
    scores.

    Scale shape: one distinct (id, gram) explode feeds BOTH the
    document-frequency aggregate and the per-doc count; the boilerplate
    set (grams with df >= cutoff — tiny by Zipf: a 5% document-
    frequency floor keeps only the head) joins back BROADCAST, so the
    corpus gram stream shuffles once for the df aggregate and never
    again. ``grams``: a precomputed (id, gram) frame from
    ``shingle_rows(distinct=True)`` — pass it when composing with
    other gram-set scorers so the explode runs once.
    Output: (id, n_grams, boilerplate_grams, boilerplate_frac).
    """
    from pyspark.sql import functions as F

    from ..core.exec import scoped_persist
    from .dedup import shingle_rows

    if grams is None:
        grams = scoped_persist(
            # spread=False: the distinct IS the first exchange; the
            # pre-exchange tokenize is cheap (no per-gram hashing), so
            # the degenerate-scan repartition measured a consistent
            # loss here (r13 paired probe, curate_v3 4.62→3.94 s)
            shingle_rows(df, text_col, id_col, n, distinct=True,
                         spread=False)
        )
    # the doc count rides the plan as a 1-row broadcast aggregate (the
    # oracle's nd CTE shape) — an eager df.count() here would run a
    # blocking extra pass over df's whole lineage at call time
    nd = df.select(
        F.greatest(
            F.lit(2),
            F.floor(F.lit(float(min_doc_fraction)) * F.count(F.lit(1))),
        ).alias("__cutoff")
    )
    boiler = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("__df") >= F.col("__cutoff"))
        .select("gram")
    )
    flagged = grams.join(
        F.broadcast(boiler.withColumn("__b", F.lit(1))), "gram", "left"
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).alias(
            "boilerplate_grams"
        ),
        F.round(
            F.sum(F.coalesce(F.col("__b"), F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("boilerplate_frac"),
    )


def novelty_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    grams=None,
):
    """Per document: the fraction of its distinct n-grams FIRST seen in
    this document under ascending id order (each gram's novelty credit
    goes to the lowest id containing it). High-novelty documents add
    new content to the corpus; near-zero novelty marks recombinations
    of already-seen text — a dedup-adjacent contribution signal that
    catches mosaic duplication pairwise Jaccard misses.

    Scale shape: one distinct (id, gram) explode; each gram's owner is
    a MIN aggregate (map-side combinable); one join back on the gram
    stream; one per-doc count. Shuffles carry grams + ids, never
    documents. ``grams``: precomputed (id, gram) frame to share the
    explode with sibling scorers.
    Output: (id, n_grams, novel_grams, novelty).
    """
    from pyspark.sql import functions as F

    from ..core.exec import scoped_persist
    from .dedup import shingle_rows

    if grams is None:
        grams = scoped_persist(
            # spread=False: the distinct IS the first exchange; the
            # pre-exchange tokenize is cheap (no per-gram hashing), so
            # the degenerate-scan repartition measured a consistent
            # loss here (r13 paired probe, curate_v3 4.62→3.94 s)
            shingle_rows(df, text_col, id_col, n, distinct=True,
                         spread=False)
        )
    owner = grams.groupBy("gram").agg(F.min(id_col).alias("__owner"))
    joined = grams.join(owner, "gram")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum((F.col(id_col) == F.col("__owner")).cast("int")).alias(
            "novel_grams"
        ),
        F.round(
            F.sum((F.col(id_col) == F.col("__owner")).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("novelty"),
    )


def char_entropy(chars: Column) -> Column:
    """Shannon entropy (bits/char) of a character-array column —
    ROW-LOCAL (no shuffle, no gram explode): the right shape for a
    per-document quality signal at corpus scale. Low entropy flags
    repetitive/boilerplate text; ~4.1 bits is typical English prose.

    H = log2(n) - Σ c_i·log2(c_i) / n over per-character run counts —
    ONE run-length fold over the sorted character array, O(length) per
    row (the previous per-distinct-char ``F.filter`` rescan was
    O(alphabet × length)). The array is SORTED so runs are contiguous
    AND the c·log2(c) addends accumulate in the same ascending-char
    order as before — bit-identical doubles, same oracle. log2 is libm
    (last-ulp variance across engines), so callers round the result
    (the registry oracle rounds to 6).

    ``chars`` must be a MATERIALIZED array column reference (stage it
    with ``split(lower(text), '')`` in a prior projection): Spark
    inlines expression arguments into every reference site."""

    def _close_run(acc: Column) -> Column:
        # fold the finished run's c·log2(c) into the partial sum
        return F.when(
            acc["run"] > 0.0, acc["s"] + acc["run"] * F.log2(acc["run"])
        ).otherwise(acc["s"])

    n = F.size(chars)
    acc = F.aggregate(
        F.array_sort(chars),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0.0).alias("run"),
            F.lit(0.0).alias("s"),
        ),
        lambda acc, c: F.when(
            c == acc["prev"],  # null prev (first element) falls through
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1.0).alias("run"),
                acc["s"].alias("s"),
            ),
        ).otherwise(
            F.struct(
                c.alias("prev"),
                F.lit(1.0).alias("run"),
                _close_run(acc).alias("s"),
            )
        ),
        _close_run,
    )
    return F.when(
        n > 0, F.log2(n.cast("double")) - acc / n.cast("double")
    ).otherwise(F.lit(0.0))


def chars_of(text: Column) -> Column:
    """Non-empty character array of lowercased text (split on the empty
    pattern keeps Unicode code points intact in both Spark and DuckDB)."""
    return F.filter(
        F.split(F.lower(text), ""), lambda c: F.length(c) > 0
    )


def gram_set_scores(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_fraction: float = 0.05,
    grams=None,
):
    """:func:`boilerplate_fraction` + :func:`novelty_score` FUSED: both
    are per-gram aggregates (document frequency / min owner) joined
    back onto the same distinct (id, gram) stream and re-aggregated per
    document, so a pipeline that wants both signals (curation v3) pays
    ONE gram-keyed aggregate, ONE join-back, and ONE doc-keyed
    aggregate instead of two of each — the gram stream exchanges twice
    total instead of four times. Arithmetic is identical to the
    standalone scorers (same counts, single division, round 6).

    Output: (id, n_grams, boilerplate_grams, boilerplate_frac,
    novel_grams, novelty)."""
    from pyspark.sql import functions as F

    from ..core.exec import scoped_persist
    from .dedup import shingle_rows

    if grams is None:
        grams = scoped_persist(
            # spread=False: the distinct IS the first exchange; the
            # pre-exchange tokenize is cheap (no per-gram hashing), so
            # the degenerate-scan repartition measured a consistent
            # loss here (r13 paired probe, curate_v3 4.62→3.94 s)
            shingle_rows(df, text_col, id_col, n, distinct=True,
                         spread=False)
        )
    nd = df.select(
        F.greatest(
            F.lit(2),
            F.floor(F.lit(float(min_doc_fraction)) * F.count(F.lit(1))),
        ).alias("__cutoff")
    )
    stats = (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("__df"),
            F.min(id_col).alias("__owner"),
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "gram",
            (F.col("__df") >= F.col("__cutoff")).cast("int").alias("__b"),
            "__owner",
        )
    )
    joined = grams.join(stats, "gram")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("__b").alias("boilerplate_grams"),
        F.round(
            F.sum("__b") / F.count(F.lit(1)).cast("double"), 6
        ).alias("boilerplate_frac"),
        F.sum((F.col(id_col) == F.col("__owner")).cast("int")).alias(
            "novel_grams"
        ),
        F.round(
            F.sum((F.col(id_col) == F.col("__owner")).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("novelty"),
    )
