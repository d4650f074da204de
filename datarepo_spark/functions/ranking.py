"""Relevance ranking over a document corpus: TF-IDF and BM25.

Classic lexical retrieval, expressed fully relationally so it scales
like any aggregation and stays oracle-checkable:

- tokenize = explode (the same whitespace tokenizer the dedup/text
  operators use, so vocabularies agree across the engine);
- TF is a (doc, token) count aggregate; DF a token aggregate over it;
- corpus-level scalars (N, avgdl) are single-row aggregates broadcast
  back — never a driver-side collect;
- final per-doc top-k is a ranking window (TF-IDF) or a global
  TakeOrdered (BM25 search).

Shuffles are keyed on tokens and doc ids only — document text never
transits an exchange. Cross-engine determinism: ln() is rounded to 9
decimals before use (libm last-ulp differences), every score to 6.

Reference: the reference library has no retrieval operators (read-only
scans, SURVEY.md §2) — this is part of the added training-data-pipeline
surface (BM25: Robertson & Walker 1994).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import tokens_of


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF
    (idf = ln(N / df), both rounded for cross-engine determinism).
    Returns (id, token, score) with ties broken on the token.
    Input spread_input-routed: the tokenize+explode+tf stage otherwise
    runs on a single-file scan's one task (r13)."""
    from ..core.exec import spread_input

    df = spread_input(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks = df.select(
        F.col(id_col), F.explode(tokens_of(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            F.round(
                F.col("tf")
                * F.round(F.log(F.col("__n") / F.col("df_t")), 9),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bm25_search(
    df: DataFrame,
    query_tokens: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-tokens query under BM25
    (Robertson/Sparck-Jones idf: ln((N - df + 0.5)/(df + 0.5) + 1)).

    Scale shape — exactly three corpus scans, only ONE with an explode:
    1. TF: explode filtered to the query tokens, aggregate per
       (doc, token) — the only exploded pass, and its result is tiny
       (matched docs × |query|);
    2. corpus scalars: N and avgdl as a single projection aggregate —
       ``dl = size(tokens)`` is row-wise, no explode, no shuffle
       (avgdl averages over ALL docs incl. token-less ones, the
       standard convention);
    3. doc lengths: the same projection joined to the broadcast TF
       frame — the corpus never shuffles.
    Document frequency derives from TF with a window (no extra pass);
    the result is a global top-k (TakeOrdered), never a full sort.
    Input spread_input-routed (three tokenizing corpus scans — all
    single-task on a one-file scan otherwise; r13)."""
    from ..core.exec import spread_input

    df = spread_input(df.select(F.col(id_col), F.col(text_col)), id_col)
    qtoks = sorted(set(query_tokens))
    dl = F.coalesce(
        F.size(tokens_of(F.col(text_col))), F.lit(0)
    ).cast("double")
    corpus = df.agg(
        F.count(F.lit(1)).alias("__n"), F.avg(dl).alias("__avgdl")
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens_of(F.col(text_col))).alias("token")
    )
    tf = (
        toks.filter(F.col("token").isin(qtoks))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "df_t",
            F.count(F.lit(1)).over(Window.partitionBy("token")),
        )
    )
    idf = F.round(
        F.log(
            (F.col("__n") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            + 1.0
        ),
        9,
    )
    doclen = df.select(F.col(id_col), dl.alias("dl"))
    per_term = (
        doclen.join(F.broadcast(tf), id_col)
        .crossJoin(F.broadcast(corpus))
        .select(
            id_col,
            F.round(
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1
                    * (1 - b + b * F.col("dl") / F.col("__avgdl"))
                ),
                6,
            ).alias("__term_score"),
        )
    )
    return (
        per_term.groupBy(id_col)
        .agg(F.round(F.sum("__term_score"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
