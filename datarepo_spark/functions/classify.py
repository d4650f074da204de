"""Model-based classification, relational form: multinomial Naive
Bayes trained and scored entirely as DataFrame operations.

The production LLM-data pattern is model-based filtering (GPT-3's
logistic-regression quality filter, CCNet's fastText language filter).
A gradient-trained model is not oracle-checkable, but multinomial NB
is CLOSED FORM — training is two aggregations (per-(token, class)
counts and per-class totals), scoring is a join plus a per-(doc,
class) log-sum — so the whole classifier runs inside Catalyst, scales
like any aggregation, and the DuckDB gate recomputes it bit-for-bit.

Scale shape: the model (token × class counts) is an aggregate that
never reaches the driver; scoring crosses each token row with the
CLASS SET (|classes| is small — a broadcast), joins the count table on
(token, class), and reduces per (doc, class). Shuffles: the count
aggregate, the score join, the per-doc reduce — all keyed on tokens or
ids, never on document text. Determinism: per-token log-probs round to
6 decimals and accumulate as DECIMAL(38,6); argmax ties break on the
class name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def nb_classify(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Train multinomial NB on (``text_col``, ``label_col``) and score
    every document against every class; returns (id, predicted,
    correct) for documents with at least one token. ``alpha``:
    add-alpha smoothing."""
    from .dedup import tokens_of

    toks = df.select(
        F.col(id_col),
        F.explode(tokens_of(F.col(text_col))).alias("__tok"),
    )
    labels = df.select(F.col(id_col), F.col(label_col).alias("__label"))
    label_set = labels.select("__label").distinct()

    counts = (
        toks.join(labels, id_col)
        .groupBy("__tok", "__label")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = counts.groupBy("__label").agg(
        F.sum("__c").alias("__t")
    )
    vocab = toks.agg(
        F.count_distinct(F.col("__tok")).alias("__v")
    )
    # total doc count folds into the priors aggregate as a whole-frame
    # window over the tiny per-class table (|classes| rows) — no
    # standalone count() job
    priors = (
        labels.groupBy("__label")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__label",
            F.round(
                F.log(
                    F.col("__n")
                    / F.sum("__n").over(Window.partitionBy(F.lit(1)))
                ),
                6,
            ).cast("decimal(38,6)").alias("__prior"),
        )
    )

    lp = F.round(
        F.log(
            (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(alpha))
            / (F.col("__t") + F.lit(alpha) * F.col("__v"))
        ),
        6,
    ).cast("decimal(38,6)")
    scored = (
        toks.crossJoin(F.broadcast(label_set))
        .join(counts, ["__tok", "__label"], "left")
        .join(F.broadcast(totals), "__label")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), "__label", lp.alias("__lp"))
    )
    agg = scored.groupBy(id_col, "__label").agg(
        F.sum("__lp").alias("__s")
    )
    with_prior = agg.join(F.broadcast(priors), "__label").select(
        id_col,
        "__label",
        (F.col("__s") + F.col("__prior")).alias("__score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__score"), F.asc("__label")
    )
    top = (
        with_prior.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, F.col("__label").alias("predicted"))
    )
    return top.join(labels, id_col).select(
        id_col,
        "predicted",
        (F.col("predicted") == F.col("__label")).alias("correct"),
    )
