"""Approximate-nearest-neighbor search over an embedding column.

Two tiers:
  knn_brute_force    exact cosine top-k — the correctness baseline. One
                     scan, per-row fold for the dot product, TakeOrdered
                     for the top-k. O(n·d) work, no shuffle of vectors.
  RandomHyperplaneLSH
                     sign-random-projection buckets (SimHash-for-vectors,
                     Charikar 2002). At 100 TB the bucket id becomes the
                     shuffle/join key: candidate generation is an
                     equi-join on a few-byte key; exact cosine re-ranks
                     only the candidates. Multi-probe = flip one bit.

Hyperplanes are generated driver-side from a seeded RNG and embedded as
plan literals — no state, no fitted model to ship; every executor codegens
the same projection arithmetic. (An IVF variant would swap the bucketer
for k-means cell ids; the plan shape downstream is identical.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.exec import local_frame, scoped_persist
from .dedup import cosine_similarity


def knn_brute_force(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.
    orderBy+limit plans as TakeOrderedAndProject — each partition keeps a
    k-heap, driver merges; no global sort even at 10^9 rows."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def radius_search(
    df: DataFrame,
    query_vec: list[float],
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact RANGE search: every vector with cosine ≥ threshold of the
    query — the "find all near-duplicates of this item" serving shape,
    complement of :func:`knn_brute_force`'s top-k (FAISS range_search).

    Row-local cosine against the broadcast literal + a filter: a pure
    map stage — no exchange, no sort, no join — so it scales linearly
    and composes with partition pruning upstream. The result set is
    data-dependent (unlike top-k); callers wanting a deterministic
    bound compose ``.orderBy(F.desc("cosine")).limit(k)`` on top (which
    plans as TakeOrderedAndProject — a bare ``.limit`` plans as
    CollectLimit and returns arbitrary rows of the set)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


class RandomHyperplaneLSH:
    """Sign-random-projection LSH bucketer for cosine similarity."""

    def __init__(self, dim: int, n_planes: int = 16, seed: int = 42) -> None:
        rng = np.random.default_rng(seed)
        self.planes = rng.standard_normal((n_planes, dim))
        self.dim = dim
        self.n_planes = n_planes

    def bucket(self, vec: Column) -> Column:
        """Bucket id = bit-packed signs of the ``n_planes`` projections.
        Pure fold arithmetic — codegen'd per row, no UDF, no shuffle."""
        bucket = F.lit(0).cast("long")
        for i, plane in enumerate(self.planes):
            dot = F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(p)) for p in plane]),
                    lambda x, y: (x * y).cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bucket = bucket + F.when(
                dot >= 0, F.lit(1 << i).cast("long")
            ).otherwise(0)
        return bucket

    def with_buckets(
        self, df: DataFrame, vec_col: str = "embedding"
    ) -> DataFrame:
        return df.withColumn("__bucket", self.bucket(F.col(vec_col)))

    def probe_buckets(self, query_vec: list[float], multi_probe: int = 0) -> list[int]:
        """Query's bucket plus the ``multi_probe`` most-promising perturbed
        buckets (1- and 2-bit flips), ordered by the summed |projection| of
        the flipped planes — the standard multi-probe LSH schedule (a plane
        the query sits close to is the one most likely to have split true
        neighbors away)."""
        q = np.asarray(query_vec, dtype=float)
        projections = self.planes @ q
        base = 0
        for i, p in enumerate(projections):
            if p >= 0:
                base |= 1 << i
        costs = np.abs(projections)
        flips: list[tuple[float, int]] = [
            (costs[i], 1 << i) for i in range(self.n_planes)
        ]
        flips += [
            (costs[i] + costs[j], (1 << i) | (1 << j))
            for i in range(self.n_planes)
            for j in range(i + 1, self.n_planes)
        ]
        flips.sort(key=lambda t: t[0])
        return [base] + [base ^ mask for _, mask in flips[:multi_probe]]

    def knn(
        self,
        df: DataFrame,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        multi_probe: int = 4,
    ) -> DataFrame:
        """ANN top-k: filter to the probe buckets (partition-prunable if
        the table is written bucketed/partitioned by __bucket), then exact
        cosine re-rank of the survivors only."""
        buckets = self.probe_buckets(query_vec, multi_probe)
        candidates = self.with_buckets(df, vec_col).filter(
            F.col("__bucket").isin(buckets)
        )
        return knn_brute_force(candidates, query_vec, k, vec_col, id_col)


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) (explicit half-up so every engine
    rounds identically; bankers'-rounding builtins differ). The
    storage-layer op for terabyte embedding stores — 4× smaller than
    float32, and dot products on int8 stay SIMD-friendly. Returns a
    struct (scale DOUBLE, q ARRAY<TINYINT>); dequantize ≈ q * scale.
    All-zero vectors quantize to scale 0.0 and zeros."""
    absmax = F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = absmax / F.lit(127.0)
    q = F.when(
        absmax > 0,
        F.transform(
            vec,
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast(
                "tinyint"
            ),
        ),
    ).otherwise(F.transform(vec, lambda x: F.lit(0).cast("tinyint")))
    return F.struct(scale.alias("scale"), q.alias("q"))


def assign_cells_rowlocal(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic nearest-centroid assignment computed entirely
    ROW-LOCAL: the k centroids travel as broadcast literals, each row's
    k cosines are a `transform` over them (sequential double folds —
    engine-portable, see :func:`~.dedup.cosine_similarity`), and the
    argmax is `array_position` of the max (ties → lowest cell). No row
    explosion, no window, no join — the plan is a pure projection, so
    assignment composes with any downstream op at zero shuffle cost.

    The oracle-parity twin of :class:`~.ivf.IVFIndex.assign` (which
    runs numpy matmuls whose SIMD summation order is NOT cross-engine
    reproducible); use THIS form when the result must be provable
    against a SQL oracle, the IVF form for raw throughput.

    ``centroids``: sequence of float sequences (k × dim), e.g. collected
    rows. Returns df + (cell long, sim double rounded to 6).
    """
    cent_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    sims = F.transform(
        cent_arr,
        lambda c: F.round(cosine_similarity(F.col(vec_col), c), 6),
    )
    return (
        df.withColumn("__sims", sims)
        .withColumn(
            "cell", F.array_position("__sims", F.array_max("__sims")) - 1
        )
        .withColumn("sim", F.array_max("__sims"))
        .drop("__sims")
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Diversity-aware top-k: exact cosine top-``pool`` candidates
    (TakeOrdered — distributed), then greedy maximal-marginal-relevance
    (Carbonell & Goldstein 1998) over the pool: repeatedly pick
    argmax  lam·relevance − (1−lam)·max_similarity_to_picked.
    Returns (rank, <id_col>, relevance) for the ``k`` picks.

    Scale shape: the corpus-sized work is ONE scan + TakeOrdered (a
    per-partition k-heap — no global sort); the pool's pairwise cosines
    are a broadcast self-join of a ``pool``-row frame; only the greedy
    selection itself runs driver-side over the collected pool — the
    same bounded-collect class as IVF centroid training (pool² scalars,
    never corpus data). MMR's data dependence (each pick changes the
    next argmax) makes the selection inherently sequential; bounding it
    to a reranking pool is the standard serving design.

    Determinism: relevance and pair cosines are rounded(9) ENGINE-SIDE
    (F.round — the established DuckDB-ROUND-parity path), the MMR score
    is two multiplies and a subtract on those identical doubles, and
    ties break by id — bit-reproducible against the SQL recursive-CTE
    spelling.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # persisted: the pool feeds BOTH sides of the pair self-join plus
    # the candidate collect — unpersisted, the corpus TakeOrdered scan
    # would re-execute per consumer (broadcast conversion breaks
    # ReusedExchange, SCALE.md r2)
    pool_df = scoped_persist(
        df.select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            F.round(cosine_similarity(F.col(vec_col), q), 9).alias("__r"),
        )
        .orderBy(F.desc("__r"), F.asc(id_col))
        .limit(pool)
    )
    a = pool_df.select(
        F.col(id_col).alias("__ia"), F.col("__v").alias("__va")
    )
    b = pool_df.select(
        F.col(id_col).alias("__ib"), F.col("__v").alias("__vb")
    )
    pair_rows = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            "__ia",
            "__ib",
            F.round(
                cosine_similarity(F.col("__va"), F.col("__vb")), 9
            ).alias("__c"),
        )
        .collect()
    )
    cand = [
        (r[id_col], r["__r"]) for r in pool_df.select(id_col, "__r").collect()
    ]
    sim = {(r["__ia"], r["__ib"]): r["__c"] for r in pair_rows}
    rel = dict(cand)
    # seed: highest relevance, id-ascending tiebreak — computed
    # explicitly rather than trusting collect() to preserve the persisted
    # orderBy+limit row order
    picked = (
        [min(cand, key=lambda t: (-t[1], t[0]))[0]] if cand else []
    )
    while cand and len(picked) < min(k, len(cand)):
        best = None
        for i, r in cand:
            if i in picked:
                continue
            score = lam * r - (1.0 - lam) * max(
                sim[(i, j)] for j in picked
            )
            if (
                best is None
                or score > best[0]
                or (score == best[0] and i < best[1])
            ):
                best = (score, i)
        picked.append(best[1])
    spark = df.sparkSession
    # the id column keeps its INPUT type (string/int ids must not be
    # forced long — a fixed type would crash or silently mis-type)
    id_type = df.schema[id_col].dataType.simpleString()
    return local_frame(
        spark,
        [(n + 1, i, rel[i]) for n, i in enumerate(picked)],
        f"rank int, {id_col} {id_type}, relevance double",
    )


def batch_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-``k`` corpus neighbors for EVERY query row — the
    batch/serving companion of the single-query ``knn_brute_force``.

    Returns (query_id, rank, <id_col>, cosine) — ``k`` rows per query,
    rank 1-based by (cosine desc, id asc), cosine rounded(6).

    Scale shape: ONE corpus scan regardless of query count — the query
    frame is broadcast and every corpus row scores all Q queries in a
    single stage (the matmul access pattern, expressed relationally).
    Only (query_id, corpus_id, score) triples reach the top-k exchange
    — vectors never shuffle. The final per-query top-k is a window over
    a Q-key-partitioned frame of Q·N scored triples; for very large N
    pre-prune with an IVF cell join (``ann_ivf``) before calling this.
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("__qv")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cosine")
    )
