"""Connected components over an edge list — dedup clustering.

Near-dup detection emits PAIRS; a pipeline needs CLUSTERS (pick one
canonical doc per component, drop the rest). This is connected
components on the duplicate graph, the step Lee et al.'s dedup pipeline
and every production near-dup system run after LSH.

Algorithm: iterative min-label propagation (the relational form of
hash-to-min, cf. Rastogi et al., "Finding Connected Components in
Map-Reduce"). Each round every node adopts the minimum label in its
closed neighborhood; rounds needed = graph diameter ≤ O(log n) for the
clustery graphs dedup produces (components are near-cliques of
duplicates, so 2-3 rounds in practice). Each round is one join + one
aggregation ON THE EDGE LIST — the duplicate graph is ≪ the corpus
(only docs with a near-dup appear), so at 100 TB this loop touches
megabytes-to-gigabytes, never the documents.

The driver-side convergence check (`changed == 0`) is one count per
round on label-pair rows — the standard iterative-algorithm shape
(GraphX/Pregel do the same under the hood); data never collects.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Spark applicationId → the checkpoint dir this process last set on it
# (applicationId, not id(sc): CPython reuses object addresses after a
# stopped context is garbage-collected)
_LAST_CHECKPOINT_DIR: dict[str, str] = {}

# How many singly-referenced PageRank iterations may chain before a pin
# bounds the lineage (see the loop comment in :func:`pagerank`): each
# unpinned round adds one join+agg layer to the plan, so stride 4 keeps
# planning O(1) while skipping the per-round eager materialization job
# when nothing re-reads the intermediate state.
_PIN_STRIDE = 4


def _pin(df: DataFrame, checkpoint_dir: Optional[str]) -> DataFrame:
    """Materialize a loop invariant / iteration state, truncating its
    lineage. Two modes:

    - ``checkpoint_dir=None`` (default): ``localCheckpoint()`` — blocks
      live on executor block managers. Fast (no DFS round-trip), but an
      executor loss invalidates the blocks and FAILS the job; fine on
      local[] and for short interactive jobs.
    - ``checkpoint_dir=<path>``: reliable ``checkpoint()`` to that
      directory (DFS in production) — survives executor loss, the safe
      variant for long iterative jobs on a real cluster at the cost of
      one write+read per pin. The dir is set idempotently on the
      SparkContext (same value → no-op; Spark keeps one global dir).
    """
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    # setCheckpointDir appends a fresh UUID subdir on EVERY call (so
    # getCheckpointDir never equals our argument) — memoize what we last
    # set per application or each pin would allocate a new directory;
    # the getCheckpointDir()-is-None guard covers a fresh context and
    # user code having pointed the dir elsewhere between calls
    app = sc.applicationId
    if (
        sc.getCheckpointDir() is None
        or _LAST_CHECKPOINT_DIR.get(app) != checkpoint_dir
    ):
        sc.setCheckpointDir(checkpoint_dir)
        _LAST_CHECKPOINT_DIR[app] = checkpoint_dir
    return df.checkpoint()


def _pin_keyed(
    df: DataFrame, key: str, checkpoint_dir: Optional[str]
) -> DataFrame:
    """Pin a loop-INVARIANT edge frame pre-partitioned (and pre-sorted)
    by the per-iteration join key. Two layers, each doing the one thing
    the other cannot (r14, guide §2.4 "two operations keyed the same
    way can share one exchange"):

    - :func:`_pin` severs the (possibly expensive) edge-GENERATION
      lineage and materializes it once — but a checkpointed RDD scan
      reports UnknownPartitioning (measured on Spark 4.1 with AQE), so
      every iteration's join would still exchange+sort the edge side.
    - a ``scoped_persist`` of ``repartition(key) + sortWithinPartitions``
      ON TOP of the pin: cached-plan output partitioning/ordering IS
      visible to EnsureRequirements, so the per-iteration sort-merge
      join sees a satisfied distribution on the big side and the
      edge-sized exchange+sort runs once per QUERY instead of once per
      ITERATION. If the cache is ever evicted, the rebuild re-reads the
      pinned leaf — never the generation subtree.

    Partition count comes from :func:`core.exec.parallelism` (min(cores,
    shuffle setting)) so the node-sized probe side exchanges to the
    same count. Known trade-off: a hash partitioning fixed at pin time
    cannot be skew-split by AQE per iteration — on hub-heavy graphs the
    hot partition persists; callers' degree-based orientations or
    salting remain the remedy (edge lists here are near-uniform hash
    keys)."""
    from ..core.exec import parallelism, scoped_persist

    pinned = _pin(df, checkpoint_dir)
    return scoped_persist(
        pinned.repartition(parallelism(df), F.col(key))
        .sortWithinPartitions(key)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """(id, component) for every node in ``edges``; the component id is
    the minimum node id reachable from it. Deterministic; raises if the
    diameter exceeds ``max_iterations`` (a dedup graph that deep means
    the edge generation is broken, not that more rounds are needed).

    ``checkpoint_dir``: pass a DFS path on a real cluster to pin
    iteration state with reliable ``checkpoint()`` instead of
    ``localCheckpoint()`` — see :func:`_pin` for the tradeoff."""
    # checkpoint (not persist): an iterative algorithm's lineage
    # nests one whole plan per round — by round ~10 the planner itself
    # OOMs on the tree. Checkpointing truncates the lineage so every
    # round plans against a materialized leaf. It also severs the (large)
    # edge-GENERATION subtree — from here on no stage re-reads the
    # corpus.
    sc = edges.sparkSession.sparkContext
    par = max(sc.defaultParallelism, 1)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        # bound the checkpointed partition count to the cluster's cores:
        # under a 200-shuffle-partition session every round would
        # otherwise run 200 near-empty tasks on a graph of dup pairs
        .coalesce(par)
    )
    # plain pin, NOT _pin_keyed (r14, probed): the dup-pair graph is
    # tiny by construction (≪ corpus — only docs with a near-dup), so
    # the per-round join exchange is trivia while the keyed pin's extra
    # build exchange + lost runtime broadcast conversion measured a
    # consistent LOSS here (2.3/2.9 s → 4.5/3.3 s paired at sf0.1)
    sym = _pin(sym, checkpoint_dir)
    labels = sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry the previous label through the materialization so the
        # convergence check is a filter-count on the checkpointed rows —
        # not another join back to the old labels
        updated = _pin(
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            ),
            checkpoint_dir,
        )
        changed = updated.filter(
            F.col("component") != F.col("__old")
        ).count()
        labels = updated.drop("__old")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations — edge generation is likely degenerate"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_dir: Optional[str] = None,
    tol_micro: Optional[int] = None,
    personalize: Optional[Sequence] = None,
) -> DataFrame:
    """PageRank (Brin & Page 1998) over an edge list, fixed-iteration
    MEAN-NORMALIZED form (ranks average 1.0 up to integer flooring;
    divide by node count for the probability form): (node, rank) after
    ``iterations`` synchronous updates
    r' = (1-d) + d·(Σ r/deg + dangling_mass/N) from a uniform 1.0
    start. DANGLING nodes (no out-edges) redistribute their rank
    uniformly — the standard completion; without it total mass leaks
    every round on any graph with sinks.

    Relational shape — per iteration ONE join (edges × current ranks on
    the source key), ONE aggregation (contributions by destination),
    and one scalar aggregate (the dangling mass, broadcast back),
    exactly GraphX's Pregel step flattened into Catalyst; the graph
    never collects. Out-degrees are a one-time aggregate joined on the
    same key as the ranks (co-partitioned, O(nodes) — never broadcast).

    Determinism: the fixed point runs entirely in INTEGER micro-units
    (1.0 = 1_000_000): per-edge contribution = floor(rank_u / deg),
    update = (1-d)·10⁶ + floor(d·Σ) with d as an integer percentage.
    Integer sums are order-insensitive and floor-of-quotient is
    engine-exact (the true quotient sits ≥ 1/denominator away from any
    integer, astronomically farther than a double's ulp at these
    magnitudes), so two engines compute bit-identical ranks — float
    sums and double→decimal casts both break on tie values. The mean-1
    normalization keeps ranks O(1) so the quantum carries 6 decimals
    of precision at any graph size.

    Returns (node, rank_micro: long, rank: double = rank_micro / 10⁶).

    At scale: the edge list, node set, and degree table are
    checkpoint-materialized once (loop invariants), and each
    iteration's O(nodes) rank state is pinned before fan-out — so the
    per-iteration cost is exactly one join + two aggregates over
    materialized inputs, and the (possibly expensive) edge-generation
    subtree never re-executes. ``checkpoint_dir``: pass a DFS path on a
    real cluster for reliable ``checkpoint()`` pins that survive
    executor loss (default ``localCheckpoint()`` — see :func:`_pin`).

    Two iteration-cost levers (both result-preserving):

    - **Dangling fast path**: whether any dangling node exists is a
      loop INVARIANT (one anti-join count up front). On graphs with no
      sinks — e.g. any symmetrized edge list — the per-iteration
      dangling aggregate + broadcast is provably a no-op (share =
      floor(0/N) = 0) and is skipped entirely.
    - **Convergence early-exit** (``tol_micro``): when set, each
      iteration also computes S = Σ|Δrank_micro| (ONE integer
      aggregate over the already-pinned old/new rank states) and the
      loop stops as soon as S ≤ tol_micro. Integer micro-units make
      the threshold engine-exact, so an oracle can encode the same
      rule bit-for-bit. ``tol_micro=0`` stops only at the exact fixed
      point (update is a deterministic function of the rank vector, so
      every later iteration would return identical ranks — the exit is
      result-identical to running all ``iterations``). Default None:
      fixed iteration count, no per-iteration delta aggregate.

    ``personalize`` (personalized PageRank, Haveliwala 2002): a small
    node set S receiving ALL teleport mass — the "rank relative to
    these seeds" form used for related-item ranking and local
    community scoring. In the integer mean-1 form each S-member's
    teleport is ``floor((1-d)·UNIT·N / |S|)`` (total teleport mass
    preserved up to flooring), non-members get 0, and dangling mass
    also returns to S (the standard PPR completion) as
    ``floor(dang/|S|)`` added to each member's pre-damping mass. S
    ships as a plan literal (seed sets are small by construction)."""
    UNIT = 1_000_000
    d_pct = int(round(damping * 100))
    # materialize the loop INVARIANTS once: every iteration joins the
    # edge list, node set, and degree table — without severing their
    # (possibly expensive) generation subtree, each of the 2 branches
    # per iteration would recompute it (see connected_components for
    # the localCheckpoint-vs-persist rationale)
    sc = edges.sparkSession.sparkContext
    par = max(sc.defaultParallelism, 1)
    # pinned pre-partitioned by __from — the per-iteration rank-join key
    base = _pin_keyed(
        edges.select(F.col(src).alias("__from"), F.col(dst).alias("__to"))
        .coalesce(par),
        "__from",
        checkpoint_dir,
    )
    degrees = _pin(
        base.groupBy(F.col("__from").alias("node"))
        .agg(F.count(F.lit(1)).alias("__deg"))
        .coalesce(par),
        checkpoint_dir,
    )
    # dangling-ness is a loop invariant: one anti-join count up front
    # decides whether ANY per-iteration dangling work is needed at all.
    # Every source node has out-edges by construction, so any dangling
    # node must appear on the DESTINATION side — probing dst against
    # the degree table is equivalent to probing the full node set, and
    # doing it FIRST lets the no-dangling case skip materializing the
    # node set altogether (r13): no dangling ⇒ every endpoint has
    # out-edges ⇒ the node set IS the degree table's key set, no
    # union-distinct pass needed.
    has_dangling = (
        base.select(F.col("__to").alias("node"))
        .join(degrees, "node", "left_anti")
        .limit(1)
        .count()
        > 0
    )
    if has_dangling:
        nodes = _pin(
            base.select(F.col("__from").alias("node"))
            .unionByName(base.select(F.col("__to").alias("node")))
            .distinct()
            .coalesce(par),
            checkpoint_dir,
        )
    else:
        nodes = degrees.select("node")
    n_total = nodes.count()  # loop-constant scalar, one tiny job
    ranks = nodes.select(
        "node", F.lit(UNIT).cast("long").alias("rank_micro")
    )
    if personalize is not None:
        seeds = sorted(set(personalize))
        if not seeds:
            raise ValueError("personalize must name at least one node")
        # all teleport mass lands on S, floor-divided per member; the
        # per-node teleport is a plan literal CASE (S is tiny)
        teleport_s = (100 - d_pct) * UNIT * n_total // (100 * len(seeds))
        is_seed = F.col("node").isin(list(seeds))
        teleport_col = F.when(
            is_seed, F.lit(teleport_s)
        ).otherwise(F.lit(0)).cast("long")
        dang_div = len(seeds)
    else:
        teleport_col = F.lit((100 - d_pct) * UNIT // 100).cast("long")
        dang_div = n_total
    ranks = _pin(ranks.coalesce(par), checkpoint_dir)
    # Pin the per-iteration rank state only when it is MULTIPLY
    # referenced within the loop (the dangling aggregate and the
    # convergence delta each re-read it; without a pin those branches
    # would re-execute the whole iteration chain), and otherwise only
    # every _PIN_STRIDE rounds plus the final state — lineage stays
    # bounded at stride depth (the planner-OOM guard the pins exist
    # for), the executed work is identical (each unpinned state is
    # referenced exactly once, by the next iteration's join), and the
    # no-dangling/no-tol case — any symmetrized edge list — drops
    # iterations-1 eager materialization jobs per query (r13; measured
    # on the two benched PageRank queries, bit-identical ranks).
    multi_ref = has_dangling or tol_micro is not None
    for _it in range(iterations):
        prev = ranks
        if has_dangling:
            # per-recipient share of the dangling (no-out-edge) mass —
            # a scalar; recipients are all nodes (uniform PageRank) or
            # the seed set (personalized — the standard PPR completion)
            dang_share = (
                ranks.join(degrees, "node", "left_anti")
                .agg(F.sum("rank_micro").alias("__dang"))
                .select(
                    F.floor(
                        F.coalesce(F.col("__dang"), F.lit(0))
                        / F.lit(dang_div)
                    ).cast("long").alias("__share")
                )
            )
        # per-SOURCE contribution floor(rank/deg) is a node-level value:
        # compute it on the O(nodes) rank⋈degree frame FIRST, then join
        # the edge list once — the edge-sized frame used to flow through
        # TWO joins (ranks, then degrees) per iteration (r13: one
        # edge-sized join per iteration instead of two; integer sums
        # keep the result bit-identical)
        cpn = (
            ranks.join(degrees, "node")
            .select(
                "node",
                F.floor(F.col("rank_micro") / F.col("__deg"))
                .cast("long")
                .alias("__cpn"),
            )
        )
        contribs = (
            base.select(
                F.col("__from").alias("node"), F.col("__to")
            )
            .join(cpn, "node")
            .groupBy(F.col("__to").alias("node"))
            .agg(F.sum("__cpn").alias("__c"))
        )
        updated = nodes.join(contribs, "node", "left")
        if has_dangling:
            updated = updated.crossJoin(F.broadcast(dang_share))
            share = (
                F.when(is_seed, F.col("__share")).otherwise(F.lit(0))
                if personalize is not None
                else F.col("__share")
            )
            mass = F.coalesce(F.col("__c"), F.lit(0)) + share
        else:
            mass = F.coalesce(F.col("__c"), F.lit(0))
        new_state = updated.select(
            "node",
            (
                teleport_col
                + F.floor(
                    F.lit(d_pct) * mass / F.lit(100)
                ).cast("long")
            ).cast("long").alias("rank_micro"),
        )
        if (
            multi_ref
            or _it == iterations - 1
            or (_it + 1) % _PIN_STRIDE == 0
        ):
            ranks = _pin(new_state.coalesce(par), checkpoint_dir)
        else:
            ranks = new_state
        if tol_micro is not None:
            # one integer aggregate over two pinned O(nodes) states —
            # engine-exact, so an oracle can encode the same stop rule
            delta = (
                ranks.join(
                    prev.select(
                        "node",
                        F.col("rank_micro").alias("__prev_micro"),
                    ),
                    "node",
                )
                .agg(
                    F.sum(
                        F.abs(
                            F.col("rank_micro") - F.col("__prev_micro")
                        )
                    ).alias("__d")
                )
                .collect()[0]["__d"]
            )
            if delta is not None and delta <= tol_micro:
                break
    return ranks.select(
        "node",
        "rank_micro",
        (F.col("rank_micro") / F.lit(float(UNIT))).alias("rank"),
    )


def _canonical_undirected(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """Canonical undirected edge list + full degrees, both
    ``scoped_persist``-pinned: every triangle-family consumer re-reads
    each of them several times (orientation joins, adjacency builds,
    degree summaries), and both are small relative to the edge
    GENERATION subtree they sever (e is O(m), deg is node-sized).
    Returns (e, deg) with e = (x, y), x < y, distinct, and
    deg = (node, d) full undirected degrees."""
    from ..core.exec import scoped_persist

    e = scoped_persist(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = scoped_persist(
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return e, deg


def _oriented_adjacency(
    e: DataFrame,
    deg: DataFrame,
    broadcast_adjacency_bytes: int,
) -> DataFrame:
    """Shared core of the edge-iterator triangle family: canonical
    undirected edges (from :func:`_canonical_undirected`) →
    degree-ordered orientation (Schank & Wagner 2005; out-degree ≤
    √(2m), hub-safe) → sorted out-neighbor adjacency joined onto both
    endpoints of every oriented edge. Returns ``with_nbrs`` =
    (s, t, nbrs_s, nbrs_t) with null-free (coalesced-empty) neighbor
    arrays — ``array_intersect(nbrs_s, nbrs_t)`` enumerates exactly
    the triangles whose orientation-minimum vertex is s."""
    from ..core.exec import scoped_persist

    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    ed = e.join(dx, "x").join(dy, "y")
    # orient from lower (deg, id) to higher — a DAG, out-deg ≤ √(2m)
    oriented = scoped_persist(
        ed.select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("s"), F.col("y").alias("t")),
            )
            .otherwise(
                F.struct(F.col("y").alias("s"), F.col("x").alias("t"))
            )
            .alias("o")
        ).select(F.col("o.s").alias("s"), F.col("o.t").alias("t"))
    )
    # m is needed anyway to size the adjacency join; the persisted
    # oriented frame makes this count a cache scan, not a recompute.
    m = oriented.count()
    adj = oriented.groupBy("s").agg(
        F.sort_array(F.collect_list("t")).alias("nbrs")
    )
    if m * 16 <= broadcast_adjacency_bytes:
        adj = F.broadcast(adj)
    adj_s = adj.select(F.col("s"), F.col("nbrs").alias("nbrs_s"))
    adj_t = adj.select(
        F.col("s").alias("t"), F.col("nbrs").alias("nbrs_t")
    )
    # empty-array literal of the node type (sinks fall out of adj)
    empty = F.array().cast(adj.schema["nbrs"].dataType.simpleString())
    with_nbrs = (
        oriented.join(adj_s, "s", "left")
        .join(adj_t, "t", "left")
        .select(
            "s",
            "t",
            F.coalesce(F.col("nbrs_s"), empty).alias("nbrs_s"),
            F.coalesce(F.col("nbrs_t"), empty).alias("nbrs_t"),
        )
    )
    return with_nbrs


def _bitmap_gate(
    n: int, m: int, dense_threshold: float, broadcast_adjacency_bytes: int
) -> bool:
    """Whether the triangle family takes :func:`_bitmap_edge_triangles`:
    edge density 2m/(n(n-1)) reaches ``dense_threshold`` AND the
    n·(⌈n/64⌉·8+24)-byte bitmap table fits ``broadcast_adjacency_bytes``.
    Past that budget a shuffle join would ship ⌈n/64⌉ words per edge
    row, so such graphs keep the oriented form."""
    return (
        n >= 3
        and 2 * m >= dense_threshold * n * (n - 1)
        and n * ((n + 63) // 64 * 8 + 24) <= broadcast_adjacency_bytes
    )


def _bitmap_edge_triangles(e: DataFrame, deg: DataFrame, n: int) -> DataFrame:
    """Per-edge triangle counts on a DENSE graph via neighborhood
    BITMAPS: (x, y, __c) for every canonical edge, where __c =
    |N(x) ∩ N(y)| over full neighborhoods — the number of triangles
    containing that edge. Nodes get compact bit positions 0..n-1
    (row_number over the node set — a single-partition window, fine
    because a graph past any density gate has n ≤ √(2m/ρ) nodes);
    each node's neighborhood is a ⌈n/64⌉-word long-array bitmap built
    with one codegen'd (node, word) aggregate (set bits are distinct,
    so SUM of the per-bit words equals their OR), and the per-edge
    count is zip_with + bit_count + aggregate — all JVM built-ins,
    integer-exact, no Python boundary. The bitmap table is n rows ×
    ⌈n/64⌉ longs = n²/8 bytes total and is always broadcast:
    :func:`_bitmap_gate` admits only graphs whose table fits the
    budget (at any density ≥ 1/32 it is SMALLER than the equivalent
    long-array adjacency)."""
    from pyspark.sql.window import Window

    from ..core.exec import scoped_persist

    nwords = (n + 63) // 64
    rank = deg.select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1).alias("__r"),
    )
    sym = e.select(
        F.col("x").alias("node"), F.col("y").alias("nbr")
    ).unionAll(
        e.select(F.col("y").alias("node"), F.col("x").alias("nbr"))
    )
    symr = sym.join(
        F.broadcast(rank.select(F.col("node").alias("nbr"), "__r")),
        "nbr",
    )
    words = symr.groupBy(
        "node", F.expr("CAST(__r DIV 64 AS INT)").alias("__w")
    ).agg(
        F.sum(F.expr("shiftleft(1L, CAST(__r % 64 AS INT))")).alias("__v")
    )
    bm = scoped_persist(
        words.groupBy("node")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__w", "__v"))
            ).alias("__mw")
        )
        .select(
            "node",
            F.expr(
                f"transform(sequence(0, {nwords - 1}),"
                " w -> coalesce(element_at(__mw, w), 0L))"
            ).alias("bm"),
        )
    )
    bm = F.broadcast(bm)
    bm_x = bm.select(F.col("node").alias("x"), F.col("bm").alias("bx"))
    bm_y = bm.select(F.col("node").alias("y"), F.col("bm").alias("by"))
    return (
        e.join(bm_x, "x")
        .join(bm_y, "y")
        .select(
            "x",
            "y",
            F.expr(
                "aggregate(zip_with(bx, by, (a, b) -> bit_count(a & b)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("__c"),
        )
    )


def local_triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_adjacency_bytes: int = 64 * 1024 * 1024,
    dense_threshold: float = 0.25,
) -> tuple[DataFrame, DataFrame]:
    """Per-node triangle counts. SPARSE graphs use the same
    degree-ordered edge-iterator as :func:`triangle_count`, with the
    neighbor intersection EXPLODED so every triangle (s, t, w) credits
    all three vertices — each triangle emitted exactly once (by its
    orientation-minimum vertex), never three times. DENSE graphs skip
    the enumeration entirely (see the dense-path paragraph below).

    Returns (deg, per_node): ``deg`` = (node, d) full undirected
    degrees for every node, ``per_node`` = (node, n_tri) for nodes in
    at least one triangle (left-join + zero-coalesce at the caller
    covers the rest).

    Credit attribution is TWO bounded passes over the oriented edges
    (r13 optimization): the old form unioned three projections of the
    exploded intersection, and each union branch re-planned (and
    re-executed) the whole adjacency-join + intersect + explode
    subtree — the dominant cost ran 3×, and its aggregation consumed
    3·T rows (T = triangle count). Now the s/t credits come from
    ``size(intersect)`` per edge (NO explode — each endpoint of an
    oriented edge closes exactly |I| triangles), and only the w
    credits explode the intersection once; the aggregation input
    shrinks to T + 2·m and the enumeration-sized stream is computed
    twice instead of three times. (A single-pass struct-array form —
    [(s,|I|),(t,|I|)] ++ [(w,1)…] exploded once — was measured SLOWER
    than the 3-union original, 11.0 s vs 8.7 s at sf0.1: per-row
    struct-array allocation beat the saved pass; the two-branch form
    measured 7.4 s.) Identical per-node totals: each triangle still
    credits its three vertices exactly once. Both outputs are
    ``scoped_persist``-pinned: they are node-sized (≤ |V| rows), and
    callers fan out over each more than once (summary + per-node
    join), which would otherwise re-execute the enumeration per
    reference.

    DENSE fast path (r14, guide §2.4 "remove shuffles outright" /
    §1.2 "the distributed algorithm"): when the graph's edge density
    2m/(n(n-1)) reaches ``dense_threshold``, the enumeration
    disappears entirely. Per canonical edge, |N(x) ∩ N(y)| over FULL
    (unoriented) neighborhoods is the number of triangles CONTAINING
    that edge, and every node's triangle count is half the sum over
    its incident edges (each triangle is seen at v through exactly its
    2 incident edges — an even sum, so the integer halving is exact):
    no explode, no triangle-sized aggregate — one counting pass over
    the edges and one edge-sized (2m-row) sum, vs. the oriented form's
    TWO intersect passes plus a T-row explode + hash aggregate
    (T = 1.24×10⁸ at sf0.1). The intersection itself runs on BITMAPS
    (see :func:`_bitmap_edge_triangles`): on a dense graph the
    neighborhoods are Θ(n)-sized, so hash-set intersection pays
    Σ_v d(v)² hashed element ops (7.6×10⁸ at sf0.1 — a probed
    ``array_intersect`` spelling of this same path measured SLOWER
    than the explode form, 10.1 vs 7.7 s), while ⌈n/64⌉-word bitmaps
    pay m·n/64 word AND+popcounts (7×10⁶) — a ≥ 1/(128ρ) ≈ 32×
    element-op reduction at any density past the gate. The gate
    matters for the at-scale story: on a sparse hub-heavy graph
    (where orientation's √(2m) out-degree cap is the whole point, and
    T is small) the n-bit-per-node bitmaps would be mostly zeros and
    the m·n/64 work unbounded relative to m^1.5 — so sparse graphs
    keep the explode form. Density is computed from the
    already-persisted edge and degree frames (two tiny counts), so
    the gate is data-derived, not tuned to any scale.

    Measured at sf0.1 (1000 nodes, ρ = 0.87, 1.24×10⁸ triangles):
    dense-bitmap 3.0-3.8 s vs oriented-explode 6.2-9.5 s in the same
    interleaved session, bit-identical per-node map."""
    from ..core.exec import scoped_persist

    e, deg = _canonical_undirected(edges, src, dst)
    m = e.count()
    n = deg.count()
    if _bitmap_gate(n, m, dense_threshold, broadcast_adjacency_bytes):
        c = _bitmap_edge_triangles(e, deg, n)
        per_node = scoped_persist(
            c.select(F.col("x").alias("node"), "__c")
            .unionAll(c.select(F.col("y").alias("node"), "__c"))
            .groupBy("node")
            .agg(F.expr("CAST(SUM(__c) DIV 2 AS BIGINT)").alias("n_tri"))
            .filter(F.col("n_tri") > 0)
        )
        return deg, per_node

    with_nbrs = _oriented_adjacency(e, deg, broadcast_adjacency_bytes)
    sized = with_nbrs.select(
        "s",
        "t",
        F.size(
            F.array_intersect(F.col("nbrs_s"), F.col("nbrs_t"))
        ).alias("__c"),
    )
    st = (
        sized.select(F.col("s").alias("node"), "__c")
        .unionAll(sized.select(F.col("t").alias("node"), "__c"))
        .groupBy("node")
        .agg(F.sum("__c").alias("__n1"))
    )
    wside = (
        with_nbrs.select(
            F.explode(
                F.array_intersect(F.col("nbrs_s"), F.col("nbrs_t"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__n2"))
    )
    per_node = scoped_persist(
        st.join(wside, "node", "full")
        .select(
            "node",
            (
                F.coalesce(F.col("__n1"), F.lit(0))
                + F.coalesce(F.col("__n2"), F.lit(0))
            )
            .cast("long")
            .alias("n_tri"),
        )
        .filter(F.col("n_tri") > 0)
    )
    return deg, per_node


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_adjacency_bytes: int = 64 * 1024 * 1024,
    dense_threshold: float = 0.25,
) -> DataFrame:
    """Exact triangle count + wedge count + global clustering
    coefficient of an undirected graph, as one row
    (n_triangles, n_wedges, global_clustering).

    Algorithm: degree-ordered orientation + edge-iterator neighbor
    intersection. Orient every canonical edge from its lower-(degree,
    id) endpoint to the higher (Schank & Wagner 2005) — out-degree is
    then bounded by √(2m), so no hub vertex can blow up the work — and
    for each oriented edge (s, t) count |N⁺(s) ∩ N⁺(t)| via
    ``size(array_intersect(...))`` over sorted out-neighbor arrays.
    Each triangle is counted exactly once (its orientation-minimum
    vertex is the only s whose two out-neighbors are adjacent).

    Why edge-iterator instead of materializing wedges: the wedge
    self-join emits Σ C(outdeg, 2) rows through an exchange — on a
    dense co-occurrence graph (sf0.1 suppliers: ~1000 nodes, ~87% of
    all possible edges, 1.2×10⁸ oriented wedges) that is a hundred
    million shuffled rows for a 3-column count. The neighbor-array
    form does the same Σ(outdeg(s)+outdeg(t)) element work inside one
    whole-stage-codegen pipeline and shuffles only the adjacency lists
    themselves (O(m) entries total).

    Shuffle inventory: one distinct (canonical edges), one degree
    aggregate, two hash joins to attach degrees, one groupBy to build
    adjacency arrays, then two joins to attach N⁺(s) / N⁺(t) to each
    oriented edge — broadcast when the adjacency table is under
    ``broadcast_adjacency_bytes`` (16 bytes/entry estimate), plain
    shuffle hash joins otherwise (total shuffled bytes O(Σ outdeg per
    edge endpoint) = O(m^1.5) worst case — the standard distributed
    edge-iterator bound, cf. Suri & Vassilvitskii WWW'11). The
    adjacency misses sink vertices (out-degree 0); left joins +
    empty-array coalesce keep those edges counted with 0
    intersections. The single BroadcastNestedLoopJoin in the plan is
    the deliberate 1-row × 1-row scalar cross at the end.

    DENSE graphs (edge density ≥ ``dense_threshold`` and a bitmap
    table within ``broadcast_adjacency_bytes``, :func:`_bitmap_gate`)
    take the bitmap counting pass instead
    (:func:`_bitmap_edge_triangles`, r14 — see
    :func:`local_triangle_counts` for the gate's cost argument):
    Σ per-edge |N(x) ∩ N(y)| counts every triangle exactly 3 times
    (once per containing edge), so n_triangles = Σ __c DIV 3,
    integer-exact.
    """
    e, deg = _canonical_undirected(edges, src, dst)
    m = e.count()
    n = deg.count()
    if _bitmap_gate(n, m, dense_threshold, broadcast_adjacency_bytes):
        tri = _bitmap_edge_triangles(e, deg, n).agg(
            F.coalesce(
                F.expr("CAST(SUM(__c) DIV 3 AS BIGINT)"), F.lit(0)
            )
            .cast("long")
            .alias("n_triangles")
        )
    else:
        with_nbrs = _oriented_adjacency(
            e, deg, broadcast_adjacency_bytes
        )
        tri = (
            with_nbrs.select(
                F.size(
                    F.array_intersect(F.col("nbrs_s"), F.col("nbrs_t"))
                ).alias("closed")
            )
            .agg(
                F.coalesce(F.sum("closed"), F.lit(0))
                .cast("long")
                .alias("n_triangles")
            )
        )
    wed = deg.agg(
        F.sum(
            (F.col("d") * (F.col("d") - F.lit(1)) / F.lit(2)).cast("long")
        ).alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wed)).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.lit(3.0)
            * F.col("n_triangles")
            / F.col("n_wedges").cast("double"),
            9,
        ).alias("global_clustering"),
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert & Kumara 2007), made fully deterministic: every node starts
    labeled with its own id, and each iteration simultaneously adopts
    the most frequent label among its in-neighbors, ties broken by the
    SMALLEST label (so the update is a pure function of the previous
    labeling — no random visit order, no async races). Nodes with no
    in-edges keep their label. Returns (node, label) after
    ``iterations`` rounds.

    Relational shape per iteration: ONE edges×labels equi-join, one
    (node, label) count aggregate, one per-node argmax AGGREGATE — all
    keyed on node ids; the graph never collects and label state is
    pinned per round (same loop discipline as :func:`pagerank`).
    The argmax is ``min(struct(-count, label))`` rather than a
    row_number window (r14, guide §2.3 "aggregate before you
    shuffle"): struct ordering is field-lexicographic, so the minimum
    is exactly the (count DESC, label ASC) winner for ANY orderable
    label type, and spelling it as an aggregate drops the window's
    per-round sort and lets the partial aggregate shrink the vote
    cells to one candidate per node BEFORE the exchange.
    Synchronous LPA can oscillate on bipartite structures (the known
    LPA property); a fixed iteration budget keeps that bounded and
    deterministic rather than hiding it.

    GraphX ships the same synchronous variant (LabelPropagation.run);
    this is the Catalyst spelling of it."""
    sc = edges.sparkSession.sparkContext
    par = max(sc.defaultParallelism, 1)
    # pinned pre-partitioned by __from — the per-iteration votes-join key
    e = _pin_keyed(
        edges.select(
            F.col(src).alias("__from"), F.col(dst).alias("__to")
        ).coalesce(par),
        "__from",
        checkpoint_dir,
    )
    # one pinned seed frame: (node, label=node) over the distinct node
    # set. The update below preserves the key set exactly (left join on
    # the full labeling), so ``labels`` holds every node at every round
    # — no separate node-set frame is needed to re-complete it.
    labels = _pin(
        e.select(F.col("__from").alias("node"))
        .unionByName(e.select(F.col("__to").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .coalesce(par),
        checkpoint_dir,
    )
    for _ in range(iterations):
        votes = (
            e.select(F.col("__from").alias("node"), "__to")
            .join(labels.select("node", "label"), "node")
            .groupBy(F.col("__to").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # argmax by (count DESC, label ASC) as one aggregate: negate
        # the count (always a long — label stays its own type) so the
        # struct MIN picks the highest count, ties broken by the
        # smallest label. (count, label) pairs are unique per node, so
        # the winner is exactly the old row_number-over-window pick.
        winner = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("__m")
            )
            .select("node", F.col("__m.l").alias("__new"))
        )
        # labels LEFT JOIN winner ≡ the textbook nodes ⋈ labels ⋈ winner
        # re-completion: labels' key set IS the node set (invariant
        # above), so the extra nodes join was an identity join — one
        # join + exchange per round saved, bit-identical labeling.
        labels = _pin(
            labels.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
            .coalesce(par),
            checkpoint_dir,
        )
    return labels
