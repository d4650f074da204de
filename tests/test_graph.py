"""Connected components (functions/graph.py) — dedup clustering."""

import pytest
from pyspark.sql import functions as F

from datarepo_spark.functions.graph import connected_components


def cc_bruteforce(edges):
    """Union-find reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestConnectedComponents:
    @pytest.mark.parametrize(
        "edges",
        [
            [(1, 2), (2, 3), (5, 6)],                       # chain + pair
            [(10, 11), (11, 12), (10, 12), (12, 13)],       # triangle+bridge
            [(1, 2)],                                       # single edge
            [(i, i + 1) for i in range(1, 12)],             # long path
            [(1, 9), (9, 3), (3, 7), (2, 8), (8, 4)],       # min not endpoint
        ],
    )
    def test_matches_union_find(self, spark, edges):
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r.id: r.component for r in connected_components(df).collect()}
        assert got == cc_bruteforce(edges)

    def test_self_loops_and_duplicate_edges(self, spark):
        df = spark.createDataFrame(
            [(1, 1), (1, 2), (2, 1), (1, 2)], ["id_a", "id_b"]
        )
        got = {r.id: r.component for r in connected_components(df).collect()}
        assert got == {1: 1, 2: 1}

    def test_diameter_guard_raises(self, spark):
        path = [(i, i + 1) for i in range(1, 30)]
        df = spark.createDataFrame(path, ["id_a", "id_b"])
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(df, max_iterations=2)

    def test_edges_only_never_documents(self, spark, sf_dir):
        """The loop operates on the duplicate-pair graph: no stage reads
        or shuffles document text."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        from datarepo_spark.functions.dedup import minhash_lsh_dedup_pairs

        pairs = minhash_lsh_dedup_pairs(docs, threshold=0.5).select(
            "id_a", "id_b"
        )
        out = connected_components(pairs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "text#" not in plan  # label loop never touches the corpus


class TestPageRank:
    def test_hub_ranks_highest(self, spark):
        from datarepo_spark.functions.graph import pagerank

        # star graph: every leaf links to the hub and back
        edges = spark.createDataFrame(
            [(f"leaf{i}", "hub") for i in range(10)]
            + [("hub", f"leaf{i}") for i in range(10)],
            ["src", "dst"],
        )
        ranks = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
        assert ranks["hub"] > max(
            v for k, v in ranks.items() if k != "hub"
        )
        # mean-1 normalization: total mass stays ~n_nodes
        assert abs(sum(ranks.values()) - 11) < 0.5

    def test_deterministic_under_repartitioning(self, spark):
        from datarepo_spark.functions.graph import pagerank

        rows = [
            (f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(200)
        ]
        edges = spark.createDataFrame(rows, ["src", "dst"])
        a = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges, iterations=4).collect()
        )
        b = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges.repartition(13), iterations=4).collect()
        )
        assert a == b  # integer fixed point: bit-identical

    def test_dangling_mass_redistributes(self, spark):
        """Sinks hand their rank back uniformly (the standard PageRank
        completion) — total mass is conserved up to integer flooring."""
        from datarepo_spark.functions.graph import pagerank

        edges = spark.createDataFrame(
            [("a", "sink"), ("b", "sink")], ["src", "dst"]
        )
        ranks = {r.node: r.rank for r in pagerank(edges, iterations=2).collect()}
        # iter1: dangling(sink)=1.0 -> share 1/3 each;
        #   a,b = 0.15 + 0.85*0.333333 = 0.433333
        #   sink = 0.15 + 0.85*(2.0 + 0.333333) = 2.133333
        # iter2: share = floor(2133333/3)/1e6 = 0.711111
        #   a,b  = 0.15 + floor(85*711111/100)/1e6 = 0.754444
        #   sink = 0.15 + floor(85*(433333*2 + 711111)/100)/1e6
        assert ranks["a"] == ranks["b"] == pytest.approx(0.754444)
        assert ranks["sink"] == pytest.approx(0.15 + 0.85 * (2 * 0.433333 + 0.711111), abs=2e-5)
        assert sum(ranks.values()) == pytest.approx(3.0, abs=0.01)

    def test_tol_early_exit_is_result_identical(self, spark):
        """tol_micro=0 stops only at the EXACT integer fixed point, so
        the result must be bit-identical to any longer fixed-iteration
        run. A 2-cycle is at the fixed point immediately (r'=0.15 +
        0.85*1.0 = 1.0), so the 50-iteration budget exits after one
        delta check."""
        from datarepo_spark.functions.graph import pagerank

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a")], ["src", "dst"]
        )
        fast = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges, iterations=50, tol_micro=0).collect()
        )
        fixed = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges, iterations=3).collect()
        )
        assert fast == fixed == [("a", 1_000_000), ("b", 1_000_000)]

    def test_tol_early_exit_with_dangling(self, spark):
        """The early-exit composes with the dangling path: results must
        equal the fixed-iteration run whenever the exit does NOT fire
        (tol below the actual drift)."""
        from datarepo_spark.functions.graph import pagerank

        edges = spark.createDataFrame(
            [("a", "sink"), ("b", "sink"), ("sink", "a")], ["src", "dst"]
        )
        a = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges, iterations=4, tol_micro=0).collect()
        )
        b = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges, iterations=4).collect()
        )
        assert a == b

    def test_no_dangling_fast_path_skips_dangling_work(self, spark):
        """On a symmetrized edge list (no sinks) the dangling share is
        identically zero — the fast path must produce the same ranks
        the general path computes, and the plan for one iteration's
        result must not contain the anti-join the dangling aggregate
        needs."""
        from datarepo_spark.functions.graph import pagerank

        rows = [(f"n{i}", f"n{(i + 1) % 12}") for i in range(12)]
        sym = rows + [(b, a) for a, b in rows]
        edges = spark.createDataFrame(sym, ["src", "dst"])
        ranks = {
            r.node: r.rank_micro
            for r in pagerank(edges, iterations=3).collect()
        }
        # regular graph: uniform fixed point, every rank stays 1.0
        assert set(ranks.values()) == {1_000_000}


class TestReliableCheckpoint:
    """checkpoint_dir= switches lineage pinning from localCheckpoint to
    reliable checkpoint() (VERDICT r5 #3): on a real cluster the former
    dies with an executor; both modes must produce identical results."""

    def test_components_identical_both_modes(self, spark, tmp_path):
        from datarepo_spark.functions.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 20), (4, 1)],
            ["id_a", "id_b"],
        )
        local = sorted(
            (r.id, r.component)
            for r in connected_components(edges).collect()
        )
        reliable = sorted(
            (r.id, r.component)
            for r in connected_components(
                edges, checkpoint_dir=str(tmp_path / "ckpt")
            ).collect()
        )
        assert local == reliable
        # reliable mode actually wrote checkpoint data to the dir
        import os

        assert any(
            files
            for _, _, files in os.walk(str(tmp_path / "ckpt"))
        )

    def test_pagerank_identical_both_modes(self, spark, tmp_path):
        from datarepo_spark.functions.graph import pagerank

        rows = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(200)]
        edges = spark.createDataFrame(rows, ["src", "dst"])
        local = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(edges, iterations=3).collect()
        )
        reliable = sorted(
            (r.node, r.rank_micro)
            for r in pagerank(
                edges,
                iterations=3,
                checkpoint_dir=str(tmp_path / "ckpt2"),
            ).collect()
        )
        assert local == reliable  # integer fixed point: bit-identical


class TestPageRankPinStride:
    """r13: singly-referenced iteration states chain unpinned up to
    _PIN_STRIDE rounds (no dangling, no tolerance — nothing re-reads
    the intermediate state), the final state is always pinned, and the
    ranks are bit-identical to pin-every-round."""

    def _counting_pin(self, monkeypatch):
        from datarepo_spark.functions import graph as G

        real = G._pin
        calls = []

        def counted(df, ckpt):
            calls.append(1)
            return real(df, ckpt)

        monkeypatch.setattr(G, "_pin", counted)
        return calls

    def test_stride_skips_single_reference_pins(self, spark, monkeypatch):
        from datarepo_spark.functions import graph as G

        calls = self._counting_pin(monkeypatch)
        # symmetric edge list -> no dangling nodes -> multi_ref False
        rows = [(i, (i * 3 + 1) % 17) for i in range(60)]
        sym = rows + [(b, a) for a, b in rows]
        edges = spark.createDataFrame(sym, ["src", "dst"])
        got = sorted(
            (r.node, r.rank_micro)
            for r in G.pagerank(edges, iterations=3).collect()
        )
        # base + degrees + ranks-init + final-iteration pin only:
        # iterations 1 and 2 chain unpinned (stride 4 never fires at 3
        # rounds), and the no-dangling path never pins a node set
        assert sum(calls) == 4, calls

        # pin-every-round reference: identical integer fixed point
        monkeypatch.setattr(G, "_PIN_STRIDE", 1)
        calls.clear()
        ref = sorted(
            (r.node, r.rank_micro)
            for r in G.pagerank(edges, iterations=3).collect()
        )
        assert sum(calls) == 6  # 3 shared pins + one per iteration
        assert got == ref

    def test_dangling_keeps_every_round_pinned(self, spark, monkeypatch):
        from datarepo_spark.functions import graph as G

        calls = self._counting_pin(monkeypatch)
        # node 5 only ever appears as a destination -> dangling
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (1, 5)], ["src", "dst"]
        )
        G.pagerank(edges, iterations=3).collect()
        # base + degrees + nodes + ranks-init + one pin PER iteration:
        # the dangling aggregate re-reads each round's state, so the
        # multi_ref guard must pin every round regardless of stride
        assert sum(calls) == 7, calls


class TestTriangleCount:
    def _count(self, spark, edges):
        from datarepo_spark.functions.graph import triangle_count

        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df).head()

    def test_k4_has_four_triangles(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = self._count(spark, k4)
        assert (r.n_triangles, r.n_wedges) == (4, 12)
        assert r.global_clustering == 1.0

    def test_star_has_none(self, spark):
        star = [(0, i) for i in range(1, 6)]
        r = self._count(spark, star)
        assert r.n_triangles == 0
        assert r.n_wedges == 10  # hub degree 5 -> C(5,2)

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        tri = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 3)]
        r = self._count(spark, tri)
        assert (r.n_triangles, r.n_wedges) == (1, 3)

    def test_matches_brute_force_random(self, spark):
        import itertools
        import random

        rng = random.Random(11)
        nodes = list(range(30))
        edges = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.2
        ]
        adj = {n: set() for n in nodes}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        r = self._count(spark, edges)
        assert r.n_triangles == want


class TestLocalTriangleCounts:
    """Per-node attribution of the edge-iterator triangle family: each
    triangle must credit exactly its three vertices, once."""

    def _per_node(self, spark, edges):
        from datarepo_spark.functions.graph import local_triangle_counts

        df = spark.createDataFrame(edges, ["src", "dst"])
        deg, per = local_triangle_counts(df)
        return (
            {r.node: r.d for r in deg.collect()},
            {r.node: r.n_tri for r in per.collect()},
        )

    def test_k4_every_node_in_three(self, spark):
        import itertools

        deg, per = self._per_node(
            spark, list(itertools.combinations(range(4), 2))
        )
        assert per == {0: 3, 1: 3, 2: 3, 3: 3}
        assert deg == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_triangle_plus_pendant(self, spark):
        deg, per = self._per_node(
            spark, [(0, 1), (1, 2), (0, 2), (2, 3)]
        )
        assert per == {0: 1, 1: 1, 2: 1}  # pendant node 3 absent
        assert deg[3] == 1

    def test_matches_brute_force_random(self, spark):
        import itertools
        import random

        rng = random.Random(13)
        nodes = list(range(25))
        edges = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.25
        ]
        adj = {n: set() for n in nodes}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for v in (a, b, c):
                    want[v] = want.get(v, 0) + 1
        _, per = self._per_node(spark, edges)
        assert per == want

    def test_dense_and_sparse_paths_agree(self, spark):
        """The r14 dense fast path (per-edge full-neighborhood
        intersection, halved incident sum — no explode) must produce
        the brute-force per-node map, as the oriented explode form
        does, whichever side of the bitmap gate the graph sits on. The
        gate also caps the n·(⌈n/64⌉·8+24)-byte bitmap table at the
        broadcast budget: exactly the table size keeps the bitmap path
        (bit_count in the plan), one byte less sends the graph to the
        oriented form."""
        import itertools
        import random

        from datarepo_spark.functions.graph import local_triangle_counts

        for seed, p in [(7, 0.6), (8, 0.15)]:
            rng = random.Random(seed)
            edges = [
                (a, b)
                for a, b in itertools.combinations(range(28), 2)
                if rng.random() < p
            ]
            adj = {v: set() for e in edges for v in e}
            for a, b in edges:
                adj[a].add(b)
                adj[b].add(a)
            want_deg = {v: len(nb) for v, nb in adj.items()}
            want_tri = {}
            for v, nb in adj.items():
                t = sum(y in adj[x] for x, y in itertools.combinations(nb, 2))
                if t:
                    want_tri[v] = t
            n = len(adj)
            table = n * ((n + 63) // 64 * 8 + 24)
            df = spark.createDataFrame(edges, ["src", "dst"])
            # (dense_threshold, budget, bitmap path): 0.0 forces dense
            # by density, 2.0 sparse
            for thresh, budget, bitmap in [
                (0.0, table, True),
                (0.0, table - 1, False),
                (2.0, 64 * 1024 * 1024, False),
            ]:
                deg, per = local_triangle_counts(
                    df,
                    dense_threshold=thresh,
                    broadcast_adjacency_bytes=budget,
                )
                plan = per._jdf.queryExecution().toString()
                assert ("bit_count" in plan) == bitmap
                assert {r.node: r.d for r in deg.collect()} == want_deg
                assert {r.node: r.n_tri for r in per.collect()} == want_tri

    def test_dense_path_has_no_explode(self, spark):
        """The density gate's point: the dense plan carries NO
        Generate/explode (credits come from bitmap popcount sums),
        while the sparse plan keeps the w-side explode."""
        import itertools

        from datarepo_spark.functions.graph import local_triangle_counts

        edges = list(itertools.combinations(range(10), 2))
        df = spark.createDataFrame(edges, ["src", "dst"])
        _, per_dense = local_triangle_counts(df, dense_threshold=0.0)
        dense_plan = per_dense._jdf.queryExecution().toString()
        assert "explode" not in dense_plan.lower()
        _, per_sparse = local_triangle_counts(df, dense_threshold=2.0)
        sparse_plan = per_sparse._jdf.queryExecution().toString()
        assert "explode" in sparse_plan.lower()


class TestPersonalizedPageRank:
    def test_teleport_mass_concentrates_on_seeds(self, spark):
        from datarepo_spark.functions.graph import pagerank

        rows = [(f"n{i}", f"n{(i + 1) % 20}") for i in range(20)]
        sym = rows + [(b, a) for a, b in rows]
        edges = spark.createDataFrame(sym, ["src", "dst"])
        ranks = {
            r.node: r.rank_micro
            for r in pagerank(
                edges, iterations=4, personalize=["n0"]
            ).collect()
        }
        # the seed holds the teleport mass; far nodes decay with hops
        assert ranks["n0"] == max(ranks.values())
        assert ranks["n1"] == ranks["n19"]  # symmetric neighbors
        assert ranks["n10"] == min(ranks.values())  # farthest node

    def test_dangling_mass_returns_to_seeds(self, spark):
        """PPR completion: sink mass teleports to the SEED set, not
        uniformly — total mass is conserved up to flooring."""
        from datarepo_spark.functions.graph import pagerank

        edges = spark.createDataFrame(
            [("seed", "sink"), ("other", "sink")], ["src", "dst"]
        )
        ranks = {
            r.node: r.rank_micro
            for r in pagerank(
                edges, iterations=3, personalize=["seed"]
            ).collect()
        }
        # mean-1 integer form conserves ~3e6 micro of total mass
        assert abs(sum(ranks.values()) - 3_000_000) < 5000
        assert ranks["seed"] > ranks["other"]

    def test_empty_seed_set_rejected(self, spark):
        from datarepo_spark.functions.graph import pagerank

        edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
        import pytest as _pytest

        with _pytest.raises(ValueError):
            pagerank(edges, personalize=[])


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        """Two dense cliques joined by one bridge edge: LPA should label
        each clique internally consistently within a few rounds."""
        from datarepo_spark.functions.graph import label_propagation

        c1 = [(f"a{i}", f"a{j}") for i in range(5) for j in range(5) if i < j]
        c2 = [(f"b{i}", f"b{j}") for i in range(5) for j in range(5) if i < j]
        bridge = [("a0", "b0")]
        rows = c1 + c2 + bridge
        sym = rows + [(b, a) for a, b in rows]
        edges = spark.createDataFrame(sym, ["src", "dst"])
        labels = {
            r.node: r.label
            for r in label_propagation(edges, iterations=4).collect()
        }
        # each clique converges to ONE label (its minimum member wins)
        a_labels = {labels[f"a{i}"] for i in range(5)}
        b_labels = {labels[f"b{i}"] for i in range(1, 5)}
        assert len(a_labels) == 1
        assert len(b_labels) == 1

    def test_pure_source_and_sink_nodes_survive(self, spark):
        """Pins the r13 update-shape invariant: the labeling frame IS the
        node set every round (the update is a left join on itself, with
        no separate node-set re-completion join), so a node with only
        out-edges (never voted for) must still appear in the output with
        its own label, and a pure sink must appear with its voted label."""
        from datarepo_spark.functions.graph import label_propagation

        # z -> a: z has no in-edges (keeps label "z"); sink "s" has only
        # in-edges from the a-clique (adopts the clique's min label "a0")
        clique = [(f"a{i}", f"a{j}") for i in range(3) for j in range(3)]
        sym = [(b, a) for a, b in clique] + clique
        edges = spark.createDataFrame(
            sym + [("z", "a0"), ("a0", "s"), ("a1", "s"), ("a2", "s")],
            ["src", "dst"],
        )
        labels = {
            r.node: r.label
            for r in label_propagation(edges, iterations=3).collect()
        }
        assert set(labels) == {"a0", "a1", "a2", "z", "s"}
        assert labels["z"] == "z"
        assert labels["s"] == "a0"

    def test_deterministic_under_repartitioning(self, spark):
        from datarepo_spark.functions.graph import label_propagation

        rows = [(f"n{i}", f"n{(i * 3 + 1) % 30}") for i in range(60)]
        edges = spark.createDataFrame(rows, ["src", "dst"])
        a = sorted(
            (r.node, r.label)
            for r in label_propagation(edges, iterations=3).collect()
        )
        b = sorted(
            (r.node, r.label)
            for r in label_propagation(
                edges.repartition(11), iterations=3
            ).collect()
        )
        assert a == b


class TestLpaLexKey:
    """Pins the r14 long-key encoding of graph_label_propagation's
    labels: the key must be order-ISOMORPHIC to the lexicographic
    order of the 'c<k>'/'s<k>' strings (LPA's tie-break is label
    string order, so any order-breaking injection changes winners)
    and exactly invertible for the final display decode."""

    # digit-length boundaries, prefix cases ('1' vs '10'), interleaved
    # magnitudes, and the 10-digit bound
    KEYS = [
        1, 2, 9, 10, 11, 19, 20, 99, 100, 101, 123, 199, 200, 1000,
        9999, 10000, 14999, 15000, 99999, 1234567, 999999999,
        1000000000, 9999999999,
    ]

    def _frame(self, spark):
        from datarepo_spark.queries.analysis import (
            _lpa_lex_decode,
            _lpa_lex_key,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(k,) for k in self.KEYS], ["k"]
        ).select(
            F.col("k"),
            _lpa_lex_key(F.col("k"), supplier=False).alias("ck"),
            _lpa_lex_key(F.col("k"), supplier=True).alias("sk"),
        )
        return df.select(
            "k",
            "ck",
            "sk",
            _lpa_lex_decode("ck").alias("cdec"),
            _lpa_lex_decode("sk").alias("sdec"),
        ).collect()

    def test_order_isomorphic_to_string_sort(self, spark):
        rows = self._frame(spark)
        pairs = [(r.ck, f"c{r.k}") for r in rows] + [
            (r.sk, f"s{r.k}") for r in rows
        ]
        by_key = [s for _, s in sorted(pairs)]
        by_str = sorted(s for _, s in pairs)
        assert by_key == by_str

    def test_decode_inverts_encode(self, spark):
        for r in self._frame(spark):
            assert r.cdec == f"c{r.k}"
            assert r.sdec == f"s{r.k}"

    def test_injective(self, spark):
        rows = self._frame(spark)
        keys = [r.ck for r in rows] + [r.sk for r in rows]
        assert len(set(keys)) == len(keys)
