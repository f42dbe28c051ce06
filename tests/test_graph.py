"""Large-star/small-star connected components (operators/graph.py).

The differential harness already certifies dd08 against the recursive
DuckDB oracle on the real corpus; these tests pin the ALGORITHMIC
claims on adversarial graph shapes the corpus doesn't contain:
equivalence with min-label propagation, and the logarithmic round
bound on a long chain (where propagation needs diameter rounds).
"""

from __future__ import annotations

import random

from chicago_business_owners_data_engineering_spark.operators.dedup import (
    components_propagation,
)
from chicago_business_owners_data_engineering_spark.operators.graph import (
    components_large_small_star,
)


def _components(df):
    return {(r.doc_id, r.component) for r in df.collect()}


def test_matches_propagation_on_random_graph(spark):
    rng = random.Random(11)
    # Three regimes in one graph: a dense blob, sparse random edges,
    # and singleton pairs — exercises dedup/ER-like cluster shapes.
    pairs = [(rng.randint(0, 29), rng.randint(0, 29)) for _ in range(60)]
    pairs += [(100 + rng.randint(0, 199), 100 + rng.randint(0, 199)) for _ in range(80)]
    pairs += [(1000, 1001), (2000, 2001)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    assert _components(components_large_small_star(df)) == _components(
        components_propagation(df)
    )


def test_chain_converges_in_log_rounds(spark):
    # A 96-node path has diameter 95: min-label propagation needs ~95
    # rounds; the alternating algorithm must finish in O(log n).
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(95)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    comp = _components(components_large_small_star(df, stats))
    assert comp == {(i, 0) for i in range(96)}
    assert stats["rounds"] <= 10, stats


def test_edge_input_order_and_duplicates_are_irrelevant(spark):
    base = [(5, 3), (3, 5), (3, 1), (9, 7)]
    df = spark.createDataFrame(base * 3, "doc_a long, doc_b long")
    assert _components(components_large_small_star(df)) == {
        (1, 1),
        (3, 1),
        (5, 1),
        (7, 7),
        (9, 7),
    }


# ---------------------------------------------------------------------------
# Graph analytics: integer PageRank + degree-oriented triangle counting.
# The differential harness certifies gr01/gr02 against DuckDB on the
# real co-purchase graph; these pin algorithmic properties on shapes
# the corpus doesn't guarantee.
# ---------------------------------------------------------------------------

from chicago_business_owners_data_engineering_spark.operators.graph import (
    PR_SCALE,
    pagerank_integer,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "part_a long, part_b long")


def test_pagerank_star_hub_dominates_and_symmetry(spark):
    # Star: hub 0 ↔ leaves 1..6. Exact symmetry → all leaves must get
    # the IDENTICAL integer rank (float PageRank only promises ≈).
    df = _edges(spark, [(0, i) for i in range(1, 7)])
    ranks = {r.node: r["rank"] for r in pagerank_integer(df).collect()}
    leaf_ranks = {ranks[i] for i in range(1, 7)}
    assert len(leaf_ranks) == 1
    assert ranks[0] > leaf_ranks.pop()
    # Conservation: truncating div only ever LOSES micro-units.
    assert sum(ranks.values()) <= PR_SCALE


def test_pagerank_tracks_float_reference(spark):
    # Integer truncation must stay within ~1e-6 relative of the exact
    # float recurrence on an asymmetric graph.
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (3, 4), (4, 5)]
    df = _edges(spark, pairs)
    got = {r.node: r["rank"] / PR_SCALE for r in pagerank_integer(df).collect()}
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    n = len(nbrs)
    rank = {v: 1.0 / n for v in nbrs}
    for _ in range(3):
        rank = {
            v: 0.15 / n + 0.85 * sum(rank[u] / len(nbrs[u]) for u in nbrs[v])
            for v in nbrs
        }
    for v in nbrs:
        assert abs(got[v] - rank[v]) < 1e-6, (v, got[v], rank[v])


def test_triangle_counts_planted(spark):
    # K4 on {0,1,2,3}: every node sits in C(3,2)=3 triangles. The
    # appended path 10-11-12 and pendant 3-10 close nothing.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    extra = [(10, 11), (11, 12), (3, 10)]
    out = {r.node: r.n_tri for r in triangle_counts(_edges(spark, k4 + extra)).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_skewed_hub(spark):
    # Hub 0 connects to 1..20; only (1,2) closes a triangle. The
    # degree orientation must still find exactly it (hub has max
    # degree, so wedges at the hub are never enumerated).
    star = [(0, i) for i in range(1, 21)]
    out = {
        r.node: r.n_tri
        for r in triangle_counts(_edges(spark, star + [(1, 2)])).collect()
    }
    assert out == {0: 1, 1: 1, 2: 1}


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    # With every weight = 1 the weighted recurrence must reduce to the
    # unweighted one bit-for-bit; with a heavy edge, rank must flow
    # toward the heavily-connected node.
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        pagerank_integer,
    )

    pairs = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    uw = spark.createDataFrame(pairs, "part_a long, part_b long")
    w1 = spark.createDataFrame(
        [(a, b, 1) for a, b in pairs], "part_a long, part_b long, w long"
    )
    r_uw = {r.node: r["rank"] for r in pagerank_integer(uw).collect()}
    r_w1 = {r.node: r["rank"] for r in pagerank_integer(w1, weight_col="w").collect()}
    assert r_uw == r_w1

    # Node 4's only edge (3,4) gets weight 50: node 3 now sends most of
    # its mass to 4, so 4 must outrank its uniform-weight self.
    wheavy = spark.createDataFrame(
        [(a, b, 50 if (a, b) == (3, 4) else 1) for a, b in pairs],
        "part_a long, part_b long, w long",
    )
    r_h = {r.node: r["rank"] for r in pagerank_integer(wheavy, weight_col="w").collect()}
    assert r_h[4] > r_w1[4]


def test_personalized_pagerank_concentrates_near_seed(spark):
    # Barbell: seed-side clique {0,1,2} — bridge 2-10 — far clique
    # {10,11,12}. Rank must decay with distance from the seed (node 0):
    # direct neighbors beat the bridgehead's far side, far-clique
    # members rank lowest; total mass stays bounded by the scale.
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        PR_SCALE,
        pagerank_integer,
    )

    pairs = [(0, 1), (0, 2), (1, 2), (2, 10), (10, 11), (10, 12), (11, 12)]
    df = spark.createDataFrame(pairs, "part_a long, part_b long")
    out = pagerank_integer(df, personalized=True).collect()
    ranks = {r.node: r["rank"] for r in out}
    assert all(r.seed == 0 for r in out)
    # Proximity decay: every seed-clique member outranks every
    # far-clique member, and the bridgehead outranks its far leaves.
    # (The seed itself need not be the global argmax at a short fixed
    # iteration count — mass is mid-diffusion and the higher-degree
    # bridge node 2 can transiently hold more.)
    assert min(ranks[0], ranks[1], ranks[2]) > max(ranks[10], ranks[11], ranks[12])
    assert ranks[10] > ranks[11] and ranks[10] > ranks[12]
    # Seed-side init: total mass starts at scale and only shrinks
    # (truncating division loses micro-units; teleport injects ≤ what
    # pass-through withholds).
    assert sum(ranks.values()) <= PR_SCALE


from chicago_business_owners_data_engineering_spark.operators.graph import (  # noqa: E402
    kcore_bounded,
)


def _core(df):
    return {(r.node, r.core_deg) for r in df.collect()}


def test_kcore_keeps_clique_drops_pendants(spark):
    # K5 clique (every node degree 4) with a pendant path hanging off
    # node 0: the 4-core is exactly the clique, and node 0's core degree
    # is its WITHIN-CORE degree (4), not its raw degree (5).
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(0, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + path, "part_a long, part_b long")
    assert _core(kcore_bounded(df, k=4, rounds=4)) == {(i, 4) for i in range(5)}


def test_kcore_peeling_cascades(spark):
    # Path P10 under k=2: endpoints peel first, exposing new endpoints —
    # each round removes exactly the two current ends, so the bounded
    # form shows the cascade mid-flight and the fixpoint form empties.
    df = spark.createDataFrame([(i, i + 1) for i in range(9)], "part_a long, part_b long")
    after2 = kcore_bounded(df, k=2, rounds=2)
    assert {r.node for r in after2.collect()} == set(range(2, 8))
    assert kcore_bounded(df, k=2, rounds=None).count() == 0


def test_kcore_bounded_matches_fixpoint_engine(spark):
    rng = random.Random(7)
    pairs = {(rng.randint(0, 39), rng.randint(0, 39)) for _ in range(120)}
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "part_a long, part_b long")
    for k in (2, 3, 4):
        assert _core(kcore_bounded(df, k=k, rounds=12)) == _core(
            kcore_bounded(df, k=k, rounds=None)
        )


from chicago_business_owners_data_engineering_spark.operators.graph import (  # noqa: E402
    onion_layers,
)


def test_onion_layers_peel_pendant_path_inward(spark):
    # K5 clique with a pendant path 0-10-11-12: under k=2 the path peels
    # one ring per round from the leaf inward (12 -> 11 -> 10), and the
    # clique is the 2-core (layer 0).
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(0, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + path, "part_a long, part_b long")
    layers = {r.node: r.layer for r in onion_layers(df, k=2, rounds=6).collect()}
    assert layers == {**{i: 0 for i in range(5)}, 12: 1, 11: 2, 10: 3}


def test_onion_layer_zero_equals_kcore(spark):
    rng = random.Random(13)
    pairs = {(rng.randint(0, 49), rng.randint(0, 49)) for _ in range(150)}
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "part_a long, part_b long")
    core = {r.node for r in kcore_bounded(df, k=2, rounds=None).collect()}
    layer0 = {
        r.node for r in onion_layers(df, k=2, rounds=12).collect() if r.layer == 0
    }
    assert layer0 == core


def test_label_propagation_hand_computed(spark):
    """gr07's recurrence by hand: a triangle collapses to its min-id
    label within three synchronous rounds; an isolated edge oscillates
    (the documented synchronous-LPA behavior on 2-colorable parts)."""
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(10, 11), (10, 12), (11, 12), (1, 2)],
        "part_a long, part_b long",
    )
    got = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
    # triangle: r1 {10:11, 11:10, 12:10} → r2 {10:10, 11:10, 12:10} → stable
    assert got[10] == 10 and got[11] == 10 and got[12] == 10
    # isolated edge: swaps every round; after an odd round count each
    # node carries the other's id
    assert (got[1], got[2]) == (2, 1)


def test_bfs_hops_hand_computed(spark):
    """gr08's recurrence by hand on a path with a detached component:
    seeds are (node %% 13 == 0) plus the min node; distances are exact
    hop counts; nodes beyond the round budget stay unreached."""
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        bfs_hops,
    )

    # path 13-14-15-16-17-18-19, detached edge 20-21 (no seed of its
    # own: 20 % 13 != 0 and 21 % 13 != 0, and min node is 13).
    edges = spark.createDataFrame(
        [(13, 14), (14, 15), (15, 16), (16, 17), (17, 18), (18, 19), (20, 21)],
        "part_a long, part_b long",
    )
    got = {r.node: r.dist for r in bfs_hops(edges, rounds=4).collect()}
    assert got == {13: 0, 14: 1, 15: 2, 16: 3, 17: 4}
    # 18, 19 are 5-6 hops out; 20, 21 unreachable — none materialize.
    assert 18 not in got and 20 not in got


def test_bfs_seed_fallback_is_min_node(spark):
    """A graph with no (node %% 13 == 0) member still gets exactly one
    seed: the minimum node id."""
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        bfs_hops,
    )

    edges = spark.createDataFrame([(7, 8), (8, 9)], "part_a long, part_b long")
    got = {r.node: r.dist for r in bfs_hops(edges, rounds=2).collect()}
    assert got == {7: 0, 8: 1, 9: 2}


def test_link_prediction_hand_computed_and_hub_cap(spark):
    """gr09's candidate logic on a planted shape: two nodes sharing two
    wedge centers outrank a one-center pair; existing edges are never
    predicted; an over-cap hub contributes no candidates."""
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        LP_MAX_DEG,
        link_candidates,
    )

    # u=1, v=2 share centers 10 and 11 (no 1-2 edge) -> cn 2.
    # 3 and 1 share only center 10 -> cn 1. 10-11 are themselves linked
    # through common neighbors 1 and 2.
    base = [(1, 10), (2, 10), (1, 11), (2, 11), (3, 10)]
    # hub 99 with LP_MAX_DEG + 1 neighbors (ids 1000+i): over the cap,
    # so none of those neighbor pairs may appear as candidates.
    hub = [(99, 1000 + i) for i in range(LP_MAX_DEG + 1)]
    edges = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in base + hub],
        "part_a long, part_b long",
    )

    pred = {
        (r.u, r.v): r.common_neighbors for r in link_candidates(edges).collect()
    }
    assert pred[(1, 2)] == 2
    assert pred[(2, 3)] == 1
    assert pred[(10, 11)] == 2
    assert (1, 10) not in pred  # existing edge, anti-joined away
    # no hub-spoke pair appears
    assert not any(u >= 1000 for (u, v) in pred)


def test_assortativity_star_is_minus_one_and_cycle_is_null(spark, tmp_path):
    """gr10's statistic on canonical shapes: a star is perfectly
    disassortative (r = -1); a regular cycle has zero degree variance
    (r = NULL via the NULLIF guard)."""
    import datetime

    def run(edges):
        # materialize a tiny lineitem so the registry query builds the
        # SAME edge relation (order = edge, two parts per order, 1995)
        rows = []
        ts = datetime.datetime(1995, 6, 1)
        for i, (a, b) in enumerate(edges):
            for pk in (a, b):
                rows.append((i, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts))
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp",
        ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
        from chicago_business_owners_data_engineering_spark.registry import QUERIES

        [r] = QUERIES["gr10_degree_assortativity"](spark, str(tmp_path)).collect()
        return r

    # star: hub 1 with leaves 2..5
    r = run([(1, 2), (1, 3), (1, 4), (1, 5)])
    assert r.m == 8
    assert r.assortativity == -1.0
    # 4-cycle: every node degree 2 -> zero variance -> NULL
    r = run([(1, 2), (2, 3), (3, 4), (1, 4)])
    assert r.var_x == 0 and r.var_y == 0
    assert r.assortativity is None


def test_clustering_coefficient_canonical_shapes(spark, tmp_path):
    """gr11's metric on canonical shapes: a triangle's nodes score 1.0,
    a star hub scores 0.0, and a pendant (deg 1) is excluded."""
    import datetime

    edges = [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5), (4, 6)]
    rows = []
    ts = datetime.datetime(1995, 6, 1)
    for i, (a, b) in enumerate(edges):
        for pk in (a, b):
            rows.append((i, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    from chicago_business_owners_data_engineering_spark.registry import QUERIES

    got = {
        r.node: (r.deg, r.n_tri, r.n_wedges, r.coefficient)
        for r in QUERIES["gr11_clustering_coefficient"](spark, str(tmp_path)).collect()
    }
    assert got[2] == (2, 1, 1, 1.0)  # triangle corner
    assert got[3] == (2, 1, 1, 1.0)
    # node 1: neighbors {2,3,4}, only 2-3 connected -> 1/3
    assert got[1] == (3, 1, 3, round(1 / 3, 6))
    # node 4: neighbors {1,5,6}, none connected -> 0.0
    assert got[4] == (3, 0, 3, 0.0)
    assert 5 not in got and 6 not in got  # deg 1 excluded
