"""Graph analytics (operators/graph_analytics.py): each distributed
algorithm must equal its pure-Python twin exactly (same fixed-iteration /
normalization semantics), and show the textbook behaviors — PageRank hub
accumulation and mass conservation, triangle closure counts, label
propagation community collapse."""

import random

import pytest

from knowledgegraphs_spark.operators.graph_analytics import (
    label_propagation,
    label_propagation_py,
    pagerank,
    pagerank_py,
    triangle_count,
    triangle_count_py,
)


def _df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def test_distributed_equals_python_twin(spark):
    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(12)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)})
    got = {r.node: r.rank for r in pagerank(_df(spark, edges), iters=8).collect()}
    want = pagerank_py(edges, iters=8)
    assert set(got) == set(want)
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_parallel_edges_count_twice(spark):
    edges = [("a", "b"), ("a", "b"), ("a", "c")]
    got = {r.node: r.rank for r in pagerank(_df(spark, edges), iters=4).collect()}
    want = pagerank_py(edges, iters=4)
    assert got == pytest.approx(want)
    assert got["b"] > got["c"]  # 2/3 of a's mass flows to b


def test_hub_gets_highest_rank_and_mass_conserved(spark):
    # star: everyone links to h, h links back to one node → no dangling
    edges = [(f"s{i}", "h") for i in range(5)] + [("h", "s0")]
    got = {r.node: r.rank for r in pagerank(_df(spark, edges), iters=20).collect()}
    assert max(got, key=got.get) == "h"
    # s0 receives h's back-link: second highest
    assert sorted(got, key=got.get, reverse=True)[1] == "s0"
    # dangling-free graph conserves total mass
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_dangling_leaks_mass_as_documented(spark):
    edges = [("a", "b")]  # b has no out-edges
    got = {r.node: r.rank for r in pagerank(_df(spark, edges), iters=3).collect()}
    want = pagerank_py(edges, iters=3)
    assert got == pytest.approx(want)
    assert sum(got.values()) < 1.0


def test_symmetric_bipartite_is_stochastic(spark):
    # the entity-graph construction: conv↔entity edges in both directions
    pairs = [("c1", "e1"), ("c1", "e2"), ("c2", "e1")]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    got = {r.node: r.rank for r in pagerank(_df(spark, edges), iters=12).collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got["e1"] > got["e2"]  # e1 is mentioned by two conversations


# -- triangle counting -------------------------------------------------------


def test_triangles_distributed_equals_python_twin(spark):
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(14)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)})
    got = {r.node: r.triangles for r in triangle_count(_df(spark, edges)).collect()}
    want = triangle_count_py(edges)
    assert got == want


def test_triangles_k4_and_direction_duplicate_selfloop_invariance(spark):
    # K4: every node sits on C(3,2) = 3 triangles; add noise that the
    # undirected-simple normalization must erase
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [("a", "a"), ("b", "c"), ("b", "c")]
    got = {r.node: r.triangles for r in triangle_count(_df(spark, noisy)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangles_path_graph_has_none_and_all_nodes_reported(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    got = {r.node: r.triangles for r in triangle_count(_df(spark, edges)).collect()}
    assert got == {"a": 0, "b": 0, "c": 0, "d": 0}


def test_triangles_hub_star_plus_rim(spark):
    # wheel: hub h + cycle r0..r4 — hub on 5 triangles, each rim node on 2
    rim = [f"r{i}" for i in range(5)]
    edges = [("h", r) for r in rim] + [(rim[i], rim[(i + 1) % 5]) for i in range(5)]
    got = {r.node: r.triangles for r in triangle_count(_df(spark, edges)).collect()}
    assert got["h"] == 5
    assert all(got[r] == 2 for r in rim)
    assert got == triangle_count_py(edges)


# -- label propagation -------------------------------------------------------


def test_lpa_distributed_equals_python_twin(spark):
    rng = random.Random(3)
    nodes = [f"n{i}" for i in range(16)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(48)})
    edges = [(s, d) for s, d in edges if s != d]
    for iters in (1, 4):
        got = {r.node: r.label for r in label_propagation(_df(spark, edges), iters).collect()}
        assert got == label_propagation_py(edges, iters)


def test_lpa_two_cliques_with_bridge_separate(spark):
    a = [f"a{i}" for i in range(4)]
    b = [f"b{i}" for i in range(4)]
    clique = lambda ns: [(x, y) for x in ns for y in ns if x < y]  # noqa: E731
    edges = clique(a) + clique(b) + [("a0", "b0")]
    got = {r.node: r.label for r in label_propagation(_df(spark, edges), iters=5).collect()}
    assert len({got[x] for x in a}) == 1
    assert len({got[x] for x in b}) == 1
    assert got["a1"] != got["b1"]  # the bridge must not merge the cliques
    assert got == label_propagation_py(edges, 5)


def test_lpa_tie_breaks_to_smallest_label_and_self_does_not_vote(spark):
    # v's two neighbors carry distinct labels after round 1 → round 2 tie
    # at v must pick the smaller; v's own label never votes
    edges = [("m", "v"), ("v", "z")]
    got1 = {r.node: r.label for r in label_propagation(_df(spark, edges), iters=1).collect()}
    # round 1: v sees {m, z} → tie → 'm'; m sees {v} → 'v'; z sees {v} → 'v'
    assert got1 == {"m": "v", "v": "m", "z": "v"}
    assert got1 == label_propagation_py(edges, 1)


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------


def test_kcore_distributed_equals_python_twin(spark):
    from knowledgegraphs_spark.operators.graph_analytics import k_core, k_core_py

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(16)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)})
    for k in (1, 2, 3, 4):
        got = {r.node: r.core_degree for r in k_core(_df(spark, edges), k=k, rounds=8).collect()}
        assert got == k_core_py(edges, k=k, rounds=8), f"k={k}"


def test_kcore_clique_survives_path_peels(spark):
    from knowledgegraphs_spark.operators.graph_analytics import k_core

    # K4 clique with a path tail: a-b-c-d all pairwise, then d-e-f chain.
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    tail = [("d", "e"), ("e", "f")]
    got = {r.node: r.core_degree for r in k_core(_df(spark, k4 + tail), k=3, rounds=8).collect()}
    # the 3-core is exactly the clique; every member has degree 3 inside it
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_cascade_needs_multiple_rounds(spark):
    from knowledgegraphs_spark.operators.graph_analytics import k_core, k_core_py

    # chain of diamonds: peeling the end vertex drops its neighbor below
    # k, which drops the next — each round removes exactly one frontier,
    # so rounds truly iterate (not a single-pass filter).
    chain = [(f"v{i}", f"v{i+1}") for i in range(8)]
    got = {r.node: r.core_degree for r in k_core(_df(spark, chain), k=2, rounds=3).collect()}
    want = k_core_py(chain, k=2, rounds=3)
    assert got == want
    # a partial peel at rounds=3 still holds survivors (the middle of the
    # chain hasn't been reached yet); full convergence empties the path
    assert got  # partial
    assert k_core_py(chain, k=2, rounds=10) == {}
    full = {r.node: r.core_degree for r in k_core(_df(spark, chain), k=2, rounds=10).collect()}
    assert full == {}


def test_kcore_direction_duplicate_selfloop_invariance(spark):
    from knowledgegraphs_spark.operators.graph_analytics import k_core

    base = [("a", "b"), ("b", "c"), ("c", "a")]
    noisy = base + [("b", "a"), ("a", "b"), ("a", "a")]
    got_base = {r.node: r.core_degree for r in k_core(_df(spark, base), k=2, rounds=4).collect()}
    got_noisy = {r.node: r.core_degree for r in k_core(_df(spark, noisy), k=2, rounds=4).collect()}
    assert got_base == got_noisy == {"a": 2, "b": 2, "c": 2}


def test_bfs_hops_distributed_equals_python_twin(spark):
    """Random directed graph, random multi-source seeds: distributed
    level-synchronous BFS equals the pure-Python twin exactly, including
    the min-hop tie (a node reachable at hops 2 and 3 reports 2)."""
    from knowledgegraphs_spark.operators.graph_analytics import bfs_hops, bfs_hops_py

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)})
    seeds = ["n0", "n1"]
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {r.node: r.hops for r in bfs_hops(_df(spark, edges), seeds_df, max_hops=3).collect()}
    assert got == bfs_hops_py(edges, seeds, max_hops=3)


def test_bfs_hops_early_exit_and_directedness(spark):
    from knowledgegraphs_spark.operators.graph_analytics import bfs_hops

    # a -> b -> c, plus x -> a (upstream: must NOT be reached — directed)
    edges = [("a", "b"), ("b", "c"), ("x", "a")]
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.hops for r in bfs_hops(_df(spark, edges), seeds, max_hops=5).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # frontier empties at hop 3: early exit
    # undirected walk = caller doubles the edges
    both = edges + [(d, s) for s, d in edges]
    got_u = {r.node: r.hops for r in bfs_hops(_df(spark, both), seeds, max_hops=5).collect()}
    assert got_u == {"a": 0, "b": 1, "x": 1, "c": 2}


def test_random_walks_structure_and_determinism(spark):
    """g31 machinery: every walk starts at its seed, every consecutive
    (node, next) is a real edge, every walk has exactly walk_length+1
    steps on a graph with no dead ends, n_walks walks per seed, and the
    whole output is bit-stable across runs."""
    from knowledgegraphs_spark.operators.graph_analytics import random_walks
    from pyspark.sql import functions as F

    # undirected triangle + a pendant: a-b, b-c, c-a, c-d
    und = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    edges = spark.createDataFrame(
        und + [(v, u) for u, v in und], "src string, dst string"
    )
    starts = spark.createDataFrame([("a",), ("b",)], "node string")
    out = random_walks(edges, starts, walk_length=4, n_walks=2)
    rows = sorted((r.walk_id, r.step, r.node) for r in out.collect())

    walks = {}
    for wid, step, node in rows:
        walks.setdefault(wid, {})[step] = node
    assert set(walks) == {"a#1", "a#2", "b#1", "b#2"}
    edge_set = {(u, v) for u, v in und} | {(v, u) for u, v in und}
    for wid, path in walks.items():
        assert len(path) == 5 and path[0] == wid.split("#")[0]
        for t in range(4):
            assert (path[t], path[t + 1]) in edge_set, (wid, t, path)
    again = sorted(
        (r.walk_id, r.step, r.node)
        for r in random_walks(edges, starts, walk_length=4, n_walks=2).collect()
    )
    assert again == rows


def test_neighborhood_jaccard_hand_computed(spark):
    """g32 machinery on a fixture: exact Jaccard values, node_a<node_b
    canonical order, and the hub-cap contract (a neighbor shared by more
    nodes than the cap vanishes from every neighborhood AND from the
    degrees before Jaccard is computed)."""
    from knowledgegraphs_spark.operators.graph_analytics import neighborhood_jaccard

    # x,y share {p1,p2} of x:{p1,p2,p3} y:{p1,p2,p4} -> 2/4 = 0.5
    # z:{p3} overlaps x on p3 -> 1/3; hub h touches everyone
    edges = [
        ("x", "p1"), ("x", "p2"), ("x", "p3"),
        ("y", "p1"), ("y", "p2"), ("y", "p4"),
        ("z", "p3"),
        ("x", "h"), ("y", "h"), ("z", "h"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in neighborhood_jaccard(df, threshold=0.0, hub_cap=2).collect()
    }
    # hub h (3 owners > cap 2) contributes nothing — else (x,z) would be 2/4
    assert got == {("x", "y"): (2, 0.5), ("x", "z"): (1, round(1 / 3, 6))}
    # with the cap admitting h, it counts everywhere
    got2 = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in neighborhood_jaccard(df, threshold=0.0, hub_cap=10).collect()
    }
    # x:{p1,p2,p3,h} y:{p1,p2,p4,h} -> 3/5; x,z:{p3,h} -> 2/4; y,z:{h} -> 1/5
    assert got2[("x", "y")] == (3, 0.6) and got2[("x", "z")] == (2, 0.5)
    assert got2[("y", "z")] == (1, 0.2)


def test_weighted_hops_hand_computed(spark):
    """g34: relaxation finds the cheaper 2-hop route over the expensive
    direct edge, respects the hop bound, and leaves unreached nodes
    absent."""
    from knowledgegraphs_spark.operators.graph_analytics import weighted_hops

    edges = [
        ("s", "a", 10), ("s", "b", 1), ("b", "a", 2),   # s->a direct 10, via b 3
        ("a", "c", 1), ("c", "d", 1), ("d", "e", 1),    # chain past the bound
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.dist for r in weighted_hops(df, seeds, rounds=3).collect()}
    assert got["s"] == 0 and got["b"] == 1
    assert got["a"] == 3          # cheaper 2-hop path wins
    assert got["c"] == 4          # 3 hops: s-b-a-c
    assert got["d"] == 12         # only the expensive s-a-c-d fits in 3 hops
    assert "e" not in got         # needs 4 hops
    # one more round: the cheap route reaches d (s-b-a-c-d), e appears
    got4 = {r.node: r.dist for r in weighted_hops(df, seeds, rounds=4).collect()}
    assert got4["d"] == 5 and got4["e"] == 13


def test_neighborhood_jaccard_topk_mode(spark):
    """g32 rank mode: top_k returns per-node ranked neighbors, both
    directions of each pair, deterministic tie-break, non-empty on a
    graph where any absolute threshold would be scale-fragile."""
    from knowledgegraphs_spark.operators.graph_analytics import neighborhood_jaccard

    edges = [
        ("x", "p1"), ("x", "p2"), ("x", "p3"),
        ("y", "p1"), ("y", "p2"), ("y", "p4"),
        ("z", "p3"), ("z", "p5"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.node, r.rank): (r.nbr, r.jaccard)
        for r in neighborhood_jaccard(df, hub_cap=10, top_k=2).collect()
    }
    # x: y (2/4=0.5) then z (1/4=0.25); y sees only x; z sees only x
    assert got[("x", 1)] == ("y", 0.5) and got[("x", 2)] == ("z", 0.25)
    assert got[("y", 1)] == ("x", 0.5)
    assert got[("z", 1)] == ("x", 0.25)
    assert ("y", 2) not in got  # y,z share no parts


# ---------------------------------------------------------------------------
# SCC: mutual reachability (FW-BW min-label peeling)
# ---------------------------------------------------------------------------


def _scc_check(spark, edges):
    from knowledgegraphs_spark.operators.graph_analytics import scc, scc_py

    df = spark.createDataFrame(edges, "src string, dst string")
    # fully distributed path (threshold 0) and driver-finish path must
    # both equal the pure-Python twin — the canonicalize.py discipline
    got = {r["node"]: r["scc_id"] for r in scc(df, driver_finish_threshold=0).collect()}
    via_driver = {r["node"]: r["scc_id"] for r in scc(df).collect()}
    assert got == scc_py(edges)
    assert via_driver == got
    return got


def test_scc_two_cycles_and_bridge(spark):
    # a->b->c->a (SCC {a,b,c}), d->e->d (SCC {d,e}), bridge c->d
    got = _scc_check(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "d"), ("c", "d")],
    )
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_scc_dag_is_all_singletons(spark):
    got = _scc_check(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    assert got == {n: n for n in "abcd"}


def test_scc_chain_of_sccs_needs_multiple_peels(spark):
    # condensation chain: {a,b} -> {c,d} -> {e,f}; the min-label test
    # assigns only the SCC holding the global min in round 1 when labels
    # leak forward, so this exercises the peel loop
    edges = [
        ("a", "b"), ("b", "a"),
        ("c", "d"), ("d", "c"),
        ("e", "f"), ("f", "e"),
        ("b", "c"), ("d", "e"),
    ]
    got = _scc_check(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e", "f": "e"}


def test_scc_self_loop_only_node_is_singleton(spark):
    got = _scc_check(spark, [("a", "a"), ("a", "b"), ("c", "c")])
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_scc_long_cycle(spark):
    # 12-node directed ring = one SCC; propagation rounds are linear in
    # the ring length (the documented diameter-bounded trade), so this
    # is the worst-case-shape coverage kept at a test-friendly size
    n = 12
    edges = [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)]
    got = _scc_check(spark, edges)
    assert set(got.values()) == {"n00"}


def test_hits_matches_py_twin(spark):
    from knowledgegraphs_spark.operators.graph_analytics import hits, hits_py

    edges = [
        ("a", "c"), ("b", "c"), ("c", "d"), ("a", "d"), ("d", "a"), ("c", "c"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(df, iters=4).collect()}
    exp = hits_py(edges, iters=4)
    assert set(got) == set(exp)
    for n in exp:
        assert abs(got[n][0] - exp[n][0]) < 1e-9, (n, got[n], exp[n])
        assert abs(got[n][1] - exp[n][1]) < 1e-9, (n, got[n], exp[n])
    # scores are distributions each half-step
    assert abs(sum(v[0] for v in got.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-9
    # 'c' is pointed at by both a and b -> top authority; 'a' points at
    # the two top authorities -> top hub
    assert max(exp, key=lambda n: exp[n][1]) == "c"
    assert max(exp, key=lambda n: exp[n][0]) == "a"


def test_hits_partitioning_invariant(spark):
    from knowledgegraphs_spark.operators.graph_analytics import hits

    edges = [(f"n{i % 7}", f"n{(i * 3 + 1) % 7}") for i in range(20)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(tuple(r) for r in hits(df.coalesce(1), iters=3).collect())
    b = sorted(tuple(r) for r in hits(df.repartition(5), iters=3).collect())
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0]
        assert abs(ra[1] - rb[1]) < 1e-12 and abs(ra[2] - rb[2]) < 1e-12


def test_personalized_pagerank_matches_py_twin(spark):
    from knowledgegraphs_spark.operators.graph_analytics import (
        personalized_pagerank,
        personalized_pagerank_py,
    )

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "c"), ("a", "b"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["rank"] for r in personalized_pagerank(df, seeds, iters=6).collect()}
    exp = personalized_pagerank_py(edges, ["a"], iters=6)
    assert set(got) == set(exp)
    for n in exp:
        assert abs(got[n] - exp[n]) < 1e-9, (n, got[n], exp[n])
    # mass concentrates near the seed: a and its successor outrank the
    # far node d
    assert got["a"] > got["d"] and got["b"] > got["d"]


def test_personalized_pagerank_requires_seed_in_graph(spark):
    import pytest

    from knowledgegraphs_spark.operators.graph_analytics import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("zz",)], "node string")
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank(df, seeds)


# ---------------------------------------------------------------------------
# the shared loops: each public operator is a special case of one loop
# ---------------------------------------------------------------------------


def test_personalized_pagerank_with_every_node_seeded_is_pagerank(spark):
    """Teleport (1-d)/N on every node and a uniform start is PageRank:
    both operators run the same power iteration over their node table."""
    from knowledgegraphs_spark.operators.graph_analytics import personalized_pagerank

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(12)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)})
    every = sorted({n for e in edges for n in e})
    seeds = spark.createDataFrame([(n,) for n in every], "node string")
    ppr = {r.node: r.rank for r in personalized_pagerank(_df(spark, edges), seeds, iters=8).collect()}
    pr = {r.node: r.rank for r in pagerank(_df(spark, edges), iters=8).collect()}
    assert set(ppr) == set(pr) == set(every)
    for v in pr:
        assert ppr[v] == pytest.approx(pr[v], abs=1e-12)


def test_weighted_hops_with_unit_weights_is_bfs_hops(spark):
    """bfs_hops is the frontier relaxation with unit weights: on the
    random graph of the BFS twin test, unit-weight weighted_hops gives the
    same distances node for node."""
    from knowledgegraphs_spark.operators.graph_analytics import bfs_hops, weighted_hops

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)})
    seeds_df = spark.createDataFrame([("n0",), ("n1",)], "node string")
    weighted = spark.createDataFrame([(s, d, 1) for s, d in edges], "src string, dst string, w long")
    got = {r.node: int(r.dist) for r in weighted_hops(weighted, seeds_df, rounds=3).collect()}
    want = {r.node: r.hops for r in bfs_hops(_df(spark, edges), seeds_df, max_hops=3).collect()}
    assert got == want


def test_weighted_hops_stops_once_distances_settle(spark):
    """On the hand-computed graph every distance settles within 5 rounds
    (the longest cheapest path, s-b-a-c-d-e, has 5 hops); 50 rounds give
    the same result, and launch fewer Spark jobs than rounds, because the
    loop stops when no distance improves."""
    from knowledgegraphs_spark.operators.graph_analytics import weighted_hops

    edges = [
        ("s", "a", 10), ("s", "b", 1), ("b", "a", 2),
        ("a", "c", 1), ("c", "d", 1), ("d", "e", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    seeds = spark.createDataFrame([("s",)], "node string")
    settled = {r.node: r.dist for r in weighted_hops(df, seeds, rounds=5).collect()}
    assert settled == {"s": 0, "b": 1, "a": 3, "c": 4, "d": 5, "e": 6}
    sc = spark.sparkContext
    sc.setJobGroup("weighted_hops_rounds_50", "weighted_hops early exit")
    try:
        got = {r.node: r.dist for r in weighted_hops(df, seeds, rounds=50).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == settled
    assert len(sc.statusTracker().getJobIdsForGroup("weighted_hops_rounds_50")) < 50
