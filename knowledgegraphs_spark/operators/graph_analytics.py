"""Iterative graph analytics over the KG — PageRank, triangle counting,
and label-propagation communities on the entity graph.

The reference stops at emitting the KG; ranking what the graph contains
is the downstream need a large-scale training-data pipeline hits first
(which entities dominate a corpus, which conversations are hubs — the
weighting/selection signal for sampling and dedup decisions). This is
the second iterative-graph operator next to connected components
(``canonicalize.py``): CC is the alternating-frontier pattern, PageRank
is the power-iteration pattern, triangle counting is the join-closure
pattern, label propagation is the neighborhood-vote pattern, and k-core
is the monotone-peel pattern — the five shapes every distributed graph
workload decomposes into.

Semantics (deliberately the textbook fixed-iteration form, so an exact
relational twin exists): ``iters`` rounds of

    rank'(n) = (1 − d)/N + d · Σ_{src→n} rank(src) / outdeg(src)

No convergence test (fixed iterations = deterministic, oracle-checkable);
no dangling-mass redistribution (a node with no out-edges leaks its mass
— callers that need stochastic-matrix semantics add reverse edges, as the
entity-graph contract query does by construction). Ranks are plain
doubles; round before comparing across engines.

Scale shape: per iteration, ONE join of the edge relation (pre-joined
with out-degrees, checkpointed once) against the current rank vector on
``src``, then ONE ``groupBy(dst)`` partial-aggregated sum — two shuffles
of rank-vector size, not edge size, since the contribution sum combines
map-side. ``localCheckpoint`` per round keeps the self-referential plan
from growing (same discipline as ``ancestor_closure_df``). On a cluster,
pre-partitioning edges by ``src`` makes the per-iteration join exchange
the (much smaller) rank vector only.

Shared loops: ``_power_iteration`` runs both PageRanks (they differ only
in the node table's start-rank and teleport columns); ``_min_plus_hops``
runs :func:`weighted_hops` and, with unit weights, :func:`bfs_hops` —
each round relaxes only the nodes improved in the previous round, and
the loop stops once none improved. ``_undirected``, ``_both_directions``
and ``_node_universe`` are the edge set-up every operator shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import driver_frame


def _node_universe(edges: DataFrame) -> DataFrame:
    """Every endpoint of ``edges(src, dst)`` once, as ``(node)`` —
    checkpointed, since every caller scans it once per round."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """``edges(src, dst)`` read as an undirected simple graph: ``(u, v)``
    with ``u < v`` — direction, duplicates and self-loops normalized away."""
    return (
        edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _both_directions(und: DataFrame) -> DataFrame:
    """Each undirected edge ``(u, v)`` as its two directed rows ``(src,
    dst)`` — checkpointed, since the iterative callers scan it every round."""
    return (
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )


def _power_iteration(
    edges: DataFrame, table: DataFrame, damping: float, iters: int
) -> DataFrame:
    """``iters`` rounds of ``rank'(n) = t(n) + d · Σ_{src→n} rank(src) /
    outdeg(src)`` over ``table(node, rank, t)``: each node's start rank
    and teleport. Returns ``(node, rank)``."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    ranks = table.select("node", "rank")
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            table.join(contrib, "node", "left")
            .select(
                "node",
                (F.col("t") + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank(
    edges: DataFrame, damping: float = 0.85, iters: int = 10
) -> DataFrame:
    """Fixed-iteration PageRank over ``edges(src, dst)`` (directed, bag
    duplicates count as parallel edges). Returns ``(node, rank)`` for
    every node appearing as src or dst."""
    nodes = _node_universe(edges)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    table = nodes.select(
        "node", F.lit(1.0 / n).alias("rank"), F.lit((1.0 - damping) / n).alias("t")
    )
    return _power_iteration(edges, table, damping, iters)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over ``edges(src, dst)`` read as an
    UNDIRECTED simple graph (direction, duplicates, and self-loops are
    normalized away). Returns ``(node, triangles)`` for every node of the
    graph; the global triangle count is ``sum(triangles) / 3``.

    Scale shape — degree orientation (the compact-forward / node-iterator
    algorithm): each undirected edge is directed from its lower-(degree,
    node) endpoint to the higher, so the wedge-building self-join fans out
    from the LOW-degree side only. The candidate-wedge count is then
    bounded by ``Σ_e min(deg(u), deg(v)) ≤ O(α·m)`` (α = arboricity)
    instead of ``Σ_v deg(v)²`` — on a power-law KG the difference is the
    difference between a runnable job and a hub node emitting 10¹⁰
    wedges. Every triangle is produced exactly once (its rank-minimal
    vertex is the apex), so no post-hoc division; the closing check is an
    equi-join on the oriented (b, c) edge pair, and the final per-node
    count is a map-side-combinable ``explode → groupBy``. Three shuffles
    total (wedge join, closing join, count) — all on node/edge keys,
    never on anything wider.
    """
    und = _undirected(edges)
    # every node of the simple graph has degree >= 1, so deg IS the node set
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: a = lower (deg, node) endpoint, b = higher; carry b's degree
    # so wedge legs order by the SAME total order the closing edge uses
    wd = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    eo = wd.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=True)  # scanned three times below; never rebuild
    e1, e2 = eo.alias("e1"), eo.alias("e2")
    e3 = eo.select(F.col("a").alias("ea"), F.col("b").alias("eb"))
    lo_leg = (F.col("e1.db") < F.col("e2.db")) | (
        (F.col("e1.db") == F.col("e2.db")) & (F.col("e1.b") < F.col("e2.b"))
    )
    tris = (
        e1.join(e2, (F.col("e1.a") == F.col("e2.a")) & lo_leg)
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
        .join(e3, (F.col("b") == F.col("ea")) & (F.col("c") == F.col("eb")), "left_semi")
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def triangle_count_py(edges: list[tuple[str, str]]) -> dict[str, int]:
    """Pure-Python twin for tests — same undirected-simple-graph
    normalization, naive neighborhood intersection."""
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # each triangle at v is an edge (w, x) between two of v's neighbors;
    # |adj[v] ∩ adj[w]| over all neighbors w counts each such edge twice
    return {v: sum(len(nbrs & adj[w]) for w in nbrs) // 2 for v, nbrs in adj.items()}


def label_propagation(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Deterministic synchronous label propagation over ``edges(src,
    dst)`` read as an undirected simple graph: every node starts labeled
    with itself; each round, a node adopts the label most frequent among
    its NEIGHBORS (its own label does not vote), ties broken by the
    smallest label; isolated rounds keep the old label. Fixed ``iters``
    (deterministic ⇒ an exact unrolled relational twin exists, the same
    contract as :func:`pagerank`). Returns ``(node, label)``.

    Scale shape: per round, ONE join of the (undirected, checkpointed)
    edge relation against the label vector on ``src`` + ONE
    ``groupBy(dst, label)`` count (map-side combinable) + ONE per-node
    arg-min — ``min_by`` over ``(-count, label)`` packed as a struct, so
    the vote is a second map-side-combinable aggregate, NOT a window over
    neighbor lists (a hub node's vote never materializes its
    neighborhood in one task). Shuffles are label-vector-sized.
    ``localCheckpoint`` per round caps plan growth.

    The textbook caveat is preserved, not hidden: synchronous LPA can
    oscillate on bipartite structures — fixed iterations make the result
    well-defined anyway; callers wanting stable communities run on a
    co-occurrence (unipartite) projection, as the contract query does.
    """
    both = _both_directions(_undirected(edges))
    nodes = _node_universe(both)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        votes = (
            both.join(labels, both["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("new_label")
            )
        )
        labels = (
            labels.join(votes, "node", "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def label_propagation_py(edges: list[tuple[str, str]], iters: int = 5) -> dict[str, str]:
    """Pure-Python twin — same synchronous, self-excluded, min-tie-break
    semantics."""
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    labels = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v in adj:
            counts: dict[str, int] = {}
            for w in adj[v]:
                counts[labels[w]] = counts.get(labels[w], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l)) if counts else labels[v]
        labels = nxt
    return labels


def pagerank_py(
    edges: list[tuple[str, str]], damping: float = 0.85, iters: int = 10
) -> dict[str, float]:
    """Pure-Python power-iteration twin for tests — same fixed-iteration
    semantics, same no-dangling-redistribution rule."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    if n == 0:
        return {}
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += damping * ranks[s] / deg[s]
        ranks = nxt
    return ranks


def k_core(edges: DataFrame, k: int = 2, rounds: int = 8) -> DataFrame:
    """Iterative k-core peel over ``edges(src, dst)`` read as an
    undirected simple graph: each round drops every node whose degree in
    the SURVIVING subgraph is below ``k`` (and the edges touching it),
    until ``rounds`` rounds have run or a round removes nothing. Returns
    ``(node, core_degree)`` for the survivors — ``core_degree`` is the
    node's degree inside the surviving subgraph.

    Fixed ``rounds`` keeps the exact-unrolled-twin contract of
    :func:`pagerank` / :func:`label_propagation`: an early exit fires
    only when a round removes NOTHING, which a twin unrolled to the same
    ``rounds`` reproduces bit-for-bit (its later rounds are no-ops by
    the same fixpoint). With enough rounds the result IS the k-core; a
    partial peel (rounds exhausted first) is well-defined and
    documented, not hidden — survivors may still carry degree < k.

    Scale shape: per round ONE map-side-combinable degree ``groupBy``
    over the doubled edge list plus TWO semi-joins filtering the edges
    to surviving endpoints; the survivor set is node-vector-sized, so on
    a cluster with edges pre-partitioned by ``src`` the src-side filter
    is exchange-free and only the node vector moves. One ``count`` per
    round drives the early exit (the CC discipline: one action per
    round); ``localCheckpoint`` caps plan growth. Peeling touches only
    rows it deletes — total work across rounds is O(edges + removed
    nodes' degrees), the distributed analogue of the linear-time
    Matula–Beck peel.
    """
    both = _both_directions(_undirected(edges))
    prev_nodes = -1
    for _ in range(rounds):
        deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src").localCheckpoint(eager=True)
        n_keep = keep.count()
        if n_keep == prev_nodes:
            break
        prev_nodes = n_keep
        both = (
            both.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def k_core_py(
    edges: list[tuple[str, str]], k: int = 2, rounds: int = 8
) -> dict[str, int]:
    """Pure-Python twin — same synchronous round semantics (all sub-k
    nodes of a round drop together), same early exit."""
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for _ in range(rounds):
        doomed = {v for v, nbrs in adj.items() if len(nbrs) < k}
        if not doomed:
            break
        adj = {v: nbrs - doomed for v, nbrs in adj.items() if v not in doomed}
    return {v: len(nbrs) for v, nbrs in adj.items() if nbrs}


def _min_plus_hops(edges: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """``(node, dist long)``: the minimum total ``w`` over paths of at
    most ``rounds`` hops of ``edges(src, dst, w)`` from any seed, for
    every node reached. Each round relaxes only the nodes whose distance
    improved in the previous round — an unchanged node has already
    relaxed its out-edges, so this equals synchronous Bellman-Ford round
    for round — and the loop stops once nothing improved. Per round: one
    edge⋈frontier join, a map-side ``groupBy(dst).min``, one full outer
    join into the distance vector flagging the improved nodes, one
    checkpoint and one ``isEmpty`` probe."""
    # materialize the (possibly derived) edge relation ONCE — each round's
    # relax join would otherwise recompute its whole upstream plan (no
    # cross-round CSE)
    edges = edges.select("src", "dst", "w").localCheckpoint(eager=True)
    dist = (
        seeds.select("node").distinct()
        .select("node", F.lit(0).cast("long").alias("dist"), F.lit(True).alias("improved"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        frontier = dist.where("improved")
        if frontier.isEmpty():
            break
        cand = (
            edges.join(frontier.select(F.col("node").alias("src"), F.col("dist").alias("d")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("d") + F.col("w")).alias("cand"))
        )
        dist = (
            dist.select("node", "dist")
            .join(cand, "node", "full")
            .select(
                "node",
                F.least("dist", "cand").alias("dist"),
                (
                    F.col("cand").isNotNull()
                    & (F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
                ).alias("improved"),
            )
            .localCheckpoint(eager=True)
        )
    return dist.select("node", "dist")


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 3) -> DataFrame:
    """Multi-source BFS: minimum hop distance (≤ ``max_hops``) from any
    seed over ``edges(src, dst)`` read as DIRECTED — pass both directions
    for an undirected walk. ``seeds`` carries one column ``node``.
    Returns ``(node, hops int)`` for every node reached, seeds at 0.
    Unreached nodes are absent (the caller decides their sentinel).

    The sixth distributed-graph shape next to CC's alternating frontier:
    LEVEL-SYNCHRONOUS frontier expansion with a visited set — the
    neighborhood/context-window walk a KG pipeline runs to pull the
    k-hop subgraph around entities of interest (the reference's
    ancestor walk ``util/Ontology.java:174-209`` is this traversal
    specialized to ``subClassOf`` edges; here it is the general form
    over any edge relation).

    This is :func:`weighted_hops` with unit weights: the nodes whose
    distance improves in round h are exactly those first reached at hop
    h, so the relaxation frontier IS the BFS frontier, and the loop stops
    when it empties. Fixed ``max_hops`` keeps the exact bounded-recursive-
    twin contract of :func:`pagerank` / :func:`k_core`, early exit
    included (an empty frontier recurses into nothing on both sides).
    """
    unit = edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    return _min_plus_hops(unit, seeds, max_hops).select(
        "node", F.col("dist").cast("int").alias("hops")
    )


def bfs_hops_py(
    edges: list[tuple[str, str]], seeds: list[str], max_hops: int = 3
) -> dict[str, int]:
    """Pure-Python twin — same level-synchronous semantics."""
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for n in frontier:
            nxt |= adj.get(n, set())
        nxt -= dist.keys()
        if not nxt:
            break
        for n in nxt:
            dist[n] = h
        frontier = nxt
    return dist


def _md5_fold(col):
    """Fold the first 12 hex chars of md5(col) into a non-negative long —
    the deterministic pseudo-randomness primitive shared with the
    negative sampler (m7) and its DuckDB twin (same hex-digit fold, so
    the oracle reproduces every pick bit-for-bit)."""
    hexval = lambda c: F.ascii(c) - F.when(F.ascii(c) >= 97, F.lit(87)).otherwise(F.lit(48))  # noqa: E731
    return F.aggregate(
        F.filter(F.split(F.substring(F.md5(col), 1, 12), ""), lambda c: c != ""),
        F.lit(0).cast("long"),
        lambda acc, c: acc * 16 + hexval(c),
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 3,
    n_walks: int = 2,
) -> DataFrame:
    """Deterministic random walks — the DeepWalk/node2vec corpus
    generation step of a graph-embedding pipeline: ``n_walks`` walks of
    ``walk_length`` steps from every start node, the next hop at step t
    chosen by ``md5_fold(walk_id | t | current) % degree(current)`` over
    the neighbor list indexed in sorted order (hash-derived choice =
    uniform-ish AND bit-reproducible on any engine, so walks are
    oracle-checkable and restart-stable — a seeded RNG would depend on
    partitioning).

    ``edges`` is the directed adjacency (callers union both directions
    for undirected graphs); ``starts`` has a ``node`` column. Returns
    (walk_id, step, node) rows, step 0 = the start node. Walks that
    reach a node with no out-edges stop early (inner join drops them).

    Scale shape: the neighbor list is indexed ONCE (row_number per src,
    checkpointed); each step is one vocabulary-scale join against the
    degree table to compute the pick, then one EQUI-join on
    (node, pick) against the indexed adjacency — walk-front-sized
    shuffles, never edge-sized, and no hub-skew (the adjacency join key
    includes the neighbor index, so a hub's rows spread over the hash
    space). ``localCheckpoint`` per step keeps the plan flat, the same
    discipline as ``pagerank``.
    """
    from pyspark.sql import Window

    uniq = edges.select("src", "dst").distinct()
    adj = (
        uniq.withColumn(
            "idx",
            F.row_number().over(Window.partitionBy("src").orderBy("dst")).cast("long")
            - 1,
        )
        .select(
            F.col("src").alias("asrc"),
            F.col("dst").alias("adst"),
            F.col("idx").alias("aidx"),
        )
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy(F.col("asrc").alias("dsrc")).agg(F.count(F.lit(1)).alias("deg"))

    walks = (
        starts.select("node")
        .distinct()
        .select(
            "node",
            F.explode(F.array(*[F.lit(i) for i in range(1, n_walks + 1)])).alias("w"),
        )
        .select(
            F.concat_ws("#", "node", F.col("w").cast("string")).alias("walk_id"),
            F.col("node").alias("cur"),
        )
    )
    out = walks.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))
    cur = walks
    for t in range(1, walk_length + 1):
        picked = cur.join(deg, F.col("cur") == F.col("dsrc")).select(
            "walk_id",
            "cur",
            (
                _md5_fold(F.concat_ws("|", F.col("walk_id"), F.lit(str(t)), F.col("cur")))
                % F.col("deg")
            ).alias("pick"),
        )
        cur = (
            picked.join(
                adj,
                (F.col("cur") == F.col("asrc")) & (F.col("pick") == F.col("aidx")),
            )
            .select("walk_id", F.col("adst").alias("cur"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            cur.select("walk_id", F.lit(t).alias("step"), F.col("cur").alias("node"))
        )
    return out


def neighborhood_jaccard(
    edges: DataFrame,
    threshold: float = 0.25,
    hub_cap: int = 1000,
    top_k: int | None = None,
) -> DataFrame:
    """Structural entity similarity — Jaccard of neighbor sets, the
    graph-context signal entity resolution combines with string
    (``similarity.py``) and embedding (``simsearch.py``) evidence: two
    nodes whose neighborhoods overlap heavily are merge candidates even
    when their labels don't match.

    Contract: neighbors shared by more than ``hub_cap`` nodes are
    dropped from ALL neighborhoods first (post-filter degrees too), then
    Jaccard is EXACT over the filtered graph. That's the same
    df-pruning contract as n-gram dedup (``dedup.ngram_jaccard_pairs``):
    a hub neighbor contributes pairs quadratically while carrying no
    discriminative signal, and capping it bounds the self-join blow-up
    at C(hub_cap, 2) per neighbor — the property that survives a 100-TB
    graph. Returns (node_a, node_b, n_common, jaccard) with node_a <
    node_b and jaccard rounded to 6 decimals.

    With ``top_k`` set, returns instead each node's k most similar
    neighbors as (node, nbr, n_common, jaccard, rank) — ABSOLUTE
    thresholds don't survive scale (a denser graph lowers every pairwise
    Jaccard, silently emptying the result; measured: the 0.16 cutoff
    that keeps the top decile at sf0.01 keeps NOTHING at sf0.1), while
    rank-based selection is scale-adaptive and is the shape ER candidate
    generation consumes anyway. The ranking window partitions by node —
    candidate-list-sized groups, one extra shuffle."""
    e = edges.select("src", "dst").distinct()
    nbr_deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("nd"))
    kept = e.join(nbr_deg.where(F.col("nd") <= hub_cap), "dst").select("src", "dst")
    deg = kept.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    a = kept.select(F.col("dst"), F.col("src").alias("node_a"))
    b = kept.select(F.col("dst"), F.col("src").alias("node_b"))
    common = (
        a.join(b, "dst")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("src").alias("node_a"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("node_b"), F.col("d").alias("db"))
    scored = (
        common.join(da, "node_a")
        .join(db, "node_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ),
        )
    )
    if top_k is None:
        return scored.where(F.col("jaccard") >= threshold).select(
            "node_a", "node_b", "n_common", "jaccard"
        )
    from pyspark.sql import Window

    sym = scored.select(
        F.col("node_a").alias("node"), F.col("node_b").alias("nbr"),
        "n_common", "jaccard",
    ).unionByName(
        scored.select(
            F.col("node_b").alias("node"), F.col("node_a").alias("nbr"),
            "n_common", "jaccard",
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc("jaccard"), F.asc("nbr"))
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select("node", "nbr", "n_common", "jaccard", "rank")
    )


def weighted_hops(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Hop-bounded weighted shortest distance from a seed set —
    Bellman-Ford relaxation, the min-plus shape of the graph family
    (:func:`bfs_hops` is its unweighted special case): after ``rounds``
    rounds, ``dist(n)`` = the minimum total edge weight over any path of
    at most ``rounds`` hops from any seed. The KG use is cost-bounded
    context extraction: pull the subgraph reachable within a relation-
    cost budget instead of a hop budget.

    ``edges(src, dst, w)`` (long weights), ``seeds(node)``. Returns
    (node, dist) for every node reached. Scale shape: the frontier
    relaxation ``_min_plus_hops`` — only nodes improved in the previous
    round join the edges, and the loop stops early once no distance
    improves; the state stays node-scale (never path-enumeration-scale,
    the blow-up a naive reachability UNION ALL suffers).
    """
    return _min_plus_hops(edges, seeds, rounds)


def _fb_min_labels(edges: DataFrame, nodes: DataFrame, max_rounds: int = 256) -> DataFrame:
    """Minimum node id reachable FORWARD (``fmn``) and BACKWARD (``bmn``)
    from each node (self included) over directed ``edges(src, dst)`` —
    both directions in ONE propagation. Per round a node's candidates are
    its own labels plus its out-neighbors' ``fmn`` / in-neighbors'
    ``bmn`` (two edge-relation equi-joins NULL-padded into one union —
    ``min`` skips NULLs), folded in a single map-side-combined
    ``groupBy(node)``: one checkpoint per round and one cheap change
    probe on the checkpointed result (the ``chg`` column is computed
    WITH the labels, so ``isEmpty`` never recomputes the round).

    Rounds needed = the graph's label-propagation radius (max over nodes
    of the hop distance to its reach-set minimum) — the standard
    Pregel/GraphX trade: linear rounds, but NO transitive closure and
    no relation squaring, so every intermediate stays node-vector- or
    edge-sized at any scale (closure doubling would converge in log
    rounds and blow up memory on exactly the graphs where rounds
    matter). A label-of-label "pointer jump" was measured and removed:
    labels point at MINIMA, which sit at propagation frontiers, so the
    extra self-joins bought no rounds and doubled per-round cost.

    Invariant (induction): ``fmn`` is always forward-reachable and
    ``bmn`` backward-reachable, so at the zero-change fixpoint both
    equal the true reach-set minima. Raises if ``max_rounds`` pass
    without a fixpoint."""
    nulls = F.lit(None).cast("string")
    lab = nodes.select(
        "node", F.col("node").alias("fmn"), F.col("node").alias("bmn")
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        cand = (
            lab.select("node", "fmn", "bmn")
            .unionByName(
                edges.join(lab.select(F.col("node").alias("dst"), "fmn"), "dst")
                .select(F.col("src").alias("node"), "fmn", nulls.alias("bmn"))
            )
            .unionByName(
                edges.join(lab.select(F.col("node").alias("src"), "bmn"), "src")
                .select(F.col("dst").alias("node"), nulls.alias("fmn"), "bmn")
            )
        )
        folded = cand.groupBy("node").agg(
            F.min("fmn").alias("fmn"), F.min("bmn").alias("bmn")
        )
        new = (
            folded.join(
                lab.select(
                    "node", F.col("fmn").alias("ofmn"), F.col("bmn").alias("obmn")
                ),
                "node",
            )
            .select(
                "node", "fmn", "bmn",
                ((F.col("fmn") != F.col("ofmn")) | (F.col("bmn") != F.col("obmn"))).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        done = new.where("chg").isEmpty()
        lab = new.select("node", "fmn", "bmn")
        if done:
            return lab
    raise ValueError(f"_fb_min_labels: no fixpoint after {max_rounds} rounds")


def scc(edges: DataFrame, max_peels: int = 16, driver_finish_threshold: int = 1000) -> DataFrame:
    """Strongly connected components over directed ``edges(src, dst)``
    (string node ids): ``(node, scc_id)`` with ``scc_id`` the
    component's minimum node id.

    The seventh distributed-graph shape: MUTUAL reachability. CC's
    star-contraction is undirected and cannot answer it; SCC needs
    direction-aware peeling. Algorithm (the FW-BW min-label hybrid):
    per peel round compute every remaining node's minimum forward-
    reachable label ``f`` and minimum backward-reachable label ``b``
    (ONE combined :func:`_fb_min_labels` pass). All members of one SCC
    share BOTH labels (mutually reachable ⇒ identical reach sets), and
    ``f(v) = b(v) = m`` forces ``m`` into forward(v) ∩ backward(v) =
    SCC(v) — so nodes with ``f = b`` are assigned ``scc_id = f``
    exactly-correctly, removed, and the next peel runs on the
    remainder. Every round retires at least the SCC containing the
    remaining global minimum (for it, both minima ARE that node), so
    the peel terminates in at most condensation-chain-depth rounds.

    Once the remainder drops to ``driver_finish_threshold`` nodes the
    tail peels finish on the driver (:func:`scc_py`) — the
    canonicalize.py threshold-gated-twin discipline: measured on the
    transition-graph contract query, peel 1 retires >80 % of nodes and
    the remaining peels are tiny graphs whose per-round job overhead
    dominates wall time; the twin is equality-tested against the
    distributed path in pytest. Pass ``driver_finish_threshold=0`` to
    force the fully distributed path.

    Scale shape: no transitive closure, no path enumeration — every
    intermediate is node-vector-sized or one edge-relation equi-join;
    the per-round driver signal is a single ``isEmpty``/``count``
    (the CC convergence discipline). Isolated nodes (present only via
    self-loops or as endpoints) come out as singleton components.
    """
    spark = edges.sparkSession
    # node universe BEFORE dropping self-loops: a node whose only edges
    # are self-loops is still in the graph (a singleton component)
    nodes = _node_universe(edges)
    edges = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    parts: list[DataFrame] = []
    for _ in range(max_peels):
        n_remaining = nodes.count()
        if n_remaining == 0:
            break
        if n_remaining <= driver_finish_threshold:
            # driver-scale by construction: the remainder is below the
            # gate, and peeling only ever removes edges, so the edge
            # list collected here is the small graph's own
            remaining = [r["node"] for r in nodes.collect()]
            pairs = [(r["src"], r["dst"]) for r in edges.collect()]
            comp = scc_py(pairs)
            rows = [(n, comp.get(n, n)) for n in sorted(remaining)]
            parts.append(driver_frame(spark, rows, "node string, scc_id string"))
            break
        labs = _fb_min_labels(edges, nodes)
        assigned = (
            labs.where(F.col("fmn") == F.col("bmn"))
            .select("node", F.col("fmn").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        parts.append(assigned)
        nodes = nodes.join(assigned, "node", "left_anti").localCheckpoint(eager=True)
        edges = (
            edges.join(assigned.select(F.col("node").alias("src")), "src", "left_anti")
            .join(assigned.select(F.col("node").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        if not nodes.isEmpty():
            raise ValueError(f"scc: nodes remain after {max_peels} peel rounds")
    if not parts:
        return driver_frame(spark, [], "node string, scc_id string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scc_py(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Pure-Python twin: mutual reachability by per-node DFS (test-scale
    graphs), scc_id = min member id."""
    adj: dict[str, set[str]] = {}
    nodes: set[str] = set()
    for s, d in edges:
        nodes |= {s, d}
        if s != d:
            adj.setdefault(s, set()).add(d)
    reach: dict[str, set[str]] = {}
    for n in nodes:
        seen = {n}
        stack = [n]
        while stack:
            cur = stack.pop()
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        reach[n] = seen
    return {
        n: min(m for m in reach[n] if n in reach[m])
        for n in nodes
    }


def hits(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Hubs & authorities (Kleinberg's HITS) over directed
    ``edges(src, dst)``: ``(node, hub, authority)`` after ``iters``
    fixed alternating power iterations — the second power-iteration
    shape next to :func:`pagerank` (PageRank ranks where mass FLOWS,
    HITS separates pointers-to-good-content from pointed-at content;
    on an entity-transition graph: entities that set up contexts vs
    entities contexts converge on).

    Normalization is SUM-to-1 each half-step, not the textbook L2:
    scores differ from L2-HITS by a per-iteration scalar only (ranking
    identical), and staying radical-free keeps the unrolled relational
    twin exact (the g12 contract). Normalization totals come from a
    broadcast 1-row aggregate cross join — no driver round-trip per
    iteration, no global window.

    Scale shape: per half-step ONE equi-join of the edge relation
    against the current score vector plus a map-side-combined
    ``groupBy`` — shuffles are score-vector-sized; ``localCheckpoint``
    per half-step (each raw vector feeds both its own normalizer and
    the next join — no cross-branch CSE otherwise). Fixed iterations =
    deterministic, oracle-checkable."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    edges = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = _node_universe(edges)

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        total = raw.agg(F.sum(col).alias("__t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node", (F.col(col) / F.col("__t")).alias(col)
        )

    h = _normalize(nodes.select("node", F.lit(1.0).alias("hub")), "hub")
    a = None
    for _ in range(iters):
        a_raw = (
            nodes.join(
                edges.join(h.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("authority")),
                "node",
                "left",
            )
            .select("node", F.coalesce("authority", F.lit(0.0)).alias("authority"))
            .localCheckpoint(eager=True)
        )
        a = _normalize(a_raw, "authority")
        h_raw = (
            nodes.join(
                edges.join(a.withColumnRenamed("node", "dst"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("authority").alias("hub")),
                "node",
                "left",
            )
            .select("node", F.coalesce("hub", F.lit(0.0)).alias("hub"))
            .localCheckpoint(eager=True)
        )
        h = _normalize(h_raw, "hub")
    return h.join(a, "node").select("node", "hub", "authority")


def hits_py(edges: list[tuple[str, str]], iters: int = 5) -> dict[str, tuple[float, float]]:
    """Pure-Python twin — same alternating sum-normalized semantics."""
    nodes = sorted({n for e in edges for n in e})
    eset = sorted(set(edges))
    h = {n: 1.0 / len(nodes) for n in nodes} if nodes else {}
    a = {}
    for _ in range(iters):
        a = {n: 0.0 for n in nodes}
        for s, d in eset:
            a[d] += h[s]
        ta = sum(a.values())
        a = {n: v / ta for n, v in a.items()}
        h = {n: 0.0 for n in nodes}
        for s, d in eset:
            h[s] += a[d]
        th = sum(h.values())
        h = {n: v / th for n, v in h.items()}
    return {n: (h[n], a[n]) for n in nodes}


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, damping: float = 0.85, iters: int = 10
) -> DataFrame:
    """Personalized PageRank (random walk with restart): the power
    iteration of :func:`pagerank`, but ALL teleport mass returns to the
    ``seeds(node)`` set (uniformly) instead of to every node — the
    proximity-to-seeds primitive behind recommendation, related-entity
    expansion, and local community detection (scores concentrate around
    the seeds instead of measuring global importance).

    Same fixed-iteration / dangling-leak contract and the same loop as
    :func:`pagerank`; the node table carries start rank ``1/n_seeds``
    and teleport ``(1 − d)/n_seeds`` on the seeds (joined in once), ``0.0``
    elsewhere — the walk starts AT the seeds. Raises ``ValueError`` when
    no seed appears in the graph."""
    seed_set = seeds.select("node").distinct().select("node", F.lit(True).alias("seed"))
    nodes = (
        _node_universe(edges).join(seed_set, "node", "left").localCheckpoint(eager=True)
    )
    n_seeds = nodes.where("seed").count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed appears in the graph")
    is_seed = F.col("seed").isNotNull()
    table = nodes.select(
        "node",
        F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("rank"),
        F.when(is_seed, F.lit((1.0 - damping) / n_seeds)).otherwise(F.lit(0.0)).alias("t"),
    )
    return _power_iteration(edges, table, damping, iters)


def personalized_pagerank_py(
    edges: list[tuple[str, str]],
    seeds: list[str],
    damping: float = 0.85,
    iters: int = 10,
) -> dict[str, float]:
    """Pure-Python twin — same fixed-iteration restart semantics."""
    nodes = sorted({n for e in edges for n in e})
    sset = [s for s in sorted(set(seeds)) if s in set(nodes)]
    if not sset:
        raise ValueError("no seed in graph")
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {n: 0.0 for n in nodes}
    for s in sset:
        r[s] = 1.0 / len(sset)
    tp = (1.0 - damping) / len(sset)
    for _ in range(iters):
        nxt = {n: (tp if n in set(sset) else 0.0) for n in nodes}
        for s, d in edges:
            nxt[d] += damping * r[s] / deg[s]
        r = nxt
    return r
