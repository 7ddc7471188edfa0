"""Canonicalization (pipeline stage 5): iterative connected components over
match edges + canonical-representative pick.

The reference canonicalizes with an in-memory union-find over O(n²) pairwise
near-duplicate edges (``AAExpansion/source/util/UnionFind.py:30-71``,
``NearDuplicates.py:53-104``). At 10^12-turn scale the equivalent is the
alternating large-star / small-star connected-components algorithm (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC 2014): each
round is two shuffles, convergence in O(log n) rounds, with
``localCheckpoint`` every few rounds to truncate lineage. Component id =
min node id — deterministic under any partitioning.

Canonical representative per component: the reference's pick over
``process()`` features (``NearDuplicates.py:91-102``) — min token-concat
length, then most whitespace in the punctuation-stripped form, returning
that punctuation-stripped (noPunct) form; lexicographic-on-raw-surface
added as the final tie-break for full determinism. The ordering has one
Python form, :func:`pick_order_key`, and one JVM twin,
:func:`pick_order_cols`; the driver pick (:func:`canonical_pick`), the
distributed ``min_by`` pick and the incremental attach all order by them.
"""

from __future__ import annotations

import string
from collections.abc import Iterable
from typing import TypeVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..session import driver_frame

K = TypeVar("K")


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("a", "mn").alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    edges = (
        oriented.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(mins.select(F.col("a"), F.col("m").alias("b")))
    )
    return edges.where(F.col("a") != F.col("b")).distinct()


def _signature(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _driver_union_find(pairs: Iterable[tuple[K, K]]) -> dict[K, K]:
    """In-memory union-find (path-halving) over any comparable node keys —
    the reference's own algorithm shape (``UnionFind.py:30-71``); component
    id = min member. Nodes absent from ``pairs`` are absent from the map."""
    parent: dict[K, K] = {}

    def find(x: K) -> K:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def connected_components(
    edges: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """edges(a bigint, b bigint) → (node bigint, component bigint).

    Component id is the minimum node id. Isolated handling is the caller's
    job (nodes absent from ``edges`` are their own component).

    Two physical strategies, same result:
    * edge count ≤ ``cc_driver_threshold`` → collect + in-memory union-find
      (vocabulary-scale match graphs are tiny; a driver loop of Spark jobs
      would be pure latency);
    * otherwise → alternating large-star/small-star rounds, O(log n)
      convergence, per-round localCheckpoint.
    """
    cfg = cfg or EngineConfig()
    spark = edges.sparkSession
    e = edges.select(F.col("a").cast("long"), F.col("b").cast("long")).where(
        F.col("a") != F.col("b")
    ).distinct()
    e = e.localCheckpoint(eager=True)
    sig = _signature(e)
    if sig[0] <= cfg.cc_driver_threshold:
        comp = _driver_union_find([(r["a"], r["b"]) for r in e.collect()])
        return driver_frame(spark, sorted(comp.items()), "node long, component long")
    for _i in range(cfg.cc_max_iterations):
        # checkpoint EVERY round: without it the plan doubles per iteration
        # and each signature action recomputes the whole history.
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        new_sig = _signature(e2)
        e = e2
        if new_sig == sig:
            break
        sig = new_sig
    # converged: star forest (child, root). Roots map to themselves.
    stars = e.select(F.greatest("a", "b").alias("node"), F.least("a", "b").alias("component"))
    roots = stars.select(F.col("component").alias("node"), F.col("component")).distinct()
    return stars.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def pick_order_key(value: str) -> tuple[int, int, str]:
    """The canonical-pick ordering key of a string: shortest token-concat,
    then most whitespace, then lexicographic. Shared by
    :func:`canonical_pick`, the incremental-attach tie-break and its oracle
    twin so every side orders candidate canonicals identically."""
    from ..functions.similarity import nd_process

    no_punct, _toks, concat = nd_process(value)
    return (len(concat), -(len(no_punct) - len(concat)), value)


def _no_punct(col: Column) -> Column:
    """JVM twin of ``nd_process``'s noPunct form: punctuation → spaces
    (``F.translate`` is the exact twin of ``str.translate``)."""
    return F.translate(col, string.punctuation, " " * len(string.punctuation))


def pick_order_cols(col: Column) -> Column:
    """JVM twin of :func:`pick_order_key`: a struct usable in ``min_by``.
    cLen = chars surviving the \\w-concat, n_white = the rest of noPunct;
    the struct is unique per distinct ``col`` value, so the pick is total."""
    no_punct = _no_punct(col)
    c_len = F.length(F.regexp_replace(F.lower(no_punct), r"[^\p{L}\p{N}_]+", ""))
    n_white = F.length(no_punct) - c_len
    return F.struct(c_len.alias("c_len"), (-n_white).alias("nw"), col.alias("v"))


def canonical_pick(group: list[str]) -> str:
    """Canonical representative per the reference's
    ``groupNearDuplicates`` (``NearDuplicates.py:91-102``): the member
    minimizing the punctuation-stripped token-concat length ``cLen``,
    tie-break MOST whitespace in the noPunct form (``n_white =
    len(noPunct) - len(concat)``), and the value returned is the member's
    **noPunct** form (punctuation already replaced by spaces), exactly as
    the reference stores ``processed[idx][0]``. The reference breaks full
    ties by set-iteration order; we break them lexicographically on the raw
    member for determinism (documented deviation — the reference is
    iteration-order-dependent there). The ordering is
    :func:`pick_order_key`."""
    from ..functions.similarity import nd_process

    return nd_process(min(group, key=pick_order_key))[0]


def _canonical_mapping_python(
    surfaces: list[str], edges: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """In-memory twin of the distributed mapping."""
    comp = _driver_union_find(edges)
    groups: dict[str, list[str]] = {}
    for s in surfaces:
        groups.setdefault(comp.get(s, s), []).append(s)
    out: list[tuple[str, str]] = []
    for members in groups.values():
        canon = canonical_pick(members)
        out.extend((m, canon) for m in members)
    return sorted(out)


def canonical_mapping(
    surfaces: DataFrame,
    edges: DataFrame,
    cfg: EngineConfig | None = None,
    n_surfaces: int | None = None,
) -> DataFrame:
    """surfaces(mention) + edges(src, tgt) → (mention, canonical) — every
    surface mapped to its component's canonical representative (itself if
    unmatched). The canonical surface IS the component identity.

    Distributed path: node ids are ``xxhash64(mention)`` — a pure function of
    the surface, so the mapping is reproducible under any partitioning (no
    monotonically_increasing_id). Vocabulary-scale inputs
    (≤ ``vocab_driver_threshold``) run fully in memory — same output, none of
    the per-stage scheduling latency.
    """
    cfg = cfg or EngineConfig()
    if n_surfaces is None:
        n_surfaces = surfaces.count()
    if n_surfaces <= cfg.vocab_driver_threshold:
        surfs = [r["mention"] for r in surfaces.select("mention").collect()]
        pairs = [(r["src"], r["tgt"]) for r in edges.select("src", "tgt").collect()]
        rows = _canonical_mapping_python(surfs, pairs)
        return driver_frame(surfaces.sparkSession, rows, "mention string, canonical string")
    ids = surfaces.select("mention").dropDuplicates().withColumn(
        "node", F.xxhash64("mention")
    )
    edge_ids = (
        edges.select(F.xxhash64("src").alias("a"), F.xxhash64("tgt").alias("b"))
    )
    comp = connected_components(edge_ids, cfg)
    labeled = ids.join(comp, "node", "left").withColumn(
        "component", F.coalesce("component", "node")
    )
    # Per-component canonical via groupBy + min_by, NOT a whole-partition
    # window: partitionBy("component") lands an entire component on ONE
    # task, and near-dup graphs of boilerplate-heavy corpora produce mega-
    # components — min_by partial-aggregates map-side, so the hot key
    # ships one row per map task instead of every member.
    mention = F.col("mention")
    picks = labeled.groupBy("component").agg(
        F.min_by(_no_punct(mention), pick_order_cols(mention)).alias("canonical")
    )
    # join back: the component dim has ≤ n_surfaces rows → broadcast when it
    # fits, salted shuffle join otherwise (the mega-component hot key is
    # exactly what the salting defuses).
    from .skew import join_small_dim

    return join_small_dim(
        labeled.select("mention", "component"),
        picks,
        "component",
        salt_from=["mention"],
        dim_count=n_surfaces,
    ).select("mention", "canonical")
