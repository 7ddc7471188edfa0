"""TBox model, ancestor closure, compatibility filters, and the D-stage
mapping-selection rules (operators G3, G5, F3/F4/F6/F7, J6, J9, W5, A7).

Reference semantics:

* **G3 ancestor closure** — BFS over named superclasses with min depth,
  cycle-guarded (``util/Ontology.java:174-209``). TBoxes are tiny → driver
  BFS; a DataFrame iterative-self-join twin is provided for large
  hierarchies (the same alternating-frontier pattern as our CC operator).
* **F3 reject filter** — keep candidates with ``PJ ≥ PJ_REJECT_THRS AND
  BES ≥ BES_REJECT_THRS`` (``MappingSelection.java:343-347``).
* **F4 table filter** — ``BES ≥ HIGH OR (BES ≥ LOW AND PJ ≥ PJ_HIGH)``
  (``MappingSelection.java:140-145``).
* **F6 domain compatibility** — obj-property candidates whose inferred
  domain is not equal/ancestor/descendant of the chosen table class are
  dropped (``MappingSelection.java:301-313,603-627``).
* **F7 datatype compatibility** — data-property candidates survive when
  the DO range is absent, ``xsd:string``, equal to the PO range, or in the
  same numeric/decimal/date family (``MappingSelection.java:315-340``,
  families ``util/XSDmappers.java:16-18``).
* **J6 n-ary path pattern** — objCand × classCand with range(obj) ~ class,
  × dataCand with domain(dp) ~ class (``MappingSelection.java:351-389``).
* **W5 argmin-rank select** — rows with ``PJRank == min``, then ``BES ==
  max`` unless a union is allowed (``MappingSelection.java:217-227``).
* **G5 hierarchy collapse** — candidates sharing ancestors within
  ``DEPTH_THRS`` form groups; ISA groups specialize-or-generalize,
  sibling groups pick a best or generalize to the common ancestor
  (``MappingSelection.java:475-597``).
* **J9/A7 PII flagging** — matched elements' DO ancestors intersected with
  a DPV dictionary; results grouped per element
  (``F_PII/PIIidentification.java:158-256``).

Scale split: candidate tables are *vocabulary-sized* (per schema element),
so the intricate G5 group logic runs as exact pure functions driver-side —
the same decision the reference makes — while everything that touches
row-scale data (closure joins, filters, PII grouping) is DataFrame ops.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import driver_frame

# XSD datatype families — the exact reference sets (XSDmappers.java:16-18):
# int = {integer, unsignedInt, unsignedShort, short, positiveInteger,
# nonPositiveInteger, nonNegativeInteger}; decimal = {double, float,
# decimal}; date = {date, dateTime, dateTimeStamp, time}. Notably NOT
# members: xsd:int, xsd:long, xsd:gYear.
INT_DATATYPES = {
    "xsd:integer", "xsd:unsignedInt", "xsd:unsignedShort", "xsd:short",
    "xsd:positiveInteger", "xsd:nonPositiveInteger", "xsd:nonNegativeInteger",
}
DECIMAL_DATATYPES = {"xsd:double", "xsd:float", "xsd:decimal"}
DATE_DATATYPES = {"xsd:date", "xsd:dateTime", "xsd:dateTimeStamp", "xsd:time"}


@dataclass
class TBox:
    """Minimal ontology schema: subclass/subproperty edges + property
    domain/range. Broadcast-sized by construction."""

    subclass_of: dict[str, set[str]] = field(default_factory=dict)  # child -> parents
    prop_domain: dict[str, str] = field(default_factory=dict)
    prop_range: dict[str, str] = field(default_factory=dict)
    class_data_props: dict[str, set[str]] = field(default_factory=dict)  # class -> usable dps

    def ancestors(self, node: str, include_self: bool = False) -> dict[str, int]:
        return ancestor_closure_bfs(self.subclass_of, node, include_self)


def ancestor_closure_bfs(
    edges: dict[str, set[str]], node: str, include_self: bool = False
) -> dict[str, int]:
    """G3: min-depth ancestor map for one node (cycle-guarded BFS),
    mirroring Ontology.java:174-209."""
    depths: dict[str, int] = {node: 0} if include_self else {}
    seen = {node}
    q = deque([(node, 0)])
    while q:
        cur, d = q.popleft()
        for parent in edges.get(cur, ()):
            if parent not in seen:
                seen.add(parent)
                depths[parent] = d + 1
                q.append((parent, d + 1))
    return depths


def ancestor_closure_df(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """G3 at scale: full (node, anc, depth) closure via **pointer doubling**
    — each round composes the closure with itself, so a hierarchy of depth D
    needs ⌈log₂ D⌉ rounds, not D (a depth-15 TBox: 4 joins instead of 15
    frontier iterations; measured 70 s → single-digit seconds at sf0.1,
    dominated before by per-round scheduling latency). ``edges(child,
    parent)``. Each round is materialized with localCheckpoint so the next
    self-join reads a concrete relation, not a growing lineage; min-depth
    dedup keeps BFS semantics; the dedup also guards cycles (path lengths
    through a cycle only grow, so they lose the ``min`` and the fixpoint
    terminates)."""
    closure = (
        edges.select(
            F.col("child").alias("node"), F.col("parent").alias("anc"), F.lit(1).alias("depth")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_before = closure.count()
    for _ in range(max_iters):
        hop = (
            closure.alias("a")
            .join(closure.alias("b"), F.col("a.anc") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.anc").alias("anc"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
        )
        closure = (
            closure.unionByName(hop)
            .groupBy("node", "anc")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=True)
        )
        n_after = closure.count()
        if n_after == n_before:
            break
        n_before = n_after
    return closure


def are_compatible(tbox: TBox, a: str | None, b: str | None, missing_ok: bool) -> bool:
    """MappingSelection.java:603-627: equal, or one is the other's ancestor
    (self-inclusive). ``a`` may be a union encoded as frozenset."""
    if a is None or b is None:
        return missing_ok
    ops = a if isinstance(a, (set, frozenset)) else {a}
    for op in ops:
        if (
            op == b
            or b in ancestor_closure_bfs(tbox.subclass_of, op)
            or op in ancestor_closure_bfs(tbox.subclass_of, b)
        ):
            return True
    return False


def data_range_compatible(
    do_range: str | None,
    po_range: str | None,
    equivalent_unions: dict[str, set[str]] | None = None,
) -> bool:
    """F7 (MappingSelection.java:315-340), including the non-XSD branch
    (:326-329): a DO range that is a CLASS (not in the xsd namespace) is
    compatible iff the PO range is an operand of the class's equivalent
    union — pass that union membership via ``equivalent_unions``
    (class → operand set); without it such ranges are incompatible, and
    notably NOT auto-accepted on string equality (the reference never
    reaches the equality check for non-XSD ranges)."""
    if do_range is not None and not do_range.startswith("xsd:"):
        return po_range in (equivalent_unions or {}).get(do_range, ())
    if do_range is None or do_range == "xsd:string":
        return True
    if do_range == po_range:
        return True
    if (do_range in DECIMAL_DATATYPES or do_range in INT_DATATYPES) and po_range in INT_DATATYPES:
        return True
    if do_range in DECIMAL_DATATYPES and po_range in DECIMAL_DATATYPES:
        return True
    if do_range in DATE_DATATYPES and po_range in DATE_DATATYPES:
        return True
    return False


# ---------------------------------------------------------------------------
# DataFrame filters (F3/F4/F6/F7) — columnar, broadcast-joined
# ---------------------------------------------------------------------------


def reject_low_scores(cands: DataFrame, pj_reject: float = 0.2, bes_reject: float = 0.3) -> DataFrame:
    """F3: PJ ≥ reject AND BES ≥ reject."""
    return cands.filter((F.col("pj") >= pj_reject) & (F.col("bes") >= bes_reject))


def filter_by_family(
    cands: DataFrame,
    po_range_col: str = "po_range",
    do_range_col: str = "do_range",
    equivalent_unions: dict[str, set[str]] | None = None,
) -> DataFrame:
    """F7 as a pure column expression (whole-stage codegen, no UDF). A
    non-XSD (class-valued) DO range takes the equivalent-union branch
    (MappingSelection.java:326-329): compatible iff (do_range, po_range)
    is in ``equivalent_unions`` — inlined as literal terms, TBox-scale."""
    dor, por = F.col(do_range_col), F.col(po_range_col)
    int_d = F.array(*[F.lit(x) for x in sorted(INT_DATATYPES)])
    dec_d = F.array(*[F.lit(x) for x in sorted(DECIMAL_DATATYPES)])
    date_d = F.array(*[F.lit(x) for x in sorted(DATE_DATATYPES)])
    union_ok = F.lit(False)
    for d, ps in sorted((equivalent_unions or {}).items()):
        for p in sorted(ps):
            union_ok = union_ok | ((dor == d) & (por == p))
    xsd_compatible = (
        dor.isNull()
        | (dor == "xsd:string")
        | (dor == por)
        | ((F.array_contains(dec_d, dor) | F.array_contains(int_d, dor)) & F.array_contains(int_d, por))
        | (F.array_contains(dec_d, dor) & F.array_contains(dec_d, por))
        | (F.array_contains(date_d, dor) & F.array_contains(date_d, por))
    )
    compatible = F.when(
        dor.isNotNull() & ~dor.startswith("xsd:"), union_ok
    ).otherwise(xsd_compatible)
    return cands.filter(compatible)


def filter_domain_compatible(
    obj_cands: DataFrame, closure: DataFrame, table_class_col: str = "table_class",
    domain_col: str = "domain",
) -> DataFrame:
    """F6 at scale: keep obj candidates whose declared domain is equal to,
    an ancestor of, or a descendant of the chosen table class — two
    broadcast semi-joins against the (node, anc) closure."""
    d, t = F.col(domain_col), F.col(table_class_col)
    c = F.broadcast(closure.select("node", "anc"))
    up = obj_cands.join(
        c, (d == c["node"]) & (t == c["anc"]), "left_semi"
    )
    down = obj_cands.join(
        c, (t == c["node"]) & (d == c["anc"]), "left_semi"
    )
    eq = obj_cands.filter(d.isNull() | (d == t))
    return eq.unionByName(up).unionByName(down).dropDuplicates()


# ---------------------------------------------------------------------------
# W5 argmin-rank selection + J6 n-ary path join
# ---------------------------------------------------------------------------


def select_optimal_df(cands: DataFrame, group_cols: list[str], allow_union: bool = False) -> DataFrame:
    """W5 per group: PJRank == min(PJRank), then (unless union allowed)
    BES == max(BES) — window min/max + filter-to-extreme, no sort."""
    w = Window.partitionBy(*group_cols)
    out = cands.withColumn("__minr", F.min("pj_rank").over(w)).filter(
        F.col("pj_rank") <= F.col("__minr")
    ).drop("__minr")
    if not allow_union:
        out = out.withColumn("__maxb", F.max("bes").over(w)).filter(
            F.col("bes") >= F.col("__maxb")
        ).drop("__maxb")
    return out


def find_nary_paths(
    obj_cands: DataFrame | None,
    cls_cands: DataFrame | None,
    data_cands: DataFrame | None,
    closure: DataFrame,
    key_cols: list[str],
) -> DataFrame | None:
    """J6: objCand × classCand where range(obj) ~ class (equal or related
    through the closure), extended by compatible dataCands — two broadcast
    joins, grouped by the source-element key columns."""
    if obj_cands is None or cls_cands is None:
        return None
    c = F.broadcast(closure.select("node", "anc"))
    o = obj_cands.select(*key_cols, F.col("tgt").alias("obj_cand"), F.col("range").alias("obj_range"))
    k = cls_cands.select(*key_cols, F.col("tgt").alias("cls_cand"))
    pairs = o.join(k, key_cols)
    rel_up = pairs.join(c, (pairs["obj_range"] == c["node"]) & (pairs["cls_cand"] == c["anc"]), "left_semi")
    rel_dn = pairs.join(c, (pairs["cls_cand"] == c["node"]) & (pairs["obj_range"] == c["anc"]), "left_semi")
    eq = pairs.filter(F.col("obj_range") == F.col("cls_cand"))
    compat = eq.unionByName(rel_up).unionByName(rel_dn).dropDuplicates()
    if data_cands is None:
        return compat.withColumn("data_cand", F.lit(None).cast("string"))
    d = data_cands.select(*key_cols, F.col("tgt").alias("data_cand"), F.col("domain").alias("dp_domain"))
    joined = compat.join(d, key_cols, "left")
    # dp_domain ~ cls_cand through the closure (ancestor OR descendant),
    # matching classUsesDataProps / the find_nary_paths_py twin — not bare
    # equality (the round-1 divergence flagged in ADVICE.md)
    eq_or_null = joined.filter(
        F.col("data_cand").isNull() | F.col("dp_domain").isNull() | (F.col("dp_domain") == F.col("cls_cand"))
    )
    dom_up = joined.join(
        c, (joined["dp_domain"] == c["node"]) & (joined["cls_cand"] == c["anc"]), "left_semi"
    )
    dom_dn = joined.join(
        c, (joined["cls_cand"] == c["node"]) & (joined["dp_domain"] == c["anc"]), "left_semi"
    )
    return eq_or_null.unionByName(dom_up).unionByName(dom_dn).dropDuplicates()


# ---------------------------------------------------------------------------
# G5 hierarchy collapse — exact reference logic over vocabulary-scale rows
# ---------------------------------------------------------------------------


def find_hierarchical_relations(
    tbox: TBox, candidates: set[str], depth_thrs: int = 2
) -> dict[frozenset, tuple[str, int]]:
    """MappingSelection.java:530-565: group candidates by shared ancestors
    within ``depth_thrs``; per child-set keep the closest common ancestor;
    drop groups that are not each member's largest group."""
    common: dict[str, tuple[set[str], int]] = {}
    for cand in candidates:
        for anc, depth in ancestor_closure_bfs(tbox.subclass_of, cand, include_self=True).items():
            if anc in common:
                children, cur = common[anc]
                upd = 0 if (cur == 0 or depth == 0) else max(cur, depth)
                if upd <= depth_thrs:
                    children.add(cand)
                    common[anc] = (children, upd)
            elif depth <= depth_thrs:
                common[anc] = ({cand}, depth)

    hierarchies: dict[frozenset, tuple[str, int]] = {}
    group_size = {c: 1 for c in candidates}
    for anc, (children, depth) in common.items():
        key = frozenset(children)
        if key not in hierarchies or hierarchies[key][1] > depth:
            hierarchies[key] = (anc, depth)
        for c in children:
            group_size[c] = max(group_size[c], len(children))
    return {
        grp: v
        for grp, v in hierarchies.items()
        if all(group_size[c] == len(grp) for c in grp)
    }


def consider_hierarchies(
    tbox: TBox, cands: list[dict], depth_thrs: int = 2
) -> list[dict]:
    """G5 (MappingSelection.java:475-504): per hierarchical group emit one
    row — transfer target per specialize/generalize, scores = group max,
    ranks = group min. ``cands`` rows need keys tgt/pj/bes/pj_rank."""
    by_tgt = {c["tgt"]: c for c in cands}
    out: list[dict] = []
    for grp, (anc, depth) in find_hierarchical_relations(
        tbox, set(by_tgt), depth_thrs
    ).items():
        rows = [by_tgt[t] for t in grp]
        if len(grp) > 1:
            trfs = (
                _specialize(anc, grp, by_tgt)
                if depth == 0
                else _generalize(anc, [by_tgt[t] for t in grp])
            )
        else:
            trfs = next(iter(grp))
        out.append(
            {
                "tgt": trfs,
                "pj": max(r["pj"] for r in rows),
                "bes": max(r["bes"] for r in rows),
                "pj_rank": min(r["pj_rank"] for r in rows),
            }
        )
    return out


def _specialize(anc: str, group: frozenset, by_tgt: dict[str, dict]) -> str:
    """ISA group: a descendant at least as good as the ancestor wins, else
    the ancestor (MappingSelection.java:569-581)."""
    if anc not in by_tgt:
        return _generalize(anc, [by_tgt[t] for t in group])
    a = by_tgt[anc]
    tops = [
        r
        for t, r in by_tgt.items()
        if t in group and t != anc and r["pj_rank"] <= a["pj_rank"] and r["pj"] >= a["pj"]
    ]
    return _generalize(anc, tops) if tops else anc


def _generalize(anc: str, rows: list[dict]) -> str:
    """Sibling group: unique best (min rank AND max PJ) or the ancestor
    (MappingSelection.java:584-597)."""
    if not rows:
        return anc
    min_rank = min(r["pj_rank"] for r in rows)
    max_pj = max(r["pj"] for r in rows)
    tops = [r for r in rows if r["pj_rank"] <= min_rank and r["pj"] >= max_pj]
    return tops[0]["tgt"] if len(tops) == 1 else anc


# ---------------------------------------------------------------------------
# The complete D-stage per-element decision procedure
# (MappingSelection.java:134-470) as exact pure functions. Candidate tables
# are per-schema-element and vocabulary-scale, so this runs driver-side on
# lists of dicts {tgt, bes, pj, pj_rank} (+ optional pj_perc / range);
# the DataFrame forms above cover the row-scale pieces.
# ---------------------------------------------------------------------------


def select_table_optimal(cands: list[dict], bes_high=0.85, bes_low=0.6, pj_high=0.5):
    """selectTableOptimal (:140-150): F4 threshold, rows at min PJRank, then
    max PJPerc; first surviving candidate in input order."""
    kept = [
        c for c in cands
        if c["bes"] >= bes_high or (c["bes"] >= bes_low and c["pj"] >= pj_high)
    ]
    if not kept:
        return None
    min_rank = min(c["pj_rank"] for c in kept)
    kept = [c for c in kept if c["pj_rank"] <= min_rank]
    max_perc = max(c.get("pj_perc", 0.0) for c in kept)
    kept = [c for c in kept if c.get("pj_perc", 0.0) >= max_perc]
    return kept[0]["tgt"]


def select_optimal(cands: list[dict], filter_set=None, allow_union: bool = False):
    """selectOptimal (:217-227): restrict to filter, keep min PJRank rows,
    then (unless a union is allowed) max BES; a unique survivor is a string,
    several are a frozenset."""
    rows = [c for c in cands if filter_set is None or c["tgt"] in filter_set]
    if not rows:
        return None
    min_rank = min(c["pj_rank"] for c in rows)
    rows = [c for c in rows if c["pj_rank"] <= min_rank]
    if len(rows) > 1 and not allow_union:
        max_bes = max(c["bes"] for c in rows)
        rows = [c for c in rows if c["bes"] >= max_bes]
    return rows[0]["tgt"] if len(rows) == 1 else frozenset(c["tgt"] for c in rows)


def class_uses_data_props(
    tbox: TBox, cls: str, data_cands: list[dict], missing_ok: bool
) -> set[str]:
    """Data candidates whose inferred domain is compatible with ``cls``."""
    return {
        d["tgt"]
        for d in data_cands
        if are_compatible(tbox, tbox.prop_domain.get(d["tgt"]), cls, missing_ok)
    }


def filter_obj_cands_py(tbox: TBox, table_class, obj_cands: list[dict]) -> list[dict]:
    """filterObjMap (:301-313): drop candidates whose domain exists while no
    table class was chosen, or whose domain is incompatible with it."""
    out = []
    for c in obj_cands:
        domain = tbox.prop_domain.get(c["tgt"])
        if table_class is None and domain is not None:
            continue
        if not are_compatible(tbox, domain, table_class, missing_ok=True):
            continue
        out.append(c)
    return out


def filter_data_cands_py(tbox: TBox, po_range, data_cands: list[dict]) -> list[dict]:
    """filterDataMap (:315-340) via the datatype families."""
    return [
        c for c in data_cands
        if data_range_compatible(tbox.prop_range.get(c["tgt"]), po_range)
    ]


def find_nary_paths_py(
    tbox: TBox,
    obj_cands: list[dict] | None,
    cls_cands: list[dict] | None,
    data_cands: list[dict] | None,
) -> list[tuple[str, str, str]]:
    """findNaryPatterns (:351-389): (obj, cls, data) rows; '' marks an
    absent member, exactly as the reference's placeholder."""
    paths: list[tuple[str, str, str]] = []
    cls_compatible_data: dict[str, set[str]] = {}
    if cls_cands:
        for k in cls_cands:
            compat = (
                class_uses_data_props(tbox, k["tgt"], data_cands, False)
                if data_cands
                else {""}
            )
            cls_compatible_data[k["tgt"]] = compat or {""}
    if obj_cands and cls_cands:
        for o in obj_cands:
            rng = tbox.prop_range.get(o["tgt"])
            for k in cls_cands:
                if are_compatible(tbox, rng, k["tgt"], missing_ok=False):
                    for d in cls_compatible_data[k["tgt"]]:
                        paths.append((o["tgt"], k["tgt"], d))
    used_cls = {c for _, c, _ in paths}
    for k_tgt, compat in cls_compatible_data.items():
        if compat and k_tgt not in used_cls:
            for d in compat:
                if d != "":
                    paths.append(("", k_tgt, d))
    return paths


def _find_tops(col_values: set[str], cands: list[dict] | None) -> set[str]:
    if not cands:
        return set()
    rows = [c for c in cands if c["tgt"] in col_values]
    if not rows:
        return set()
    min_rank = min(c["pj_rank"] for c in rows)
    return {c["tgt"] for c in rows if c["pj_rank"] <= min_rank}


def select_from_nary_paths(
    tbox: TBox,
    paths: list[tuple[str, str, str]],
    obj_cands: list[dict] | None,
    cls_cands: list[dict] | None,
    data_cands: list[dict] | None,
):
    """selectFromNaryPaths (:389-470): sum-of-PJRank argmin over paths,
    merged with per-element tops; ambiguity on both sides rejects.

    DELIBERATE deviation from the reference binary: class-only ('') paths
    score ``2³¹−1 + clsRank`` here in unbounded Python ints, so they always
    LOSE the argmin to any obj path. The reference's ``Integer.MAX_VALUE +
    PJRank`` overflows negative in Java, making class-only paths WIN
    whenever both kinds coexist — an int-overflow artifact contradicting
    the sentinel's intent ("effectively infinite cost"), not a designed
    preference. We keep the non-overflow semantics and document it."""
    obj_by = {c["tgt"]: c for c in (obj_cands or [])}
    obj_top = _find_tops({o for o, _, _ in paths}, obj_cands)
    cls_top = _find_tops({c for _, c, _ in paths}, cls_cands)
    big = 2**31 - 1
    sums = [
        (big if o == "" else obj_by[o]["pj_rank"])
        + next(k["pj_rank"] for k in cls_cands if k["tgt"] == c)
        for (o, c, _) in paths
    ]
    min_sum = min(sums)
    top_pairs = [p for p, s in zip(paths, sums) if s <= min_sum]
    obj_top |= {o for o, _, _ in top_pairs}
    cls_top |= {c for _, c, _ in top_pairs}
    obj_top.discard("")
    if len(obj_top) > 1 and len(cls_top) > 1:
        return None, None, None
    obj_optimal = next(iter(obj_top)) if len(obj_top) == 1 else None
    cls_optimal = next(iter(cls_top)) if len(cls_top) == 1 else None
    if obj_optimal is not None and len(cls_top) > 0:
        cls_optimal = select_optimal(
            cls_cands, {c for o, c, _ in paths if o == obj_optimal}, False
        )
    elif len(obj_top) > 0 and cls_optimal is not None:
        obj_optimal = select_optimal(
            obj_cands, {o for o, c, _ in paths if c == cls_optimal}, False
        )
    data_optimal = None
    if data_cands:
        data_optimal = _select_data_from_paths(
            tbox, paths, data_cands, obj_optimal, cls_optimal
        )
    return obj_optimal, cls_optimal, data_optimal


def _select_data_from_paths(tbox, paths, data_cands, obj_optimal, cls_optimal):
    """selectDataOptimal over n-ary paths (:440-462)."""
    compatible_domain = None
    dc: set[str] = {""}
    if cls_optimal is not None and isinstance(cls_optimal, str):
        compatible_domain = cls_optimal
        opt = [p for p in paths if p[1] == cls_optimal]
        if obj_optimal is not None:
            opt = [p for p in opt if p[0] == obj_optimal]
        dc = {d for _, _, d in opt}
    elif obj_optimal is not None and isinstance(obj_optimal, str):
        compatible_domain = tbox.prop_range.get(obj_optimal)
    dc.discard("")
    if not dc:
        dc = (
            class_uses_data_props(tbox, compatible_domain, data_cands, True)
            if compatible_domain is not None
            else {c["tgt"] for c in data_cands}
        )
    return select_optimal(data_cands, dc, False) if dc else None


def select_from_incompatible_paths(
    tbox: TBox,
    table_optimal,
    obj_cands: list[dict] | None,
    cls_cands: list[dict] | None,
    data_cands: list[dict] | None,
):
    """selectFromIncompatiblePaths (:232-300): BES/PJ voting between the obj
    and class winners when no n-ary path exists."""
    obj_optimal = cls_optimal = data_optimal = None
    compatible_domain: list[str] = []
    if obj_cands and cls_cands:
        obj_optimal = select_optimal(obj_cands, None, False)
        cls_optimal = select_optimal(cls_cands, None, False)
        obj_row = next(c for c in obj_cands if c["tgt"] == obj_optimal) if isinstance(obj_optimal, str) else None
        cls_row = next(c for c in cls_cands if c["tgt"] == cls_optimal) if isinstance(cls_optimal, str) else None
        if obj_row and cls_row:
            obj_votes = cls_votes = 0
            for crit in ("bes", "pj"):
                mx = max(obj_row[crit], cls_row[crit])
                obj_votes += 1 if obj_row[crit] == mx else 0
                cls_votes += 1 if cls_row[crit] == mx else 0
            rng = tbox.prop_range.get(obj_optimal)
            compatible = are_compatible(tbox, rng, cls_optimal, missing_ok=True)
            if obj_votes != cls_votes and not compatible:
                if obj_votes > cls_votes:
                    cls_optimal = None
                else:
                    obj_optimal = None
                    cls_optimal = select_optimal(cls_cands, None, True)
    elif obj_cands:
        obj_optimal = select_optimal(obj_cands, None, False)
    elif cls_cands:
        cls_optimal = select_optimal(cls_cands, None, True)

    if data_cands:
        if cls_optimal is not None:
            compatible_domain.extend(
                [cls_optimal] if isinstance(cls_optimal, str) else sorted(cls_optimal)
            )
        elif obj_optimal is not None and isinstance(obj_optimal, str):
            rng = tbox.prop_range.get(obj_optimal)
            if rng is not None:
                compatible_domain.append(rng)
        elif table_optimal is not None:
            compatible_domain.append(table_optimal)
        if compatible_domain:
            dc = class_uses_data_props(tbox, compatible_domain[0], data_cands, True)
            for cd in compatible_domain[1:]:
                dc &= class_uses_data_props(tbox, cd, data_cands, True)
        else:
            dc = {c["tgt"] for c in data_cands}
        data_optimal = select_optimal(data_cands, dc, False)
    return obj_optimal, cls_optimal, data_optimal


def select_table_column_optimal(
    tbox: TBox,
    table_optimal,
    obj_cands: list[dict] | None,
    cls_cands: list[dict] | None,
    data_cands: list[dict] | None,
    po_data_range: str | None = None,
    pj_reject: float = 0.2,
    bes_reject: float = 0.3,
    depth_thrs: int = 2,
    reject_property_maps: bool = False,
):
    """The complete per-column decision (selectTableColumnOptimal,
    MappingSelection.java:175-212): reject filters → domain/datatype
    compatibility → hierarchy collapse → n-ary path selection, falling
    back to the voting branch."""

    def reject(cands):
        return [
            c for c in cands if c["pj"] >= pj_reject and c["bes"] >= bes_reject
        ] if cands else cands

    if obj_cands:
        if reject_property_maps:
            obj_cands = None
        else:
            obj_cands = filter_obj_cands_py(tbox, table_optimal, reject(obj_cands))
            if obj_cands and len(obj_cands) > 1:
                obj_cands = consider_hierarchies(tbox, obj_cands, depth_thrs)
    if cls_cands:
        cls_cands = reject(cls_cands)
        if cls_cands and len(cls_cands) > 1:
            cls_cands = consider_hierarchies(tbox, cls_cands, depth_thrs)
    if data_cands:
        if reject_property_maps:
            data_cands = None
        else:
            data_cands = filter_data_cands_py(tbox, po_data_range, reject(data_cands))

    paths = find_nary_paths_py(tbox, obj_cands or None, cls_cands or None, data_cands or None)
    if paths:
        return select_from_nary_paths(tbox, paths, obj_cands, cls_cands, data_cands)
    return select_from_incompatible_paths(
        tbox, table_optimal, obj_cands or None, cls_cands or None, data_cands or None
    )


# ---------------------------------------------------------------------------
# X13: restriction-aware table-class label composition
# ---------------------------------------------------------------------------


def compose_table_class_annotations(
    annots: DataFrame,
    subclass: DataFrame,
    restrictions: DataFrame,
    labels: DataFrame,
    table_class: str = "TableClass",
    attribute_class: str = "AttributeClass",
) -> DataFrame:
    """X13 (``extractBertMapMappings.py:119-143``): for every property
    element, prepend the label of each OWNING table class to each of the
    element's annotations (``f"{tableClassLabel} {resourceLabel}"``),
    union'd with the originals.

    Ownership is the reference SPARQL union — the table class must be a
    subclass of ``TableClass`` with a label, and
    (a) has a restriction ``onProperty`` the element, or
    (b) has a restriction ``someValuesFrom`` the element, or
    (c) an attribute class (subclass of ``AttributeClass``) has a
        restriction ``onProperty`` the element AND the table class has a
        restriction ``someValuesFrom`` that attribute class.

    Inputs: ``annots(element, annotation)`` (already lowercased, as the
    reference lowercases at :118), ``subclass(child, parent)``,
    ``restrictions(cls, kind, target)`` with kind ∈ {onProperty,
    someValuesFrom}, ``labels(cls, label)``. All four are TBox-scale, so
    every join is broadcast — the row-scale side never shuffles."""
    tcs = subclass.filter(F.col("parent") == table_class).select(
        F.col("child").alias("cls")
    )
    acs = subclass.filter(F.col("parent") == attribute_class).select(
        F.col("child").alias("acls")
    )
    r_on = restrictions.filter(F.col("kind") == "onProperty").select("cls", "target")
    r_some = restrictions.filter(F.col("kind") == "someValuesFrom").select("cls", "target")

    own_a = tcs.join(r_on, "cls").select("cls", F.col("target").alias("element"))
    own_b = tcs.join(r_some, "cls").select("cls", F.col("target").alias("element"))
    ac_props = acs.join(
        r_on.select(F.col("cls").alias("acls"), "target"), "acls"
    ).select("acls", F.col("target").alias("element"))
    own_c = (
        tcs.join(r_some.select("cls", F.col("target").alias("acls")), "cls")
        .join(ac_props, "acls")
        .select("cls", "element")
    )
    owners = own_a.unionByName(own_b).unionByName(own_c).dropDuplicates()
    owner_labels = owners.join(F.broadcast(labels), "cls").select(
        "element", F.lower(F.col("label")).alias("tc_label")
    )
    composed = annots.join(F.broadcast(owner_labels), "element").select(
        "element",
        F.concat(F.col("tc_label"), F.lit(" "), F.col("annotation")).alias("annotation"),
    )
    return annots.unionByName(composed)


# ---------------------------------------------------------------------------
# J9/A7: PII flagging
# ---------------------------------------------------------------------------


def flag_pii(
    matches: DataFrame, closure: DataFrame, dpv_dict: dict[str, str], spark: SparkSession
) -> DataFrame:
    """matches(element, do_class) → self+ancestors → broadcast DPV dict →
    grouped PII classes per element (PIIidentification.java:158-256)."""
    dpv = F.broadcast(
        driver_frame(spark, sorted(dpv_dict.items()), "do_class string, pii_class string")
    )
    c = F.broadcast(closure.select("node", "anc"))
    self_rows = matches.select("element", F.col("do_class").alias("hit"))
    anc_rows = matches.join(c, matches["do_class"] == c["node"]).select(
        "element", F.col("anc").alias("hit")
    )
    hits = self_rows.unionByName(anc_rows).join(
        dpv, F.col("hit") == dpv["do_class"]
    )
    return (
        hits.groupBy("element")
        .agg(F.array_sort(F.collect_set("pii_class")).alias("pii_classes"))
        .withColumn("is_personal", F.size("pii_classes") > 0)
    )


def transitive_reduction(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Transitive REDUCTION of a DAG — the ontology-maintenance inverse
    of :func:`ancestor_closure_df`: drop every subclass edge already
    implied by a longer path (u→v is redundant iff some direct child
    w of u reaches v), leaving the minimal edge set with the same
    closure. Imported ontologies accumulate exactly these shortcuts
    (asserted ancestor links that later imports make derivable — the
    FIBO-style hierarchy noise ``collapse`` handles at the CLASS level,
    handled here at the EDGE level; on a DAG the reduction is unique).

    ``edges(child, parent)``. Returns the kept (child, parent) rows.
    Scale shape: one closure build (⌈log₂ D⌉ pointer-doubling rounds),
    then a single edges⋈edges⋈closure redundancy probe expressed as a
    LEFT ANTI join — no per-edge path search, everything equi-keyed.
    """
    closure = ancestor_closure_df(edges, max_iters=max_iters)
    hop = edges.select(F.col("child").alias("u"), F.col("parent").alias("w"))
    tail = closure.select(F.col("node").alias("w"), F.col("anc").alias("v"))
    redundant = (
        hop.join(tail, "w")
        .select(F.col("u").alias("child"), F.col("v").alias("parent"))
        .distinct()
    )
    return edges.select("child", "parent").join(
        redundant, ["child", "parent"], "left_anti"
    )
