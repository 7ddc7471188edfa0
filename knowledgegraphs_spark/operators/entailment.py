"""Forward-chaining entailment materialization over the triple table:
RDFS and OWL 2 RL as ONE stratified pass.

The reference delegates inference to GraphDB — its repository config asks
for a ruleset (``rdfs``, or ``owl-horst``/``owl2-rl`` on top of it) and
every uploaded graph is implicitly closed under it (E_CreateKG/GraphDB.java
creates the repo, queries then see entailed triples). This engine makes
that explicit and distributed: one stratified pass materializes the
entailment so downstream SPARQL/BGP queries (operators/sparql.py) read
inferred triples at scan speed instead of paying inference per query.

Rules (names from the W3C RDFS entailment rules / OWL 2 RL tables), in
stratum order; the OWL-only strata are marked:

- ``scm-spo``  subPropertyOf transitivity   (closure, pointer doubling;
  OWL: ``scm-eqp1/2`` feed ``owl:equivalentProperty`` in both directions)
- ``prp-spo1`` (s p o), (p sub+ q) -> (s q o)
- OWL ``prp-inv``  (p inverseOf q), (s p o) -> (o q s), and the mirror
- OWL ``prp-symp`` (p type SymmetricProperty), (s p o) -> (o p s)
- OWL ``prp-trp``  (p type TransitiveProperty): per-predicate closure
  over the instance edges of p
- ``prp-dom``  (s p o), (p domain c) -> (s rdf:type c)
- ``prp-rng``  (s p o), (p range  c) -> (o rdf:type c)
- ``scm-sco``  subClassOf transitivity      (closure, pointer doubling;
  OWL: ``scm-eqc1/2`` feed ``owl:equivalentClass`` in both directions)
- ``cax-sco``  (x rdf:type c), (c sub+ d) -> (x rdf:type d)
- OWL ``prp-fp`` / ``prp-ifp``: functional identities as ``owl:sameAs``

The RDFS ruleset IS the OWL 2 RL pass with its OWL strata switched off:
no TBox collect, no inverse / symmetric / transitive / functional
strata, no OWL predicates in the surface-form vote, no pinned ``g1`` —
so its plan is the plain rho-df pipeline. ``rdfs_materialize`` and
``owl_rl_materialize`` are thin calls into that one closure, and
``rdfs_materialize_delta`` / ``owl_rl_materialize_delta`` into one
semi-naive increment.

Stratification makes one pass complete: property closure first, then
``prp-spo1`` (so a subproperty of ``rdfs:subClassOf``/``domain``/``range``
contributes schema triples before those are read), then the direction
and transitive rules, then domain/range, then class closure, then
``cax-sco`` over every type triple base or derived, then the functional
identities. Each stratum reads every earlier stratum's output. The only
derivations a single pass cannot reach are the pathological meta-loops
(a *derived* ``rdfs:subPropertyOf`` triple, i.e. a subproperty OF
``rdfs:subPropertyOf`` itself; rules re-deriving schema from instance
output) — the same finite fragment every production materializer
(GraphDB's rulesets included) evaluates; documented here rather than
hidden behind a fixpoint loop that would re-scan the instance data for a
case real ontologies don't contain.

Scale shape (the part that matters at 100 TB): the schema side of every
rule — the closures, the domain/range maps, the OWL pair axioms — is
TBox-sized (thousands of rows when the instance side is billions), so
each rule is a **broadcast hash join against the instance scan**: zero
instance-side shuffle; OWL property-class membership compiles to
``isin`` literal filters. The instance-scale work is ``prp-trp``
(pointer doubling over the transitive predicates' edges only) and the
functional groupBys (map-side combinable). The one full-width shuffle is
the final set-semantics dedup, and the store-side entry point avoids
even that by handing the derived triples to the store's bucket-pruned
set-semantic append, the one SPARQL Update inserts use
(``triples.append_triples``): untouched buckets are never read or
written.

Reference parity anchors: GraphDB-side inference E_CreateKG/GraphDB.java
(repo config ruleset), the ancestor walk util/Ontology.java:174-209
(the ``rdfs:subClassOf*`` closure this materializes), predicate
vocabulary Resources of the POextractor package.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..session import driver_frame
from .ontology import ancestor_closure_df

__all__ = [
    "rdfs_materialize",
    "owl_rl_materialize",
    "rdfs_materialize_delta",
    "owl_rl_materialize_delta",
    "materialize_store",
    "materialize_store_delta",
    "owl_sameas_smush",
]

_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_OWL = "http://www.w3.org/2002/07/owl#"

# each vocabulary term in both surface forms the triple table uses:
# compact (the engine's kg-emission convention) and full IRI (Turtle /
# RDF/XML sources with expand_prefixes=True)
_FORMS = {
    "type": ("rdf:type", _RDF + "type"),
    "subClassOf": ("rdfs:subClassOf", _RDFS + "subClassOf"),
    "subPropertyOf": ("rdfs:subPropertyOf", _RDFS + "subPropertyOf"),
    "domain": ("rdfs:domain", _RDFS + "domain"),
    "range": ("rdfs:range", _RDFS + "range"),
}
_VOCAB_PREDS = [v for forms in _FORMS.values() for v in forms]
_OWL_FORMS = {
    "inverseOf": ("owl:inverseOf", _OWL + "inverseOf"),
    "equivalentProperty": ("owl:equivalentProperty", _OWL + "equivalentProperty"),
    "equivalentClass": ("owl:equivalentClass", _OWL + "equivalentClass"),
    "SymmetricProperty": ("owl:SymmetricProperty", _OWL + "SymmetricProperty"),
    "TransitiveProperty": ("owl:TransitiveProperty", _OWL + "TransitiveProperty"),
    "FunctionalProperty": ("owl:FunctionalProperty", _OWL + "FunctionalProperty"),
    "InverseFunctionalProperty": (
        "owl:InverseFunctionalProperty",
        _OWL + "InverseFunctionalProperty",
    ),
}
_SAMEAS = ("owl:sameAs", _OWL + "sameAs")

# the OWL TBox: pair axioms in predicate position, property classes in the
# object position of a type declaration
_OWL_PAIR_TERMS = ("inverseOf", "equivalentProperty", "equivalentClass")
_OWL_PROP_CLASSES = (
    "SymmetricProperty",
    "TransitiveProperty",
    "FunctionalProperty",
    "InverseFunctionalProperty",
)
_OWL_PAIR_PREDS = [v for k in _OWL_PAIR_TERMS for v in _OWL_FORMS[k]]
_OWL_CLASS_OBJS = [v for k in _OWL_PROP_CLASSES for v in _OWL_FORMS[k]]
_RDFS_SCHEMA_PREDS = [
    v for k in ("subClassOf", "subPropertyOf", "domain", "range") for v in _FORMS[k]
]

# separator for predicate-scoped closure node keys (prp-trp): control char
# that cannot appear in an IRI per RFC 3987, so closures of different
# transitive predicates can share one pointer-doubling pass without mixing
_TRP_SEP = "\x1f"


def _emit_form(triples: DataFrame, extra_preds: list | tuple = ()) -> int:
    """0 = compact (``rdf:type``), 1 = full IRI — whichever convention
    the input's own vocabulary triples use (majority vote over the
    vocabulary predicates actually present; vocabulary-sized collect).
    Derived triples are emitted in the same convention so they join and
    dedupe against the base graph instead of forking a parallel
    vocabulary. ``extra_preds`` widens the vote (the OWL 2 RL ruleset adds
    its predicate-position vocabulary: inverseOf, equivalent*, sameAs)."""
    counts = (
        triples.filter(F.col("pred").isin(_VOCAB_PREDS + list(extra_preds)))
        .groupBy("pred")
        .count()
        .collect()
    )
    full = sum(r["count"] for r in counts if r["pred"].startswith("http"))
    compact = sum(r["count"] for r in counts if not r["pred"].startswith("http"))
    return 1 if full > compact else 0


def _edges(triples: DataFrame, term: str) -> DataFrame:
    """(child, parent) pairs under either surface form of ``term``."""
    return triples.filter(F.col("pred").isin(list(_FORMS[term]))).select(
        F.col("subj").alias("child"), F.col("obj").alias("parent")
    )


def _owl_tbox(triples: DataFrame) -> dict[str, list]:
    """The OWL axioms of ``triples`` in ONE TBox-sized collect: the
    ``(p, q)`` pairs of each pair axiom (``_OWL_PAIR_TERMS``) and the
    sorted properties declared into each property class
    (``_OWL_PROP_CLASSES``). One filtered scan instead of one per term
    (the type-row side stays bounded because it is filtered on the OWL
    class vocabulary in the object position, never all rdf:type rows);
    collected to the driver — the ``_emit_form`` scale judgment — so
    class membership compiles to ``isin`` literal filters, not joins."""
    rows = (
        triples.filter(
            F.col("pred").isin(_OWL_PAIR_PREDS)
            | (F.col("pred").isin(list(_FORMS["type"])) & F.col("obj").isin(_OWL_CLASS_OBJS))
        )
        .select("subj", "pred", "obj")
        .distinct()
        .collect()
    )
    tbox: dict[str, list] = {
        term: [(r["subj"], r["obj"]) for r in rows if r["pred"] in _OWL_FORMS[term]]
        for term in _OWL_PAIR_TERMS
    }
    for cls in _OWL_PROP_CLASSES:
        tbox[cls] = sorted(
            {r["subj"] for r in rows if r["pred"] in _FORMS["type"] and r["obj"] in _OWL_FORMS[cls]}
        )
    return tbox


def _both_dirs(pairs: DataFrame) -> DataFrame:
    """(child, parent) edges of an equivalence, in both directions."""
    return pairs.select(F.col("p").alias("child"), F.col("q").alias("parent")).unionByName(
        pairs.select(F.col("q").alias("child"), F.col("p").alias("parent"))
    )


def _closure(
    triples: DataFrame,
    owl: bool,
    include_base: bool,
    broadcast_schema: bool,
    anti_join_base: bool,
    max_trans_iters: int = 50,
    tbox: dict | None = None,
) -> DataFrame:
    """The stratified closure of ``triples`` under the RDFS ruleset
    (``owl=False``) or the OWL 2 RL one — see the module docstring for
    the strata. ``tbox`` hands in an already-collected :func:`_owl_tbox`
    of the input (the semi-naive increment has one)."""
    spo = ["subj", "pred", "obj"]
    base = triples.select(*spo)
    form = _emit_form(base, _OWL_PAIR_PREDS + list(_SAMEAS) if owl else ())
    t_type, t_sco, t_spo = (_FORMS[k][form] for k in ("type", "subClassOf", "subPropertyOf"))

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_schema else df

    spo_edges = _edges(base, "subPropertyOf")
    if owl:
        tbox = _owl_tbox(base) if tbox is None else tbox
        eqp, eqc, inv = (
            driver_frame(base.sparkSession, tbox[k], "p string, q string")
            for k in ("equivalentProperty", "equivalentClass", "inverseOf")
        )
        spo_edges = spo_edges.unionByName(_both_dirs(eqp))

    # -- stratum 1: property hierarchy, then prp-spo1 ---------------------
    spo_cl = ancestor_closure_df(spo_edges).localCheckpoint(eager=True)
    derived_spo1 = base.join(_b(spo_cl), base["pred"] == spo_cl["node"]).select(
        "subj", F.col("anc").alias("pred"), "obj"
    )
    # schema statements derived through a subproperty of a vocabulary term
    # (e.g. ex:narrowerThan <= rdfs:subClassOf) must feed later strata,
    # so the graph the remaining rules read is base + spo1 derivations
    g1 = base.unionByName(derived_spo1)
    derived = [derived_spo1]
    g = g1  # the instance graph every later stratum reads

    if owl:
        # g1 is read by every later stratum (direction rules, transitive
        # edges, domain/range, class typing, functional groupings) and its
        # lineage embeds the full input scan; pinning it once keeps the final
        # plan from replicating that scan per branch (~6x) and keeps the
        # analyzed plan driver-tractable when the input is itself a deep
        # union.  One instance-sized copy on executor storage, spill-backed.
        g = g1 = g1.localCheckpoint(eager=True)

        # -- stratum 2: direction rules (prp-inv both mirrors, prp-symp) --
        inv_map = inv.unionByName(inv.select(F.col("q").alias("p"), F.col("p").alias("q")))
        derived.append(
            g1.join(_b(inv_map), g1["pred"] == inv_map["p"]).select(
                F.col("obj").alias("subj"), F.col("q").alias("pred"), F.col("subj").alias("obj")
            )
        )
        if tbox["SymmetricProperty"]:
            derived.append(
                g1.filter(F.col("pred").isin(tbox["SymmetricProperty"])).select(
                    F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
                )
            )
        g = reduce(DataFrame.unionByName, derived[1:], g1)

        # -- stratum 3: prp-trp — one pointer-doubling pass over ALL
        # transitive predicates' instance edges, node keys scoped by
        # predicate ------------------------------------------------------
        if tbox["TransitiveProperty"]:
            t_edges = g.filter(F.col("pred").isin(tbox["TransitiveProperty"])).select(
                F.concat("pred", F.lit(_TRP_SEP), "subj").alias("child"),
                F.concat("pred", F.lit(_TRP_SEP), "obj").alias("parent"),
            )
            t_cl = ancestor_closure_df(t_edges, max_iters=max_trans_iters)
            # split on the FIRST separator only: the predicate (an IRI)
            # cannot contain it, while an object-position literal
            # theoretically could
            _node_rest = "substring({c}, length(substring_index({c}, chr(31), 1)) + 2)"
            # the later strata and the final union each re-reference this
            # relation; without a checkpoint the whole O(log depth)
            # pointer-doubling job DAG re-executes once per consumer (~5x).
            # The closure is already materialized round-by-round inside
            # ancestor_closure_df, so pinning adds no asymptotic memory.
            derived_trp = t_cl.select(
                F.expr(_node_rest.format(c="node")).alias("subj"),
                F.substring_index("node", _TRP_SEP, 1).alias("pred"),
                F.expr(_node_rest.format(c="anc")).alias("obj"),
            ).localCheckpoint(eager=True)
            derived.append(derived_trp)
            g = g.unionByName(derived_trp)

    # -- domain / range over every instance edge derived so far ----------
    dom = _edges(g1, "domain").select(F.col("child").alias("p"), F.col("parent").alias("c"))
    rng = _edges(g1, "range").select(F.col("child").alias("p"), F.col("parent").alias("c"))
    derived_dom = g.join(_b(dom), g["pred"] == dom["p"]).select(
        "subj", F.lit(t_type).alias("pred"), F.col("c").alias("obj")
    )
    derived_rng = g.join(_b(rng), g["pred"] == rng["p"]).select(
        F.col("obj").alias("subj"), F.lit(t_type).alias("pred"), F.col("c").alias("obj")
    )

    # -- class hierarchy, then cax-sco -----------------------------------
    sco_edges = _edges(g1, "subClassOf")
    if owl:
        sco_edges = sco_edges.unionByName(_both_dirs(eqc))
    sco_cl = ancestor_closure_df(sco_edges).localCheckpoint(eager=True)
    types0 = (
        g.filter(F.col("pred").isin(list(_FORMS["type"])))
        .select(*spo)
        .unionByName(derived_dom)
        .unionByName(derived_rng)
    )
    derived_cax = types0.join(_b(sco_cl), types0["obj"] == sco_cl["node"]).select(
        "subj", F.lit(t_type).alias("pred"), F.col("anc").alias("obj")
    )

    # -- schema transitivity output (scm-sco / scm-spo) ------------------
    derived_scm = sco_cl.select(
        F.col("node").alias("subj"), F.lit(t_sco).alias("pred"), F.col("anc").alias("obj")
    ).unionByName(
        spo_cl.select(
            F.col("node").alias("subj"), F.lit(t_spo).alias("pred"), F.col("anc").alias("obj")
        )
    )
    derived += [derived_dom, derived_rng, derived_cax, derived_scm]

    # -- OWL: functional identities (prp-fp / prp-ifp), each group member
    # linked to the group minimum ------------------------------------------
    if owl:
        for cls, keys, member in (
            ("FunctionalProperty", ["subj", "pred"], "obj"),
            ("InverseFunctionalProperty", ["pred", "obj"], "subj"),
        ):
            if tbox[cls]:
                group = g.filter(F.col("pred").isin(tbox[cls]))
                canon = group.groupBy(*keys).agg(F.min(member).alias("canonical"))
                derived.append(
                    group.join(canon, keys)
                    .filter(F.col(member) != F.col("canonical"))
                    .select(
                        F.col(member).alias("subj"),
                        F.lit(_SAMEAS[form]).alias("pred"),
                        F.col("canonical").alias("obj"),
                    )
                )

    out = reduce(DataFrame.unionByName, derived)
    if include_base:
        return base.unionByName(out).dropDuplicates(spo)
    out = out.dropDuplicates(spo)
    # anti_join_base=False skips the full-input anti-join for callers that
    # enforce set semantics themselves (materialize_store's bucket-pruned
    # append anti-joins per touched bucket — the store-wide shuffle here
    # would be paid twice)
    return out.join(base, on=spo, how="left_anti") if anti_join_base else out


def rdfs_materialize(
    triples: DataFrame,
    include_base: bool = True,
    broadcast_schema: bool = True,
    anti_join_base: bool = True,
) -> DataFrame:
    """The RDFS (rho-df) closure of ``triples`` as ``(subj, pred, obj)``.

    ``include_base=False`` returns only the *derived* triples not already
    asserted (the store-side append path wants exactly these).
    ``broadcast_schema`` gates the broadcast hint on the schema-side
    relations — on by default (they are TBox-sized); turn off only for a
    degenerate graph whose schema rivals its instance data, where the
    shuffle join is the safe plan.
    """
    return _closure(triples, False, include_base, broadcast_schema, anti_join_base)


def owl_rl_materialize(
    triples: DataFrame,
    include_base: bool = True,
    broadcast_schema: bool = True,
    max_trans_iters: int = 50,
    anti_join_base: bool = True,
) -> DataFrame:
    """OWL 2 RL property-rule closure of ``triples`` — the rho-df rules of
    :func:`rdfs_materialize` plus the property-axiom fragment GraphDB's
    ``owl-horst``/``owl2-rl`` rulesets add over plain ``rdfs``:

    - ``scm-eqp1/2`` / ``scm-eqc1/2``: ``owl:equivalentProperty`` /
      ``owl:equivalentClass`` feed the sub-property / sub-class closures
      in BOTH directions (and the closure edges are emitted, so an
      equivalence is queryable as two ``rdfs:sub*Of`` triples).
    - ``prp-inv``  (p inverseOf q), (s p o) → (o q s) — and the mirror.
    - ``prp-symp`` (p type SymmetricProperty), (s p o) → (o p s).
    - ``prp-trp``  (p type TransitiveProperty): per-predicate transitive
      closure over the *instance* edges of p (at most
      ``max_trans_iters`` pointer-doubling rounds).
    - ``prp-fp``   (p type FunctionalProperty), (x p y1), (x p y2)
      → y1 sameAs y2; ``prp-ifp`` the subject-side mirror. Emitted as the
      **generating set** — each group member links to the group minimum —
      whose eq-sym/eq-trans closure equals the full pairwise entailment;
      materializing all pairs is the sameAs blow-up
      :func:`owl_sameas_smush` exists to avoid. Feed the result to the
      smusher to apply the identities.

    Each stratum reads every earlier stratum's output, so e.g. an
    inverse-derived edge of a transitive property closes transitively,
    and a triple derived through ``equivalentProperty`` picks up the
    domain typing. The other parameters are :func:`rdfs_materialize`'s.
    """
    return _closure(
        triples, True, include_base, broadcast_schema, anti_join_base, max_trans_iters
    )


def owl_sameas_smush(
    triples: DataFrame,
    keep_links: bool = True,
    broadcast_mapping: bool = True,
    cfg=None,
) -> DataFrame:
    """OWL identity "smushing": the eq-* fragment of OWL 2 RL
    (eq-sym, eq-trans, eq-rep-s, eq-rep-o) applied as canonicalization
    rather than materialization.

    Materializing sameAs entailment literally (every triple copied onto
    every member of every identity cluster) multiplies the store by the
    cluster size — the classic sameAs blow-up. The equivalent queryable
    form is to pick ONE representative per identity cluster and rewrite:
    symmetry+transitivity collapse into connected components over the
    ``owl:sameAs`` edges (the engine's large-star/small-star machinery,
    canonicalize.py — vocabulary-scale clusters take the driver
    union-find twin automatically), eq-rep-s / eq-rep-o become two joins
    of the store against the (alias → canonical) mapping. The canonical
    member is the lexicographic minimum IRI of the cluster —
    deterministic under any partitioning.

    Scale shape: the mapping is sameAs-graph-sized (aliases only, not
    store-sized), broadcast by default (``broadcast_mapping=False``
    falls back to shuffle joins for degenerate identity graphs); the
    rewrite itself is two hash joins over the store scan plus the final
    set-semantics dedup (rewrites can collapse asserted duplicates).

    ``keep_links=True`` keeps one provenance triple
    ``alias sameAs canonical`` per non-canonical alias (the cluster is
    recoverable); ``False`` drops identity triples entirely. Literal
    objects are untouched unless a literal lexically equals an alias
    IRI — RDF strings don't carry a node/literal bit in the 3-column
    projection; callers with the typed store can pre-filter on
    ``is_literal``.

    The reference has no sameAs handling (single-source KG; GraphDB
    would apply owl-rules server-side if configured) — this is the
    engine-side equivalent for the multi-source case its canonicalize
    stage (M_Canonicalize) already solves for SURFACE forms.
    """
    from .canonicalize import connected_components

    spo = ["subj", "pred", "obj"]
    base = triples.select(*spo)
    same = base.filter(F.col("pred").isin(list(_SAMEAS))).localCheckpoint(eager=True)
    rest = base.filter(~F.col("pred").isin(list(_SAMEAS)))
    if same.isEmpty():
        return base

    # majority surface form among the asserted sameAs triples, for the
    # provenance links
    n_full = same.filter(F.col("pred") == _SAMEAS[1]).count()
    link_term = _SAMEAS[1] if n_full * 2 > same.count() else _SAMEAS[0]

    # eq-sym + eq-trans: identity clusters = connected components over
    # xxhash64 node ids (pure function of the IRI — reproducible)
    edge_ids = same.select(F.xxhash64("subj").alias("a"), F.xxhash64("obj").alias("b"))
    comp = connected_components(edge_ids, cfg)
    members = (
        same.select(F.col("subj").alias("iri"))
        .unionByName(same.select(F.col("obj").alias("iri")))
        .dropDuplicates()
        .withColumn("node", F.xxhash64("iri"))
        .join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", "node"))
    )
    canon = members.groupBy("component").agg(F.min("iri").alias("canonical"))
    mapping = (
        members.join(canon, "component")
        .select("iri", "canonical")
        .localCheckpoint(eager=True)
    )
    m = F.broadcast(mapping) if broadcast_mapping else mapping

    # eq-rep-s / eq-rep-o: rewrite both positions through the mapping
    out = (
        rest.join(m.withColumnRenamed("iri", "subj"), "subj", "left")
        .select(
            F.coalesce("canonical", "subj").alias("subj"), "pred", "obj"
        )
        .join(m.withColumnRenamed("iri", "obj"), "obj", "left")
        .select("subj", "pred", F.coalesce("canonical", "obj").alias("obj"))
    )
    if keep_links:
        links = mapping.filter(F.col("iri") != F.col("canonical")).select(
            F.col("iri").alias("subj"),
            F.lit(link_term).alias("pred"),
            F.col("canonical").alias("obj"),
        )
        out = out.unionByName(links)
    return out.dropDuplicates(spo)


# ---------------------------------------------------------------------------
# incremental (semi-naive) entailment: close a DELTA against a closed store
# ---------------------------------------------------------------------------

# ruleset name -> OWL strata on; the one table both store entry points read
_RULESETS = {"rdfs": False, "owl-rl": True}


def _ruleset_owl(ruleset: str, caller: str) -> bool:
    if ruleset not in _RULESETS:
        raise ValueError(f"{caller}: unknown ruleset {ruleset!r} (rdfs | owl-rl)")
    return _RULESETS[ruleset]


def _is_schema(triples: DataFrame, owl: bool) -> DataFrame:
    """The schema-bearing rows of ``triples`` under the given ruleset — a
    delta containing any of these can entail new conclusions over OLD
    instance data, which only a full re-materialization reaches; the
    delta paths refuse and the store wrapper falls back."""
    if not owl:
        return triples.filter(F.col("pred").isin(_RDFS_SCHEMA_PREDS))
    return triples.filter(
        F.col("pred").isin(_RDFS_SCHEMA_PREDS + _OWL_PAIR_PREDS)
        | (F.col("pred").isin(list(_FORMS["type"])) & F.col("obj").isin(_OWL_CLASS_OBJS))
    )


def _require_instance_only(delta: DataFrame, owl: bool, caller: str) -> None:
    if not _is_schema(delta.select("subj", "pred", "obj"), owl).isEmpty():
        raise ValueError(
            f"{caller}: the delta contains schema triples — new schema can "
            "entail conclusions over OLD instance data, which only a full "
            "re-materialization reaches (materialize_store falls back "
            "automatically)"
        )


def _closure_delta(
    store: DataFrame, delta: DataFrame, owl: bool, broadcast_schema: bool
) -> DataFrame:
    """Conclusions entailed by an instance-only ``delta`` against a
    ``store`` already closed under the same ruleset — the semi-naive
    increment, run as :func:`_closure` over ``delta`` + the store's
    TBox-sized schema slice (pinned once: every stratum reads it).

    Every rho-df rule has exactly ONE instance antecedent, so for RDFS
    that is the whole increment: cost O(delta), never O(store). Two OWL 2
    RL families have MULTIPLE instance antecedents — a new edge of a
    transitive predicate can close through OLD edges (prp-trp), and a new
    functional assertion can identify against an OLD one sharing its
    (subject, predicate) group (prp-fp / prp-ifp) — so the OWL increment
    adds the store's **rule-relevant instance slices**: the triples of
    transitive / functional / inverse-functional predicates only (cost
    O(delta + those predicate families)). The OWL axioms are collected
    once from the schema slice and handed to the closure.

    Output may repeat triples the store already holds (pure-old
    combinations re-derive them; the store path's per-bucket anti-join
    drops them — and prp-fp's group minimum may shift to a new member:
    the old links plus the new ones still generate the same identity
    clusters, the documented generating-set semantics).
    """
    spo = ["subj", "pred", "obj"]
    store_spo = store.select(*spo)
    schema = _is_schema(store_spo, owl).localCheckpoint(eager=True)
    inc = delta.select(*spo).unionByName(schema)
    tbox = None
    if owl:
        tbox = _owl_tbox(schema)
        multi = (
            tbox["TransitiveProperty"]
            + tbox["FunctionalProperty"]
            + tbox["InverseFunctionalProperty"]
        )
        if multi:
            inc = inc.unionByName(store_spo.filter(F.col("pred").isin(multi)))
    return _closure(
        inc, owl, include_base=False, broadcast_schema=broadcast_schema,
        anti_join_base=True, tbox=tbox,
    )


def rdfs_materialize_delta(
    store: DataFrame, delta: DataFrame, broadcast_schema: bool = True
) -> DataFrame:
    """Conclusions entailed by ``delta`` against a ``store`` already closed
    under :func:`rdfs_materialize` (see :func:`_closure_delta`). ``delta``
    must be instance-only (raises otherwise — see
    :func:`materialize_store_delta` for the fallback)."""
    _require_instance_only(delta, False, "rdfs_materialize_delta")
    return _closure_delta(store, delta, False, broadcast_schema)


def owl_rl_materialize_delta(
    store: DataFrame, delta: DataFrame, broadcast_schema: bool = True
) -> DataFrame:
    """Conclusions entailed by ``delta`` against a ``store`` already closed
    under :func:`owl_rl_materialize` (see :func:`_closure_delta`); OWL
    axioms in ``delta`` count as schema."""
    _require_instance_only(delta, True, "owl_rl_materialize_delta")
    return _closure_delta(store, delta, True, broadcast_schema)


def materialize_store_delta(
    spark, store_path: str, delta: DataFrame, ruleset: str = "rdfs"
) -> dict:
    """Insert ``delta`` into a ``write_triples`` store AND close the store
    over the new triples' entailments, both through the bucket-pruned
    set-semantics append — the maintenance-batch shape (O(batch + rule-
    relevant slices), untouched buckets never read or written). A delta
    carrying schema triples falls back to a full
    :func:`materialize_store` pass after the insert (recorded as
    ``full_fallback`` in the counters). Idempotent like the full path.
    """
    from .triples import append_triples, open_store

    owl = _ruleset_owl(ruleset, "materialize_store_delta")
    store = open_store(spark, store_path)
    delta = delta.select("subj", "pred", "obj").localCheckpoint(eager=True)
    stats = append_triples(store, store_path, delta)

    fallback = not _is_schema(delta, owl).isEmpty()
    if fallback:
        derived = materialize_store(spark, store_path, ruleset=ruleset)
    else:
        store = open_store(spark, store_path)
        derived = append_triples(store, store_path, _closure_delta(store, delta, owl, True))
    return {
        **derived,
        "inserted": stats["inserted"] + derived["inserted"],
        "inserted_delta": stats["inserted"],
        "buckets_appended": sorted(
            set(stats["buckets_appended"]) | set(derived["buckets_appended"])
        ),
        "full_fallback": fallback,
    }


def materialize_store(spark, store_path: str, ruleset: str = "rdfs") -> dict:
    """Materialize an entailment closure **into** a ``write_triples``
    store: derived triples are appended through the same bucket-pruned
    set-semantics path SPARQL Update inserts use — only buckets that
    gain rows are compared against or written, nothing rewrites, and the
    full-width dedup shuffle of ``rdfs_materialize(include_base=True)``
    is replaced by per-bucket anti-joins. Idempotent: a second call
    appends nothing. ``ruleset`` picks the closure — ``"rdfs"`` (rho-df)
    or ``"owl-rl"`` (adds the OWL 2 RL property rules; the GraphDB repo-
    config choice made explicit). Returns the SPARQL-Update-shaped
    lineage counters.
    """
    from .triples import append_triples, open_store

    owl = _ruleset_owl(ruleset, "materialize_store")
    store = open_store(spark, store_path)
    derived = _closure(
        store.select("subj", "pred", "obj"), owl,
        include_base=False, broadcast_schema=True, anti_join_base=False,
    )
    return append_triples(store, store_path, derived)
