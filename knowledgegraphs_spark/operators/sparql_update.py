"""SPARQL 1.1 Update applied to a ``write_triples`` store.

The reference mutates its knowledge graph by re-uploading whole graphs to
GraphDB and letting the endpoint's transaction log sort it out
(``E_CreateKG/GraphDB.java:150-163``); rdflib-side edits are full-graph
``add()``/``remove()`` loops. On this engine the store is subject-hash
bucketed parquet, and its store API (``triples.py``: ``open_store``,
``rewrite_buckets``, ``append_triples``, ``clear_store``) makes an update
BUCKET-LOCAL work — the 100-TB property is that cost scales with the
buckets the update touches, never with the store. This module holds the
update semantics only:

- the WHERE clause evaluates through the ordinary SPARQL machinery over
  the store frame itself, so constant-subject patterns scan one bucket
  (``triples.subject_scan``) and the rest are hash joins;
- delete/insert templates instantiate exactly like CONSTRUCT templates
  (``sparql._template_graph``);
- spec §3.1.3 operation order holds: deletes and the WHERE evaluation see
  the ORIGINAL store, inserts land after — ``DELETE {t} INSERT {t}
  WHERE {p}`` round-trips a triple. ``rewrite_buckets`` applies the two
  sets in that order: buckets containing deletions are rewritten through
  a staged per-bucket swap, buckets that only gain rows take appends;
- inserts follow RDF set semantics (a triple already present is a no-op),
  while the base content keeps its bag identity row-for-row (the KG
  emission owns its own dedup).

Scope (documented, not silently wrong): single graph (GRAPH/WITH/USING
raise), ``;``-separated scripts apply operation-by-operation (each sees
the previous result, per §3), and on stores carrying
typed-literal metadata columns (``obj_dtype``, ``is_literal``) inserted
rows hold NULL metadata — the update language speaks plain
``(subj, pred, obj)``; typed literals come from the emission path.

Atomicity is the store's (``triples.rewrite_buckets``): per-bucket
swaps after the full staged content commits. Re-running a request is
idempotent (deletes of absent rows are no-ops, inserts are set-semantic).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .sparql import GraphMgmtOp, UpdateRequest, _eval_group, _template_graph, parse_update
from .triples import append_triples, clear_store, open_store, rewrite_buckets

__all__ = ["sparql_update"]

_UNCHANGED = {"deleted": 0, "inserted": 0, "buckets_rewritten": [], "buckets_appended": []}


def sparql_update(
    spark: SparkSession, store_path: str, update: str | UpdateRequest | list
) -> dict:
    """Apply a SPARQL Update request — one operation or a ``;``-separated
    migration script — to the store at ``store_path``, in order (§3:
    each operation sees the previous one's result).

    Returns lineage counters: ``{"deleted": n, "inserted": n,
    "buckets_rewritten": [..], "buckets_appended": [..],
    "operations": n}`` — totals across the script's operations; the
    metrics record the north rule's resumability story expects from
    every mutating stage.
    """
    reqs = parse_update(update) if isinstance(update, str) else update
    if isinstance(reqs, UpdateRequest):
        reqs = [reqs]
    total = {
        "deleted": 0,
        "inserted": 0,
        "buckets_rewritten": set(),
        "buckets_appended": set(),
        "operations": len(reqs),
    }
    for req in reqs:
        if isinstance(req, GraphMgmtOp):
            s = _apply_mgmt(spark, store_path, req)
        else:
            s = _apply_operation(spark, store_path, req)
        total["deleted"] += s["deleted"]
        total["inserted"] += s["inserted"]
        total["buckets_rewritten"].update(s["buckets_rewritten"])
        total["buckets_appended"].update(s["buckets_appended"])
    total["buckets_rewritten"] = sorted(total["buckets_rewritten"])
    total["buckets_appended"] = sorted(total["buckets_appended"])
    return total


def _apply_mgmt(spark: SparkSession, store_path: str, op: GraphMgmtOp) -> dict:
    """Graph management (§3.1.4, §3.2) on the single-graph store.

    CLEAR/DROP DEFAULT|ALL empties the store (``triples.clear_store``:
    bucket directories dropped, nothing read or rewritten). LOAD parses
    the document with ``read_ontology`` (Turtle / RDF/XML by extension,
    one parse task per file) and merges it through the same set-semantic
    append as INSERT: only buckets gaining rows are touched, nothing
    rewrites. Merge identity is ``(subj, pred, obj)`` — a loaded triple
    already present keeps the store's row (and its typed-literal
    metadata); fresh rows carry the document's metadata columns."""
    if op.kind == "noop":
        return _UNCHANGED
    store = open_store(spark, store_path)
    if op.kind == "clear":
        return clear_store(store, store_path)
    # LOAD: read + eagerly materialize so a bad document fails HERE
    # (SILENT turns that failure into a no-op, per §3.1.4)
    from ..sources.rdfxml_source import read_ontology

    try:
        doc = read_ontology(spark, op.source).localCheckpoint(eager=True)
    except Exception:
        if op.silent:
            return _UNCHANGED
        raise
    # an RDF document denotes a SET of triples regardless of repetition
    return append_triples(store, store_path, doc.dropDuplicates(["subj", "pred", "obj"]))


def _apply_operation(spark: SparkSession, store_path: str, req: UpdateRequest) -> dict:
    store = open_store(spark, store_path)
    sol = _eval_group(store, req.where) if req.where is not None else None
    if sol is not None and req.delete_template and req.insert_template:
        # modify form: one WHERE evaluation feeds BOTH templates (measured
        # on the 405 M-triple probe rung, where re-evaluating the solution
        # per template was the migration's single largest cost)
        sol = sol.localCheckpoint(eager=True)
    deletes, inserts = (
        None if template is None else _template_graph(spark, sol, template)
        for template in (req.delete_template, req.insert_template)
    )
    if deletes is None:
        return append_triples(store, store_path, inserts)
    return rewrite_buckets(store, store_path, deletes, inserts)
