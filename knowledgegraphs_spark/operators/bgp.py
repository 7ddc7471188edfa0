"""Basic-graph-pattern matching over the materialized triple table.

The reference answers graph queries by uploading the KG to GraphDB and
running SPARQL there (``GraphDBService.java``, SURVEY §3.1 step 8). The
Spark-first equivalent keeps the query ON the triple table: a SPARQL
basic graph pattern (the conjunctive core every SELECT query reduces to)
is a chain of equi-joins over filtered scans of ``triples(subj, pred,
obj)`` — one scan per triple pattern, constants pushed down as filters,
shared variables joined by name.

Plan shape at scale: each pattern with a constant predicate/object
becomes a ``Filter + Scan`` that parquet row-group statistics prune
(predicates are low-cardinality strings, so dictionary filters bite);
the joins are hash joins on URI strings. Subject-subject joins are
co-located when the table is written through ``write_triples`` (bucketed
by ``subj``), which is exactly the layout a triple store's SPO index
gives you; a constant-subject pattern scans only its subject's bucket
(``triples.subject_scan``). No Python runs anywhere — the whole match
is Catalyst expressions.

SPARQL semantics notes (kept deliberately small — this is the BGP core,
not a SPARQL engine): variables are ``?name`` terms; any other term is
matched as a constant. Bag semantics (no implicit DISTINCT), inner
joins only (OPTIONAL/UNION/FILTER-expressions are compositions the
caller can express with DataFrame ops on the result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .triples import subject_scan

_POSITIONS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return term.startswith("?")


def match_bgp(triples: DataFrame, patterns: list[tuple[str, str, str]]) -> DataFrame:
    """Match a basic graph pattern against ``triples(subj, pred, obj)``.

    ``patterns`` is a list of (subj, pred, obj) terms; ``?x`` terms are
    variables, everything else a constant. Returns one column per
    distinct variable, one row per binding (bag semantics).

    A variable repeated WITHIN one pattern (e.g. ``(?x, p, ?x)``) becomes
    an equality filter on that scan; a variable shared ACROSS patterns
    becomes the join key. Patterns that share no variable with the
    accumulated result produce a cross product — valid BGP semantics, but
    the caller almost certainly wants a shared variable; the plan-shape
    test suite flags cartesian products in contract queries, so the
    contract query keeps its patterns connected.
    """
    if not patterns:
        raise ValueError("empty basic graph pattern")
    out: DataFrame | None = None
    bound: set[str] = set()
    for s, p, o in patterns:
        t = subject_scan(triples, None if _is_var(s) else s)
        seen: dict[str, str] = {}
        cols = []
        for pos, term in zip(_POSITIONS, (s, p, o)):
            if not _is_var(term):
                t = t.filter(F.col(pos) == F.lit(term))
            elif term in seen:  # repeated variable inside one pattern
                t = t.filter(F.col(pos) == F.col(seen[term]))
            else:
                seen[term] = pos
                cols.append(F.col(pos).alias(term[1:]))
        if not cols:  # fully-constant pattern: an existence test
            cols = [F.lit(1).alias("__exists")]
        t = t.select(*cols)
        pat_vars = {c for c in t.columns if c != "__exists"}
        if out is None:
            out = t
        else:
            shared = sorted(bound & pat_vars)
            out = out.join(t, on=shared) if shared else out.crossJoin(t)
        bound |= pat_vars
        if bound and "__exists" in out.columns:
            out = out.drop("__exists")
    # bound empty = every pattern was constant: k1·k2·… existence rows
    return out.select(*sorted(bound)) if bound else out
