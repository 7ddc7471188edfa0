"""Basic-graph-pattern matching over the materialized triple table: the
tuple front end of the SPARQL BGP evaluator.

The reference answers graph queries by uploading the KG to GraphDB and
running SPARQL there (``GraphDBService.java``, SURVEY §3.1 step 8). The
Spark-first equivalent keeps the query ON the triple table: a SPARQL
basic graph pattern (the conjunctive core every SELECT query reduces to)
is a chain of equi-joins over filtered scans of ``triples(subj, pred,
obj)``. This module only translates ``(s, p, o)`` string tuples into the
SPARQL AST (``?x`` terms become variables, anything else a constant) and
hands them to ``sparql._eval_bgp`` — the one evaluator, so the tuple API
and SPARQL text agree by construction: constants pushed down as filters,
a constant subject scanning only its bucket of a ``write_triples`` store
(``triples.subject_scan``), repeated variables within a pattern as
equality filters, shared variables joined by name in selectivity order.
No Python runs anywhere — the whole match is Catalyst expressions.

Semantics (the SPARQL BGP core, not a SPARQL engine): bag semantics (no
implicit DISTINCT) for patterns with a variable; a fully-constant pattern
is an existence test (one empty mapping if it matches, however many
duplicate rows it matches); inner joins only — OPTIONAL/UNION/FILTER are
compositions the caller can express with DataFrame ops on the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .sparql import Bgp, PathIri, Term, Var, _eval_bgp


def _node(term: str) -> Var | Term:
    return Var(term[1:]) if term.startswith("?") else Term(term)


def match_bgp(triples: DataFrame, patterns: list[tuple[str, str, str]]) -> DataFrame:
    """Match a basic graph pattern against ``triples(subj, pred, obj)``.

    ``patterns`` is a list of (subj, pred, obj) terms; ``?x`` terms are
    variables, everything else a constant. Returns one column per
    distinct variable, sorted by name, one row per binding (bag
    semantics); a BGP of constants alone returns the evaluator's
    ``__exists`` row when every pattern matches.

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
    bgp = Bgp(
        [(_node(s), _node(p) if p.startswith("?") else PathIri(p), _node(o)) for s, p, o in patterns]
    )
    out = _eval_bgp(triples, bgp, None)
    names = sorted(c for c in out.columns if c != "__exists")
    return out.select(*names) if names else out
