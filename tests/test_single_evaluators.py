"""The entailment rule pipeline and the BGP evaluator each exist once:
RDFS is the OWL 2 RL closure with its OWL strata off, the two semi-naive
deltas share one increment, and the tuple BGP API is a front end of the
SPARQL evaluator. This guard reads the package's source and needs no
Spark session."""

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parents[1] / "knowledgegraphs_spark" / "operators"


def _functions(path: Path) -> dict[str, ast.FunctionDef]:
    return {
        node.name: node
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
    }


def _called_names(fn: ast.FunctionDef) -> set[str]:
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            names.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    return names


def test_entailment_and_bgp_evaluators_are_written_once():
    # entailment: the stratified closure (the only caller of the
    # pointer-doubling closure) and the delta are each one function
    path = OPERATORS / "entailment.py"
    fns = _functions(path)
    closures = sorted(name for name, fn in fns.items() if "ancestor_closure_df" in _called_names(fn))
    assert len(closures) == 1, closures
    assert "createDataFrame" not in path.read_text()
    # each public ruleset pair is a thin call into one shared private function
    for pair in (
        ("rdfs_materialize", "owl_rl_materialize"),
        ("rdfs_materialize_delta", "owl_rl_materialize_delta"),
    ):
        private = [
            {n for n in _called_names(fns[name]) if n.startswith("_") and n in fns}
            for name in pair
        ]
        shared = private[0] & private[1]
        assert shared, (pair, private)
        assert closures[0] in shared or any(
            closures[0] in _called_names(fns[n]) for n in shared
        ), (pair, shared)

    # bgp: translation only, the joins are the SPARQL evaluator's
    path = OPERATORS / "bgp.py"
    calls = set()
    for fn in _functions(path).values():
        calls |= _called_names(fn)
    assert not calls & {"join", "crossJoin"}, calls
    assert "_eval_bgp" in calls
