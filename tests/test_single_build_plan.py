"""The KG build plan, the transcript schema and the session setup each exist
once: ``build_kg`` and ``run_pipeline`` drive one composition of the stage
order, driver rows reach Spark only through ``session.driver_frame``, and
the engine's SQL confs are applied only in ``session.py``. This guard reads
the sources and needs no Spark session."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "knowledgegraphs_spark"

STAGE_OPERATORS = (
    "ingest",
    "extract_mentions",
    "distinct_surfaces",
    "compute_match_edges",
    "canonical_mapping",
    "emit_transcript_triples",
    "entity_catalog",
)


def _called_names(fn: ast.FunctionDef) -> set[str]:
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            names.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    return names


def _modules() -> list[Path]:
    return sorted(PACKAGE.rglob("*.py")) + sorted((REPO / "jobs").glob("*.py"))


def test_stage_order_is_composed_once():
    tree = ast.parse((PACKAGE / "plans" / "pipeline.py").read_text())
    calls = {
        node.name: _called_names(node)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }
    callers = {
        op: sorted(name for name, called in calls.items() if op in called)
        for op in STAGE_OPERATORS
    }
    for op, names in callers.items():
        assert len(names) == 1, (op, names)
    (composition,) = {names[0] for names in callers.values()}
    assert composition in calls["build_kg"], calls["build_kg"]
    assert composition in calls["run_pipeline"], calls["run_pipeline"]


def test_driver_rows_and_engine_confs_go_through_session():
    for path in _modules():
        if path == PACKAGE / "session.py":
            continue
        text = path.read_text()
        for needle in ("createDataFrame(", "ENGINE_SQL_CONFS"):
            assert needle not in text, (str(path.relative_to(REPO)), needle)


def test_transcript_schema_is_assigned_once():
    owners = []
    for path in _modules():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                if any(isinstance(t, ast.Name) and t.id == "TRANSCRIPT_SCHEMA" for t in targets):
                    owners.append(str(path.relative_to(REPO)))
    assert owners == ["knowledgegraphs_spark/sources/transcripts.py"], owners
