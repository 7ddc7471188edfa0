"""The triple store's physical layout (subject-hash bucket directories, the
``_kg_meta`` sidecar, the bucket count a read attaches to its frame) is
known to ``operators/triples.py`` alone; every other module goes through
its store API. This guard reads the package's source and needs no Spark
session."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "knowledgegraphs_spark"
OWNER = PACKAGE / "operators" / "triples.py"
LAYOUT_STRINGS = ('partitionBy("subj_bucket")', '"subj_bucket="', "_kg_meta", "_kg_subj_buckets")


def _sources():
    return sorted(PACKAGE.rglob("*.py"))


def test_only_triples_module_knows_the_store_layout():
    owner_text = OWNER.read_text()
    # the owner really is where the layout lives, so the scan below can't
    # pass just because the names changed
    assert "_kg_meta" in owner_text and "_kg_subj_buckets" in owner_text
    leaks = [
        f"{path.relative_to(PACKAGE)}: {needle}"
        for path in _sources()
        if path != OWNER
        for needle in LAYOUT_STRINGS
        if needle in path.read_text()
    ]
    assert not leaks, leaks


def test_no_private_imports_from_sparql_update():
    leaks = []
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("sparql_update"):
                leaks += [
                    f"{path.relative_to(PACKAGE)}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not leaks, leaks
