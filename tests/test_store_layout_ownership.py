"""The triple store's physical layout (subject-hash bucket directories, the
``_kg_meta`` sidecar, the bucket count a read attaches to its frame) is
known to ``operators/triples.py`` alone; every other module goes through
its store API, and every KG parquet write goes through its one writer
(``write_parquet``, which carries the store encoding). The triple row
format is spelled out there alone too: other modules take its schema,
struct constructor and explode from it. This guard reads the package's
source and needs no Spark session."""

import ast
import re
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


def _private_imports(module: str) -> list[str]:
    """``from <...>module import _name`` anywhere in the package, function
    bodies included."""
    leaks = []
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[-1] == module:
                leaks += [
                    f"{path.relative_to(PACKAGE)}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    return leaks


def test_no_private_imports_from_sparql_update():
    leaks = _private_imports("sparql_update")
    assert not leaks, leaks


# the triple row spelled out by hand: as a struct type (the DDL and
# StructType forms too), as the five-name column list, or as the select
# after an explode. Compared with whitespace removed and quotes unified.
ROW_FORMAT_STRINGS = (
    "subj:string,pred:string,obj:string,obj_dtype:string,is_literal:boolean",
    "subjstring,predstring,objstring,obj_dtypestring,is_literalboolean",
    'StructField("is_literal"',
    '"subj","pred","obj","obj_dtype","is_literal"',
    '"t.is_literal"',
)


def _squeezed(text: str) -> str:
    return re.sub(r"\s+", "", text).replace("'", '"')


def test_only_triples_module_spells_out_the_triple_row():
    leaks = [
        f"{path.relative_to(PACKAGE)}: {needle}"
        for path in _sources()
        if path != OWNER
        for needle in ROW_FORMAT_STRINGS
        if needle in _squeezed(path.read_text())
    ]
    assert not leaks, leaks
    # the row format and the URI constructor really are defined there
    owner_text = OWNER.read_text()
    for name in ("TRIPLE_SCHEMA =", "def triple_struct(", "def empty_triples(",
                 "def explode_triples(", "def indiv_uri("):
        assert name in owner_text, name


def test_no_private_imports_from_triples():
    leaks = _private_imports("triples")
    assert not leaks, leaks


KG_WRITERS = ("operators/triples.py", "streaming/maintenance.py", "plans/pipeline.py")


def _receiver_attrs(node: ast.AST) -> set[str]:
    """Attribute names along a call chain's receiver (``a.read.schema(s)``
    → {read, schema})."""
    names = set()
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def test_kg_parquet_writes_go_through_the_shared_writer():
    """A ``.parquet(...)`` call that is not a read is a write; in the KG
    writers it may only stand inside ``triples.write_parquet``."""
    bypasses = []
    for rel in KG_WRITERS:
        tree = ast.parse((PACKAGE / rel).read_text())
        owner = {
            id(n)
            for fn in tree.body
            if isinstance(fn, ast.FunctionDef) and rel == "operators/triples.py" and fn.name == "write_parquet"
            for n in ast.walk(fn)
        }
        assert rel != "operators/triples.py" or owner, "write_parquet is missing"
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("parquet", "save", "saveAsTable", "insertInto")
                and not {"read", "readStream"} & _receiver_attrs(node.func.value)
                and id(node) not in owner
            ):
                bypasses.append(f"{rel}:{node.lineno}")
    assert not bypasses, bypasses
