"""JSON ingest + hierarchical KG materialization (operators S9, §1.2, A6,
and the JSON flavor of G7).

Reference semantics:

* **S9 repair** — an invalid file of concatenated objects gets commas after
  ``}``-newline and is wrapped into an array (``util/JsonUtil.java:19-54``).
* **Root detection** — outer array or multi-key dict → synthetic ``record``
  root; single-key dict → that key (``C_POextractor/JSON2OWL.java:102-136``).
* **Tree rules** (``JSON2OWL.java:144-198``): nested dict / array-of-dicts
  → a table class + ``has_<key>`` object property; scalar leaf / array of
  scalars → ``has_<key>`` data property (repeated per element); mixed
  arrays degrade to a string data property.
* **A6 per-record class counters** (``E_CreateKG/InsertDataJSON.java:
  225-250,300-348``): individuals are labeled
  ``<root><rowid>`` / ``<parentLabel>_<class><k>`` where ``k`` counts
  instances of that class **within the record**, in traversal order.
* **Dtypes** — JSON primitives map int→``xsd:integer``,
  float→``xsd:decimal``, bool→``xsd:boolean``, string→``xsd:string``
  (``util/XSDmappers.java:67-90``).
* **Null filter** — leaf values in the sentinel set are skipped
  (``JsonUtil.java:76-89``).

Spark-first shape — **one pass, zero shuffle**: the reference walks the
tree row-at-a-time with mutable global counters; here the entire record's
individuals, labels, counters and triples are ONE nested higher-order-
function expression (``transform``/``flatten`` carry the record-scoped
counters as array positions, so no window, no state, no Python), followed
by a single ``explode``. Deterministic under any partitioning, and the
only divergence from the reference is intentional: individual URIs are the
deterministic labels themselves instead of a global ``BigInteger`` counter
(mutable cross-record state cannot scale; the reference keeps the label as
``skos:altLabel``, so label-level parity is what tests compare).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import RDF_TYPE
from ..functions.nulls import is_nullish
from ..operators.triples import class_uri, empty_triples, explode_triples, triple_struct

DEFAULT_ROOT = "record"

_XSD = {
    T.StringType(): "xsd:string",
    T.BooleanType(): "xsd:boolean",
    T.IntegerType(): "xsd:integer",
    T.LongType(): "xsd:integer",
    T.FloatType(): "xsd:decimal",
    T.DoubleType(): "xsd:decimal",
    T.TimestampType(): "xsd:dateTime",
    T.DateType(): "xsd:date",
}


def xsd_of(dt: T.DataType) -> str:
    return _XSD.get(dt, "xsd:string")


# ---------------------------------------------------------------------------
# S9: JSON repair (driver-side string fix, then a distributed read)
# ---------------------------------------------------------------------------


def repair_json(content: str) -> str:
    """Wrap concatenated top-level objects into a valid array by inserting
    commas after ``}``-newline boundaries (JsonUtil.java:40-54)."""
    fixed = re.sub(r"\}[\r\n]+", "},", content)
    fixed = fixed.rstrip()
    if fixed.endswith(","):
        fixed = fixed[:-1]
    return f"[\n{fixed}]"


# ---------------------------------------------------------------------------
# root detection over a Spark schema (the schema IS the parsed tree shape)
# ---------------------------------------------------------------------------


def detect_root(schema: T.StructType) -> tuple[str, T.StructType]:
    """Single struct-valued top key → that key is the root; otherwise a
    synthetic ``record`` root owning all top-level fields."""
    if len(schema.fields) == 1 and isinstance(schema.fields[0].dataType, T.StructType):
        f = schema.fields[0]
        return f.name, f.dataType
    return DEFAULT_ROOT, schema


# ---------------------------------------------------------------------------
# the single-expression triple builder
# ---------------------------------------------------------------------------


def _scalar_triples(label: Column, key: str, value: Column, dt: T.DataType) -> Column:
    """Array of 0-or-1 literal triples (sentinel-filtered, F1)."""
    keep = value.isNotNull() & ~is_nullish(value.cast("string"))
    return F.when(
        keep,
        F.array(triple_struct(label, f"has_{key}", value.cast("string"), xsd_of(dt), True)),
    ).otherwise(empty_triples())


def _node_triples(labeled: Column, struct_type: T.StructType, cls: str) -> Column:
    """Triples contributed by one *labeled frontier* — an
    ``array<struct<plabel,label,node>>`` of all instances of one class
    within the record, in traversal order. Returns ``array<triple>``."""
    # NOTE: pyspark higher-order functions introspect the lambda's full
    # signature, so loop state must be bound via factory closures, never
    # keyword defaults.
    def _scalar_array_fn(k: str, dt: T.ArrayType):
        def outer(e):
            def inner(v):
                return _scalar_triples(e["label"], k, v, dt.elementType)

            return F.flatten(
                F.transform(F.coalesce(e["node"][k], F.array().cast(dt)), inner)
            )

        return outer

    def _scalar_fn(k: str, dt: T.DataType):
        return lambda e: _scalar_triples(e["label"], k, e["node"][k], dt)

    parts: list[Column] = [
        # rdf:type per instance
        F.transform(
            labeled, lambda e: triple_struct(e["label"], RDF_TYPE, class_uri(cls), None, False)
        ),
    ]
    # leaves + arrays-of-scalars, flat-mapped over instances
    for f in struct_type.fields:
        k, dt = f.name, f.dataType
        if isinstance(dt, T.ArrayType) and not isinstance(dt.elementType, (T.StructType, T.ArrayType)):
            parts.append(F.flatten(F.transform(labeled, _scalar_array_fn(k, dt))))
        elif not isinstance(dt, (T.StructType, T.ArrayType)):
            parts.append(F.flatten(F.transform(labeled, _scalar_fn(k, dt))))
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def _child_frontier(
    labeled: Column, key: str, child_is_array: bool, child_dt: T.DataType
) -> Column:
    """Next labeled frontier for nested key ``key``: flatten child instances
    across all parent instances, then re-index — the array position IS the
    reference's record-scoped class counter (A6)."""
    if child_is_array:

        def _expand(e):
            def _wrap(c):
                return F.struct(e["label"].alias("plabel"), c.alias("node"))

            return F.transform(F.coalesce(e["node"][key], F.array().cast(child_dt)), _wrap)

        raw = F.flatten(F.transform(labeled, _expand))
    else:
        raw = F.filter(
            F.transform(
                labeled,
                lambda e: F.struct(e["label"].alias("plabel"), e["node"][key].alias("node")),
            ),
            lambda e: e["node"].isNotNull(),
        )
    return F.transform(
        raw,
        lambda e, i: F.struct(
            e["plabel"].alias("plabel"),
            F.concat(e["plabel"], F.lit(f"_{key}"), i.cast("string")).alias("label"),
            e["node"].alias("node"),
        ),
    )


def _collect_frontiers(
    frontier_col: str,
    struct_type: T.StructType,
    cls: str,
    frontiers: list[tuple[str, "Column | None"]],
    parts: list[Column],
) -> None:
    """Walk the schema, materializing every frontier as a NAMED COLUMN and
    collecting the triple parts that reference it.

    Frontier expressions are deliberately NOT inlined into their consumers:
    a frontier is referenced once per scalar field, once for the type
    triples, once per child edge set, and once per child frontier — and
    inside a single Generate expression tree Spark performs no
    subexpression elimination, so inlining re-evaluates the parent chain
    multiplicatively with nesting depth (the k-way replication trap, see
    BENCH/BASELINE.md). As columns, each frontier is computed once per row
    and every consumer reads the materialized array."""
    labeled = F.col(frontier_col)
    parts.append(_node_triples(labeled, struct_type, cls))
    for f in struct_type.fields:
        k, dt = f.name, f.dataType
        child_struct: T.StructType | None = None
        is_arr = False
        if isinstance(dt, T.StructType):
            child_struct = dt
        elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            child_struct, is_arr = dt.elementType, True
        if child_struct is None:
            continue
        child_col = f"__frontier_{len(frontiers)}"
        frontiers.append((child_col, _child_frontier(labeled, k, is_arr, dt)))

        def _edge_fn(k: str):
            return lambda e: triple_struct(
                e["plabel"], f"has_{k}", e["label"].cast("string"), None, False
            )

        # parent -[has_k]-> child edges
        parts.append(F.transform(F.col(child_col), _edge_fn(k)))
        _collect_frontiers(child_col, child_struct, k, frontiers, parts)


def emit_json_triples(
    df: DataFrame,
    id_col: str,
    json_col: str,
    schema: T.StructType,
    root: str | None = None,
) -> DataFrame:
    """Parse ``json_col`` with the given per-record schema and materialize
    the full hierarchical KG — one projection + one explode, no shuffle."""
    detected, node_type = detect_root(schema)
    root = root or detected
    parsed = df.select(
        F.col(id_col).cast("string").alias("__rid"),
        F.from_json(F.col(json_col), schema).alias("__j"),
    )
    node = F.col("__j")[root] if (detected != DEFAULT_ROOT) else F.col("__j")
    root_label = F.concat(F.lit(root), F.col("__rid"))
    frontier = F.when(
        node.isNotNull(),
        F.array(
            F.struct(
                F.lit(None).cast("string").alias("plabel"),
                root_label.alias("label"),
                node.alias("node"),
            )
        ),
    ).otherwise(F.expr("array()").cast(f"array<struct<plabel:string,label:string,node:{node_type.simpleString()}>>"))
    frontiers: list[tuple[str, Column]] = [("__frontier_root", frontier)]
    parts: list[Column] = []
    _collect_frontiers("__frontier_root", node_type, root, frontiers, parts)
    staged = parsed
    for name, expr in frontiers:
        # one chained select per frontier level: each references the parent
        # frontier column, so Catalyst keeps them as per-row computed-once
        # attributes instead of inlining the whole parent chain into every
        # consumer (CollapseProject declines to duplicate non-cheap exprs)
        staged = staged.select("*", expr.alias(name))
    all_triples = F.concat(*parts) if len(parts) > 1 else parts[0]
    return explode_triples(staged, all_triples)
