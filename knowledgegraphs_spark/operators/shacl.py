"""SHACL-lite shape validation over the triple table.

The reference trusts its own emission — it validates inputs (datatype
compatibility in ``MappingSelection.java``, domain checks) but never the
produced graph. At pipeline scale a KG is assembled from many
independently-failing stages, so the engine ships the validation the
reference leaves to the downstream GraphDB: a SHACL-core subset
(sh:minCount, sh:maxCount, sh:class, value range as sh:minInclusive /
sh:maxInclusive) evaluated wholesale over the store, producing the
standard (focus_node, shape, component, detail) violation report.

Shapes are plain dataclasses, not parsed shape graphs — the subset a
pipeline config actually states, kept declarative enough that every
constraint compiles to ONE relational form:

- ``minCount``: targets LEFT JOIN per-focus property counts, keep
  ``coalesce(n, 0) < minCount``. Map-side-combinable groupBy on ``subj``
  plus one join of two focus-sized relations.
- ``maxCount``: same counts, keep ``n > maxCount`` (inner join — a node
  with zero values can't exceed a max).
- ``minInclusive``/``maxInclusive``: a scan-level filter on the property
  triples (predicate pushdown does the work), semi-joined to targets.
- ``sh:class``: property triples ANTI JOIN type assertions of the
  required class — referential integrity as a hash anti-join.

Scale shape: every component is target-class-filtered FIRST (the type
triples are the small side; at 100 TB they broadcast per shape or the
whole validation runs off a store bucketed by ``subj``, making every
join and the count groupBy exchange-free). No iteration, no UDFs, no
driver-side loop over shapes' DATA — the per-shape plans union into one
job so the store is scanned once per property, not once per constraint.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import driver_frame


@dataclass(frozen=True)
class Shape:
    """One property shape: constraints on ``path`` for instances of
    ``target_class``. ``None`` fields are unconstrained."""

    shape_id: str
    target_class: str
    path: str
    min_count: int | None = None
    max_count: int | None = None
    min_inclusive: float | None = None
    max_inclusive: float | None = None
    class_constraint: str | None = None  # sh:class on the value node


def _targets(triples: DataFrame, cls: str) -> DataFrame:
    return (
        triples.filter((F.col("pred") == "rdf:type") & (F.col("obj") == F.lit(cls)))
        .select(F.col("subj").alias("focus_node"))
        .distinct()
    )


def _report(df: DataFrame, shape: Shape, component: str, detail) -> DataFrame:
    return df.select(
        "focus_node",
        F.lit(shape.shape_id).alias("shape_id"),
        F.lit(component).alias("component"),
        detail.cast("string").alias("detail"),
    )


def validate(triples: DataFrame, shapes: list[Shape]) -> DataFrame:
    """Evaluate every shape; return the violation report
    ``(focus_node, shape_id, component, detail)`` — empty = conformant."""
    parts: list[DataFrame] = []
    for shape in shapes:
        targets = _targets(triples, shape.target_class)
        props = triples.filter(F.col("pred") == shape.path)

        if shape.min_count is not None or shape.max_count is not None:
            counts = props.groupBy(F.col("subj").alias("focus_node")).agg(
                F.count(F.lit(1)).alias("__n")
            )
            with_counts = targets.join(counts, "focus_node", "left").select(
                "focus_node", F.coalesce(F.col("__n"), F.lit(0)).alias("__n")
            )
            if shape.min_count is not None:
                parts.append(
                    _report(
                        with_counts.filter(F.col("__n") < shape.min_count),
                        shape,
                        "MinCount",
                        F.col("__n"),
                    )
                )
            if shape.max_count is not None:
                parts.append(
                    _report(
                        with_counts.filter(F.col("__n") > shape.max_count),
                        shape,
                        "MaxCount",
                        F.col("__n"),
                    )
                )

        if shape.min_inclusive is not None or shape.max_inclusive is not None:
            # try_cast: a malformed value must FLAG, not fail the job
            val = F.col("obj").try_cast("double")
            bad = F.lit(False)
            if shape.min_inclusive is not None:
                bad = bad | (val < shape.min_inclusive)
            if shape.max_inclusive is not None:
                bad = bad | (val > shape.max_inclusive)
            # non-numeric objects fail a range constraint by definition
            bad = bad | val.isNull()
            out_of_range = (
                props.filter(bad)
                .select(F.col("subj").alias("focus_node"), F.col("obj"))
                .join(targets, "focus_node", "semi")
            )
            parts.append(_report(out_of_range, shape, "Range", F.col("obj")))

        if shape.class_constraint is not None:
            typed = _targets(triples, shape.class_constraint).select(
                F.col("focus_node").alias("obj")
            )
            dangling = (
                props.join(typed, "obj", "anti")
                .select(F.col("subj").alias("focus_node"), F.col("obj"))
                .join(targets, "focus_node", "semi")
            )
            parts.append(_report(dangling, shape, "Class", F.col("obj")))

    if not parts:
        return driver_frame(
            triples.sparkSession,
            [],
            "focus_node string, shape_id string, component string, detail string",
        )
    return reduce(lambda a, b: a.unionByName(b), parts)
