"""Turtle sink (operators S12/S13).

The reference iterates every individual of the Jena model and writes TTL
(``E_CreateKG/InsertDataBase.java:226-260``) — single-threaded, whole model
in memory. Here the TTL line is a *column expression* over the triples
DataFrame (escape + quote + dtype tag, all codegen'd), so serialization is
distributed text output:

* ``write_turtle`` — one TTL part-file per partition via ``df.write.text``
  (the 100-TB path; the prefix header goes into ``_prefixes.ttl``
  driver-side since TTL prefixes are file-scoped);
* ``turtle_string`` — a deterministic, sorted, single string for parity
  tests against reference output (O3: stable ordering before writes).

Literal escaping follows Turtle: ``\\``, ``"``, newline, CR, tab.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import storage

DEFAULT_PREFIXES = {
    "kg": "http://example.org/kg/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
}


def _escape(c: Column) -> Column:
    out = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def _term(qname_or_literal: Column, is_literal: Column, dtype: Column) -> Column:
    """Object term: qname for resources; quoted+typed literal otherwise
    (typed-literal cast per the property range, InsertDataBase.java:209-214)."""
    lit = F.concat(F.lit('"'), _escape(qname_or_literal), F.lit('"'))
    typed = F.when(
        dtype.isNotNull() & (dtype != "xsd:string"), F.concat(lit, F.lit("^^"), dtype)
    ).otherwise(lit)
    return F.when(is_literal, typed).otherwise(qname_or_literal)


def ttl_lines(triples: DataFrame) -> DataFrame:
    """``triples(subj,pred,obj,obj_dtype,is_literal)`` → one-column DF of
    TTL statements."""
    return triples.select(
        F.concat_ws(
            " ",
            F.col("subj"),
            F.col("pred"),
            _term(F.col("obj"), F.col("is_literal"), F.col("obj_dtype")),
            F.lit("."),
        ).alias("value")
    )


def prefix_header(prefixes: dict[str, str] | None = None) -> str:
    p = prefixes or DEFAULT_PREFIXES
    return "\n".join(f"@prefix {k}: <{v}> ." for k, v in sorted(p.items())) + "\n"


def write_turtle(
    triples: DataFrame, path: str, prefixes: dict[str, str] | None = None
) -> None:
    """Distributed TTL write: N part files of statements + a driver-side
    ``_prefixes.ttl`` header (concatenate for a standalone document).

    The sidecar is written through ``storage`` — the Hadoop FileSystem
    resolved from the destination, which ``read_turtle`` reads it back
    through — so ``file:`` / ``hdfs://`` / ``s3a://`` destinations work
    like local paths."""
    ttl_lines(triples).write.mode("overwrite").text(path)
    storage.write_text(
        triples.sparkSession, f"{path.rstrip('/')}/_prefixes.ttl", prefix_header(prefixes)
    )


def turtle_string(triples: DataFrame, prefixes: dict[str, str] | None = None) -> str:
    """Deterministic single-document serialization for parity tests — the
    reference sorts its IR before writing (CreateMappingsFile.java:102-103)."""
    lines = [r.value for r in ttl_lines(triples).orderBy("value").collect()]
    return prefix_header(prefixes) + "\n".join(lines) + "\n"
