"""Triple materialization (operator G7 + the URI scheme of SURVEY §1.3).

Reference stage E walks every row of every table with mutable counters
(``InsertDataRDB.java:70-102,197-251``). Here each (table, column) path is a
pure column-projection template: every row projects an array of triple
structs (type, FK edges both directions, attribute paths) that is exploded
once — no state, no Python, no join, one shuffle-free scan per source table.
FK values are the referenced PKs (the transcripts case), so edge targets are
URIs built from the row itself.

URI scheme (reference ``InsertDataRDB.java:116-132``):
    indiv = <prefix><Class>_<tableId>_<pk values joined by '_'>
Pure function of (class, tableId, PK) → output reproducible under any
partitioning; replaces the reference's insertion-order counters. (We join PK
parts with '_' instead of bare concat for injectivity on composite keys.)

Output schema: triples(subj, pred, obj, obj_dtype, is_literal) — the engine's
fundamental table, written partitioned by ``pmod(xxhash64(subj), N)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import BASE_PREFIX, RDF_TYPE
from ..functions import naming
from ..session import driver_frame
from .po_extraction import PutativeOntology, TableSpec

TRIPLE_COLS = ["subj", "pred", "obj", "obj_dtype", "is_literal"]


def indiv_uri(class_name: str, table_id: int, pk_cols: list[str]) -> Column:
    """Deterministic individual URI from PK column values."""
    parts = [F.lit(f"{BASE_PREFIX}{class_name}_{table_id}")] + [
        F.col(c).cast("string") for c in pk_cols
    ]
    return F.concat_ws("_", *parts)


def class_uri(class_name: str) -> Column:
    return F.lit(f"{BASE_PREFIX}{class_name}")


def literal_repr(c: Column, dtype: str) -> Column:
    """Canonical literal string per declared range (reference casts values to
    the property's range, ``InsertDataBase.java:209-214``)."""
    if dtype == "xsd:dateTime":
        return F.date_format(c.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss")
    if dtype == "xsd:date":
        return F.date_format(c.cast("date"), "yyyy-MM-dd")
    if dtype in ("xsd:integer", "xsd:long"):
        return c.cast("long").cast("string")
    if dtype in ("xsd:double", "xsd:decimal"):
        return c.cast("double").cast("string")
    if dtype == "xsd:boolean":
        return c.cast("boolean").cast("string")
    return c.cast("string")


def _triple_struct(subj: Column, pred: Column | str, obj: Column, dtype: str | None, literal: bool) -> Column:
    p = F.lit(pred) if isinstance(pred, str) else pred
    return F.struct(
        subj.alias("subj"),
        p.alias("pred"),
        obj.alias("obj"),
        F.lit(dtype).cast("string").alias("obj_dtype"),
        F.lit(literal).alias("is_literal"),
    )


def emit_table_triples_single_pass(
    df: DataFrame,
    spec: TableSpec,
    po: PutativeOntology,
    extra_arrays: list[Column] | None = None,
) -> DataFrame:
    """Single-scan triple emission for tables whose FK values ARE the
    referenced PKs (no join needed — the transcripts case): every row
    projects an array of triple structs which is exploded once.

    Compared to a per-predicate ``unionByName`` this reads the input ONCE
    instead of 3×columns+2 times — at 100 TB that is the difference between
    one pass and twenty.

    The URI expressions are pre-projected into columns BEFORE the explode:
    inside a single Generate expression tree Spark's subexpression
    elimination does not fire, so a subj ``concat_ws`` referenced by ~15
    structs would otherwise be re-evaluated ~15× per row (same k-way
    re-replication trap as the MinHash banding fix, BENCH/BASELINE.md) —
    hoisting it into the upstream Project computes each URI once per row
    inside the same whole-stage-codegen body.
    """
    subj = F.col("__uri_subj")
    pre_cols: list[Column] = [
        indiv_uri(spec.class_name, spec.table_id, spec.pks).alias("__uri_subj")
    ]
    arrays: list[Column] = [
        F.array(_triple_struct(subj, RDF_TYPE, class_uri(spec.class_name), None, False))
    ]
    for i, fk in enumerate(spec.fks):
        ref_spec = po.tables[fk.ref_table]
        pre_cols.append(
            F.concat_ws(
                "_",
                F.lit(f"{BASE_PREFIX}{ref_spec.class_name}_{ref_spec.table_id}"),
                F.col(fk.column).cast("string"),
            ).alias(f"__uri_fk_{i}")
        )
        tgt = F.col(f"__uri_fk_{i}")
        fwd = naming.pure_obj_property(spec.class_name, ref_spec.class_name)
        inv = naming.inverse_property(fwd)
        arrays.append(
            F.when(
                F.col(fk.column).isNotNull(),
                F.array(
                    _triple_struct(subj, fwd, tgt, None, False),
                    _triple_struct(tgt, inv, subj, None, False),
                ),
            ).otherwise(F.array().cast("array<struct<subj:string,pred:string,obj:string,obj_dtype:string,is_literal:boolean>>"))
        )
    for i, path in enumerate(p for p in po.column_paths if p.table == spec.name):
        pre_cols.append(
            F.concat_ws(
                "_",
                F.lit(f"{BASE_PREFIX}{path.attr_class}_{spec.table_id}"),
                *[F.col(c).cast("string") for c in spec.pks],
            ).alias(f"__uri_attr_{i}")
        )
        attr_indiv = F.col(f"__uri_attr_{i}")
        arrays.append(
            F.when(
                F.col(path.column).isNotNull(),
                F.array(
                    _triple_struct(subj, path.obj_prop, attr_indiv, None, False),
                    _triple_struct(attr_indiv, RDF_TYPE, class_uri(path.attr_class), None, False),
                    _triple_struct(
                        attr_indiv, path.data_prop, literal_repr(F.col(path.column), path.dtype), path.dtype, True
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<subj:string,pred:string,obj:string,obj_dtype:string,is_literal:boolean>>"))
        )
    arrays.extend(extra_arrays or [])
    exploded = df.select("*", *pre_cols).select(F.explode(F.concat(*arrays)).alias("t"))
    return exploded.select("t.subj", "t.pred", "t.obj", "t.obj_dtype", "t.is_literal")


def emit_transcript_triples(turns: DataFrame, po: PutativeOntology) -> DataFrame:
    """Structural triples for the transcripts input.

    Conversation-row triples piggyback on the ``turn_idx == 0`` row of each
    conversation — turn indices are 0-based and dense (``ingest`` + the
    row_number derivations guarantee it), so that row exists exactly once
    per conversation. The whole table
    then emits in ONE scan with ZERO extra shuffle; the alternative
    (``dropDuplicates(conv_id)``) costs a second scan plus a hash exchange,
    which ``.explain`` showed doubling the structural-emission stage count.
    It also makes the streaming path stateless: turn 0 lands in exactly one
    micro-batch, so exactly-once needs no dedup state.
    """
    conv_spec = po.tables["conversation"]
    turn_spec = po.tables["turn"]
    conv_subj = F.concat_ws(
        "_", F.lit(f"{BASE_PREFIX}{conv_spec.class_name}_{conv_spec.table_id}"),
        F.col("conv_id").cast("string"),
    )
    empty = F.array().cast(
        "array<struct<subj:string,pred:string,obj:string,obj_dtype:string,is_literal:boolean>>"
    )
    conv_type = F.when(
        F.col("turn_idx") == 0,
        F.array(_triple_struct(conv_subj, RDF_TYPE, class_uri(conv_spec.class_name), None, False)),
    ).otherwise(empty)
    return emit_table_triples_single_pass(turns, turn_spec, po, extra_arrays=[conv_type])


def subj_bucket_of(subj: Column | str, n_buckets: int) -> Column:
    """The bucket a subject lands in under ``write_triples``' layout.
    On a literal subject this folds to a constant, so a filter built from
    it becomes a PARTITION filter — the file index drops the other
    n_buckets−1 directories before any row group is read (the SPO-index
    role a triple store's B-tree plays)."""
    c = F.lit(subj) if isinstance(subj, str) else subj
    return F.pmod(F.xxhash64(c), F.lit(n_buckets))


def write_triples(
    triples: DataFrame, path: str, n_buckets: int = 32, coalesce_buckets: bool = True
) -> None:
    """Persist partitioned by subject hash so per-subject reads prune.
    Also records the bucket count under ``<path>/_kg_meta`` (underscore
    prefix = invisible to the parquet file index) so ``read_triples`` can
    re-arm constant-subject partition pruning in later sessions.

    ``coalesce_buckets=True`` (default) shuffles into one file per bucket
    — the tidiest layout for small/medium stores. At billions of triples
    that exchange is the wrong plan twice over: it stages the ENTIRE
    dataset through shuffle scratch (measured 115 GB for the 10 B-triple
    store — more than this box's disk), and it caps write parallelism at
    ``n_buckets`` reducers (32 reducers for a 100 TB store). With
    ``False`` the bucket column is computed map-side and ``partitionBy``
    writes directly — no exchange, parallelism = upstream tasks, the
    per-task sort spill is transient and bounded by one task's input.
    Directory pruning is identical; the cost is files-per-bucket = map
    tasks (``compact_store`` folds them later if wanted)."""
    bucketed = triples.withColumn(
        "subj_bucket", subj_bucket_of(F.col("subj"), n_buckets)
    )
    if coalesce_buckets:
        bucketed = bucketed.repartition(n_buckets, "subj_bucket")
    # subj-sort within write tasks (satisfies partitionBy's required
    # ordering, so no second sort is inserted). Two effects, both measured
    # on the 10 B-triple rung: (1) same-subject/same-prefix URIs become
    # adjacent, which parquet dictionary+RLE needs — the UNsorted map-side
    # write compressed 2.3× worse than the bucket-coalesced one (projected
    # ~85 GB vs 37 GB) because hashing scattered conversation locality;
    # (2) row-group subj min/max stats become disjoint ranges, so a
    # constant-subject lookup prunes row groups INSIDE the bucket too.
    bucketed = bucketed.sortWithinPartitions("subj_bucket", "subj")
    bucketed.write.mode("overwrite").partitionBy("subj_bucket").parquet(path)
    spark = triples.sparkSession
    # schema_json lets read_triples open a store whose every bucket was
    # emptied by sparql_update (no parquet files left to infer from)
    meta = driver_frame(
        spark, [(n_buckets, triples.schema.json())], "subj_buckets int, schema_json string"
    )
    meta.coalesce(1).write.mode("overwrite").json(path.rstrip("/") + "/_kg_meta")


def read_triples(spark, path: str) -> DataFrame:
    """Open a ``write_triples`` store. The returned DataFrame carries the
    bucket count as ``_kg_subj_buckets`` (plain Python attribute — Spark
    has no DataFrame metadata channel), which the BGP/SPARQL evaluators
    use to turn constant-subject patterns into partition-pruned scans."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        # a store whose every bucket was emptied (sparql_update deletes)
        # has no parquet files left to infer a schema from — fall back to
        # the schema recorded at write time
        import json as _json

        from pyspark.sql.types import IntegerType, StructType

        meta_row = spark.read.json(path.rstrip("/") + "/_kg_meta").collect()[0]
        schema_json = meta_row["schema_json"] if "schema_json" in meta_row else None
        if schema_json is None:
            raise
        schema = StructType.fromJson(_json.loads(schema_json)).add(
            "subj_bucket", IntegerType()
        )
        df = spark.createDataFrame([], schema)
        df._kg_subj_buckets = int(meta_row["subj_buckets"])
        return df
    try:
        n = spark.read.json(path.rstrip("/") + "/_kg_meta").collect()[0]["subj_buckets"]
        df._kg_subj_buckets = int(n)
    except Exception:
        pass  # plain parquet without the meta sidecar: no pruning rewrite
    return df
