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
fundamental table. This module is the only code that spells that row out
(:data:`TRIPLE_SCHEMA`, :func:`triple_struct`, :func:`empty_triples`,
:func:`explode_triples`) and the only code that builds an individual URI
(:func:`indiv_uri`): every source, plan and the maintained store take both
from here, so the row format and the URI scheme are each decided once.

It is also the triple STORE: the only code that knows its physical layout
(parquet partitioned by ``subj_bucket = pmod(xxhash64(subj), N)``,
subj-sorted inside each bucket, bucket count and schema in a ``_kg_meta``
sidecar). Later stages — SPARQL Update,
entailment materialization, BGP/SPARQL lookups — go through its store
API with plain (subj, pred, obj, …) frames: ``write_triples``,
``read_triples``/``open_store``, ``subject_scan``, ``append_triples``,
``rewrite_buckets``, ``clear_store``. The store path may be any Hadoop
FileSystem URI (local, ``file:``, ``hdfs://``, ``s3a://``): the bucket
listing, swap and removal go through ``storage``, like Spark's own reads
and writes.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import storage
from ..config import BASE_PREFIX, RDF_TYPE
from ..functions import naming
from ..session import driver_frame
from .po_extraction import PutativeOntology, TableSpec

TRIPLE_SCHEMA = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("obj_dtype", StringType()),
        StructField("is_literal", BooleanType()),
    ]
)


def indiv_uri(class_name: str, table_id: int, pk_cols: list[str]) -> Column:
    """Deterministic individual URI from PK column values. (On string keys
    the cast is string→string, which the optimizer drops.)"""
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


def triple_struct(subj: Column, pred: Column | str, obj: Column, dtype: str | None, literal: bool) -> Column:
    """One triple row as a struct of :data:`TRIPLE_SCHEMA`."""
    p = F.lit(pred) if isinstance(pred, str) else pred
    return F.struct(
        subj.alias("subj"),
        p.alias("pred"),
        obj.alias("obj"),
        F.lit(dtype).cast("string").alias("obj_dtype"),
        F.lit(literal).alias("is_literal"),
    )


def empty_triples() -> Column:
    """The empty ``array<triple>``: the ``otherwise`` branch of a row that
    emits nothing. (A function, not a constant: a Column needs a session.)"""
    return F.array().cast(ArrayType(TRIPLE_SCHEMA))


def explode_triples(frame: DataFrame, triples_col: Column) -> DataFrame:
    """``frame``'s ``array<triple>`` column, one triple row per element."""
    return frame.select(F.explode(triples_col).alias("t")).select("t.*")


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
        F.array(triple_struct(subj, RDF_TYPE, class_uri(spec.class_name), None, False))
    ]
    for i, fk in enumerate(spec.fks):
        ref_spec = po.tables[fk.ref_table]
        pre_cols.append(
            indiv_uri(ref_spec.class_name, ref_spec.table_id, [fk.column]).alias(f"__uri_fk_{i}")
        )
        tgt = F.col(f"__uri_fk_{i}")
        fwd = naming.pure_obj_property(spec.class_name, ref_spec.class_name)
        inv = naming.inverse_property(fwd)
        arrays.append(
            F.when(
                F.col(fk.column).isNotNull(),
                F.array(
                    triple_struct(subj, fwd, tgt, None, False),
                    triple_struct(tgt, inv, subj, None, False),
                ),
            ).otherwise(empty_triples())
        )
    for i, path in enumerate(p for p in po.column_paths if p.table == spec.name):
        pre_cols.append(
            indiv_uri(path.attr_class, spec.table_id, spec.pks).alias(f"__uri_attr_{i}")
        )
        attr_indiv = F.col(f"__uri_attr_{i}")
        arrays.append(
            F.when(
                F.col(path.column).isNotNull(),
                F.array(
                    triple_struct(subj, path.obj_prop, attr_indiv, None, False),
                    triple_struct(attr_indiv, RDF_TYPE, class_uri(path.attr_class), None, False),
                    triple_struct(
                        attr_indiv, path.data_prop, literal_repr(F.col(path.column), path.dtype), path.dtype, True
                    ),
                ),
            ).otherwise(empty_triples())
        )
    arrays.extend(extra_arrays or [])
    return explode_triples(df.select("*", *pre_cols), F.concat(*arrays))


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
    conv_subj = indiv_uri(conv_spec.class_name, conv_spec.table_id, conv_spec.pks)
    conv_type = F.when(
        F.col("turn_idx") == 0,
        F.array(triple_struct(conv_subj, RDF_TYPE, class_uri(conv_spec.class_name), None, False)),
    ).otherwise(empty_triples())
    return emit_table_triples_single_pass(turns, turn_spec, po, extra_arrays=[conv_type])


# -- the triple store -------------------------------------------------------
# ``_kg_meta`` and ``_staging_rewrite``: the underscore prefix hides them
# from the parquet file index. Mutating calls return SPARQL-Update-shaped
# lineage counters.

_BUCKET = "subj_bucket"
_SPO = ["subj", "pred", "obj"]
_META_SCHEMA = "subj_buckets int, schema_json string"


def subj_bucket_of(subj: Column | str, n_buckets: int) -> Column:
    """The bucket a subject lands in under ``write_triples``' layout.
    On a literal subject this folds to a constant, so a filter built from
    it becomes a PARTITION filter — the file index drops the other
    n_buckets−1 directories before any row group is read (the SPO-index
    role a triple store's B-tree plays)."""
    c = F.lit(subj) if isinstance(subj, str) else subj
    return F.pmod(F.xxhash64(c), F.lit(n_buckets))


def _with_bucket(triples: DataFrame, n_buckets: int) -> DataFrame:
    return triples.withColumn(_BUCKET, subj_bucket_of(F.col("subj"), n_buckets))


# The engine's parquet encoding, one constant set of writer options. By
# default parquet-mr dictionary-encodes every column; on the near-unique
# URI and free-text columns that dictionary holds almost every value once
# and then the page indexes into it, so a small file (a streaming delta,
# one bucket's row group) pays for its strings twice. Those columns are
# written plain and left to zstd; the low-cardinality ones (pred,
# obj_dtype, is_literal) keep their dictionaries. Readers decode each file
# by its own footer, so stores written before mix freely with these files.
PARQUET_OPTIONS = {
    f"parquet.enable.dictionary#{c}": "false" for c in ("subj", "obj", "mention", "canonical")
}


def write_parquet(
    frame: DataFrame, path: str, mode: str = "overwrite", partition_by: str | None = None
) -> None:
    """The one engine KG parquet write: the triple store's buckets, the
    maintained store's deltas and compacted bases, and the durable
    pipeline stages all land through here with :data:`PARQUET_OPTIONS`."""
    writer = frame.write.mode(mode).options(**PARQUET_OPTIONS)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def _write_buckets(bucketed: DataFrame, path: str, mode: str) -> None:
    """The one bucket writer. The subj-sort within write tasks satisfies
    partitionBy's required ordering, so no second sort is inserted. Two
    effects: (1) same-subject / same-prefix URIs become adjacent, inside
    zstd's window — on the 10 B-triple rung the UNsorted map-side write
    compressed 2.3× worse than the sorted one (projected ~85 GB vs 37 GB)
    because hashing scattered conversation locality; (2) row-group subj
    min/max stats become disjoint ranges, so a constant-subject lookup
    prunes row groups INSIDE the bucket too."""
    write_parquet(bucketed.sortWithinPartitions(_BUCKET, "subj"), path, mode, partition_by=_BUCKET)


def _meta_path(path: str) -> str:
    return path.rstrip("/") + "/_kg_meta"


def write_triples(
    triples: DataFrame, path: str, n_buckets: int = 32, coalesce_buckets: bool = True
) -> None:
    """Persist partitioned by subject hash so per-subject reads prune.
    Also records the bucket count under ``<path>/_kg_meta`` so
    ``read_triples`` can re-arm constant-subject partition pruning in
    later sessions.

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
    tasks (``compact_store`` folds them later if wanted).

    Encoding (:data:`PARQUET_OPTIONS`): ``subj`` and ``obj`` are written
    without a parquet dictionary, ``pred``/``obj_dtype``/``is_literal``
    with one; the subject-sorted URIs compress under zstd instead. On a
    2 000-conversation build that took the store from ~108 to ~77 bytes
    per turn."""
    bucketed = _with_bucket(triples, n_buckets)
    if coalesce_buckets:
        bucketed = bucketed.repartition(n_buckets, _BUCKET)
    _write_buckets(bucketed, path, "overwrite")
    # schema_json lets read_triples open a store whose every bucket was
    # emptied by an update (no parquet files left to infer from)
    meta = driver_frame(
        triples.sparkSession, [(n_buckets, triples.schema.json())], _META_SCHEMA
    )
    meta.coalesce(1).write.mode("overwrite").json(_meta_path(path))


def read_triples(spark, path: str) -> DataFrame:
    """Open a ``write_triples`` store. The returned DataFrame carries the
    bucket count as ``_kg_subj_buckets`` (plain Python attribute — Spark
    has no DataFrame metadata channel), which :func:`subject_scan` uses
    to turn constant-subject patterns into partition-pruned scans. Plain
    parquet without the sidecar opens as is, without pruning."""
    try:
        rows = spark.read.schema(_META_SCHEMA).json(_meta_path(path)).collect()
        meta = rows[0] if rows and rows[0]["subj_buckets"] is not None else None
    except Exception:
        meta = None
    try:
        df = spark.read.parquet(path)
    except Exception:
        # a store whose every bucket was emptied has no parquet files left
        # to infer a schema from — fall back to the schema recorded at
        # write time
        if meta is None or meta["schema_json"] is None:
            raise
        schema = StructType.fromJson(json.loads(meta["schema_json"])).add(_BUCKET, IntegerType())
        df = driver_frame(spark, [], schema)
    if meta is not None:
        df._kg_subj_buckets = int(meta["subj_buckets"])
    return df


def subject_scan(triples: DataFrame, subj: str | None) -> DataFrame:
    """The (subj, pred, obj) scan behind one triple pattern. Given a
    constant subject and a ``read_triples`` store, it also filters the
    subject's bucket, which the file index folds to a partition filter —
    a point lookup reads 1/n of the store's files. Any other frame, or a
    variable subject (``None``), scans whole."""
    n_buckets = getattr(triples, "_kg_subj_buckets", None)
    if subj is not None and n_buckets and _BUCKET in triples.columns:
        triples = triples.filter(F.col(_BUCKET) == subj_bucket_of(subj, n_buckets))
    return triples.select(*_SPO)


def open_store(spark, path: str) -> DataFrame:
    """``read_triples`` for callers that change the store: refuses plain
    parquet, because appends and rewrites need the bucket layout to stay
    bucket-local."""
    store = read_triples(spark, path)
    if getattr(store, "_kg_subj_buckets", None) is None:
        raise ValueError(
            f"{path}: not a write_triples store (missing _kg_meta) — "
            "updates need the bucket layout to stay bucket-local"
        )
    return store


def _counters(**changed) -> dict:
    return {"deleted": 0, "inserted": 0, "buckets_rewritten": [], "buckets_appended": [], **changed}


def _bucket_ids(bucketed: DataFrame) -> list[int]:
    # ≤ n_buckets values — driver-scale by construction
    return sorted(r[0] for r in bucketed.select(_BUCKET).distinct().collect())


def _align(rows: DataFrame, store: DataFrame) -> DataFrame:
    """``rows`` in the store's column order: metadata columns it lacks
    are null-filled, extra ones dropped."""
    for c in store.columns:
        if c not in rows.columns:
            rows = rows.withColumn(c, F.lit(None).cast(store.schema[c].dataType))
    return rows.select(*store.columns)


def _materialize(triples: DataFrame, store: DataFrame) -> DataFrame:
    """Bucket and materialize an incoming frame once, BEFORE any write:
    it is read again for its bucket ids and for the comparison, and it
    usually derives from the store scan being changed, which a lazy
    re-read after a rewrite would find replaced."""
    return _with_bucket(triples, store._kg_subj_buckets).localCheckpoint(eager=True)


def append_triples(store: DataFrame, path: str, triples: DataFrame) -> dict:
    """Append the rows of ``triples`` that the store does not already hold
    (RDF set semantics on (subj, pred, obj)). ``store`` is the
    :func:`open_store` frame of ``path``. Only the buckets ``triples``
    falls in are compared against or written; nothing rewrites. Returns
    the lineage counters (``inserted``, ``buckets_appended``)."""
    return _append(store, path, _materialize(triples, store))


def _append(store: DataFrame, path: str, ins: DataFrame) -> dict:
    buckets = _bucket_ids(ins)
    if not buckets:
        return _counters()
    existing = store.filter(F.col(_BUCKET).isin(buckets)).select(*_SPO)
    new = _align(ins.join(existing, on=_SPO, how="left_anti"), store).localCheckpoint(eager=True)
    n_new = new.count()
    if not n_new:
        return _counters()
    _write_buckets(new, path, "append")
    return _counters(inserted=n_new, buckets_appended=_bucket_ids(new))


def rewrite_buckets(
    store: DataFrame, path: str, deletes: DataFrame, inserts: DataFrame | None = None
) -> dict:
    """Delete, then insert (the SPARQL Update §3.1.3 order). Every store
    row matching a ``deletes`` row on (subj, pred, obj) leaves, all of its
    copies (bag semantics); ``inserts`` rows then land with set semantics
    against the post-delete content, so a triple deleted and re-inserted
    by one call survives. ``store`` is the :func:`open_store` frame of
    ``path``; returns the lineage counters.

    Only buckets holding deletions are rewritten: their new content
    streams to a ``_staging_rewrite`` dir while the originals stay
    readable, then each bucket dir swaps in via one FS rename (an emptied
    bucket's dir is removed). Zero extra memory residency — a first cut
    localCheckpoint'd the whole rewritten content, which on the 405
    M-triple probe rung materialized the entire store in executor
    storage. Inserts into other buckets take parquet appends. A crash
    while staging leaves the store untouched; one mid-swap can leave some
    buckets changed and others not. A rename the file system refuses
    raises (``storage.move``) instead of silently dropping the bucket."""
    spark = store.sparkSession
    deletes = _materialize(deletes.select(*_SPO), store)
    inserts = None if inserts is None else _materialize(inserts, store)
    rewritten = _bucket_ids(deletes)
    out = _counters()
    if rewritten:
        in_rewritten = F.col(_BUCKET).isin(rewritten)
        affected = store.filter(in_rewritten)
        gone = deletes.select(*_SPO)
        kept = affected.join(gone, on=_SPO, how="left_anti")
        content = kept
        if inserts is not None:
            fresh = inserts.filter(in_rewritten).join(kept, on=_SPO, how="left_anti")
            content = kept.unionByName(_align(fresh, store))
            inserts = inserts.filter(~in_rewritten)
        staging = path.rstrip("/") + "/_staging_rewrite"
        _write_buckets(content, staging, "overwrite")
        n_before = affected.count()
        n_deleted = affected.join(gone, on=_SPO, how="left_semi").count()
        # list the staged bucket dirs through the FS — an all-deleted
        # rewrite stages zero rows, which parquet can't infer a schema from
        staged = storage.partition_dirs(spark, staging, _BUCKET)
        n_content = spark.read.parquet(staging).count() if staged else 0
        old = storage.partition_dirs(spark, path, _BUCKET)
        for b in rewritten:
            if b in old:
                storage.delete(spark, old[b])
            if b in staged:
                storage.move(spark, staged[b], f"{path.rstrip('/')}/{_BUCKET}={b}")
        storage.delete(spark, staging)
        out = _counters(
            deleted=n_deleted,
            inserted=n_content - (n_before - n_deleted),
            buckets_rewritten=rewritten,
        )
    if inserts is not None:
        appended = _append(store, path, inserts)
        out["inserted"] += appended["inserted"]
        out["buckets_appended"] = appended["buckets_appended"]
    return out


def clear_store(store: DataFrame, path: str) -> dict:
    """Empty the store by dropping every bucket DIRECTORY — an
    O(buckets) metadata operation; no data is read or rewritten beyond
    the footer-only row count for the ``deleted`` counter. The
    ``_kg_meta`` sidecar survives, so the emptied store stays readable
    and re-insertable."""
    n_rows = store.count()
    spark = store.sparkSession
    dirs = storage.partition_dirs(spark, path, _BUCKET)
    for d in dirs.values():
        storage.delete(spark, d)
    return _counters(deleted=n_rows, buckets_rewritten=sorted(dirs))
