"""Continuous KG maintenance: Structured Streaming over the incremental plan.

``plans/incremental.incremental_update`` merges ONE batch of new turns into
an existing entity catalog (attach novel surfaces, mint genuinely new
entities, emit only delta triples). This module lifts that into the job a
cluster actually schedules: a ``foreachBatch`` streaming sink where every
micro-batch of arriving turns extends a persisted catalog + triple store.

Store layout (all parquet, under ``store_path`` — any Hadoop FileSystem
URI: a local path, ``file:``, ``hdfs://``, ``s3a://``)::

    catalog_base/             bootstrap + compacted (mention, canonical) map
    catalog_delta/batch_id=N/ novel-surface rows minted/attached by batch N
    triples_base/             compacted triples (empty until first compaction)
    triples/batch_id=N/       triple delta emitted by batch N

A long-running stream accretes one small delta dir per micro-batch;
``compact_store`` (run in a maintenance window, stream stopped) folds the
committed deltas into the base dirs so the file count stays bounded — the
small-files lifecycle every continuously-maintained table needs. Its
listing, swap and removal go through ``storage``, the Hadoop FileSystem
resolved from the store path, so compaction works on every scheme the
batches were written to.

Exactly-once without a transactional table format: the streaming checkpoint
pins each source file to one ``batch_id`` forever; every per-batch write is
keyed by that ``batch_id`` and overwritten whole on replay; and
``incremental_update`` is deterministic given (batch, prior catalog). On
replay of batch N the prior catalog is reconstructed as base ∪ deltas with
``batch_id < N`` — deltas N and above are EXCLUDED — so the rewrite is
byte-identical to the first attempt (asserted in
``tests/test_streaming_maintenance.py``). On a cluster the same closure
lands on Iceberg tables and the dir-per-batch idempotency becomes a real
``MERGE``; the plan inside is unchanged.

URI-stability contract is inherited from the incremental plan: an entity
URI, once minted by any earlier batch, never changes (see
``plans/incremental.py`` module docstring for the one documented divergence
from full recompute).

Reference parity: the reference has no streaming mode at all — it rebuilds
the store per run (``Pipeline.java`` stage order). This is the Spark-first
extension of its resume machinery (S17) to continuous ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from .. import storage
from ..config import EngineConfig
from ..session import driver_frame
from ..sources.transcripts import read_transcript_stream

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("mention", T.StringType()),
        T.StructField("canonical", T.StringType()),
    ]
)
TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_dtype", T.StringType()),
        T.StructField("is_literal", T.BooleanType()),
    ]
)


def _read_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read a parquet dir that may not exist yet (first batch) — an empty
    store is an empty DataFrame, not an error."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:
        return driver_frame(spark, [], schema)


def _base_and_deltas(
    spark: SparkSession, store_path: str, base: str, deltas: str, schema: T.StructType,
    before_batch: int | None = None,
) -> DataFrame:
    """``base`` ∪ the ``batch_id=N`` delta dirs under ``deltas`` (only
    those with ``N < before_batch`` when given: hive partition discovery
    turns the dir names into a filterable column, so the filter is
    partition pruning, not a scan)."""
    delta_schema = T.StructType(list(schema.fields) + [T.StructField("batch_id", T.IntegerType())])
    delta_rows = _read_or_empty(spark, f"{store_path}/{deltas}", delta_schema)
    if before_batch is not None:
        delta_rows = delta_rows.filter(F.col("batch_id") < F.lit(before_batch))
    return _read_or_empty(spark, f"{store_path}/{base}", schema).unionByName(
        delta_rows.select(*schema.fieldNames())
    )


def read_catalog(
    spark: SparkSession, store_path: str, before_batch: int | None = None
) -> DataFrame:
    """The maintained (mention, canonical) map: bootstrap ∪ per-batch deltas.

    ``before_batch=N`` reconstructs the catalog as it stood BEFORE batch N —
    the replay-idempotency read."""
    return _base_and_deltas(
        spark, store_path, "catalog_base", "catalog_delta", CATALOG_SCHEMA, before_batch
    )


def read_maintained_triples(spark: SparkSession, store_path: str) -> DataFrame:
    """The maintained triple store: compacted base ∪ every batch's delta."""
    return _base_and_deltas(spark, store_path, "triples_base", "triples", TRIPLE_SCHEMA)


def _delta_batch_ids(store_path: str, sub: str) -> list[int]:
    """Ids of the ``batch_id=N`` delta dirs under ``store_path/sub``."""
    return sorted(storage.partition_dirs(SparkSession.active(), f"{store_path}/{sub}", "batch_id"))


def _swap_in(spark: SparkSession, new_dir: str, dst_dir: str) -> None:
    old = dst_dir + "_old"
    # a crash mid-swap may have left one; a rename onto an existing dir
    # would nest inside it
    storage.delete(spark, old)
    if storage.exists(spark, dst_dir):
        storage.move(spark, dst_dir, old)
    storage.move(spark, new_dir, dst_dir)
    storage.delete(spark, old)


def compact_store(
    spark: SparkSession, store_path: str, through_batch: int | None = None
) -> dict:
    """Fold committed per-batch delta dirs into the base dirs.

    A micro-batch stream leaves one small parquet dir per batch; unbounded,
    that is the classic small-files failure mode — ``read_catalog`` unions
    thousands of dirs and every batch's attach join pays the listing cost.
    Compaction rewrites ``catalog_base``/``triples_base`` as base ∪ deltas
    with ``batch_id <= through_batch`` and removes the folded delta dirs.
    Reads are unchanged before/after (asserted in tests); the swap is
    write-new-then-rename, so a crash before the rename leaves the store
    intact. On a cluster the same fold is an Iceberg/Delta snapshot commit —
    here it is plain dirs, same plan.

    Safety contract: only fold batches the streaming checkpoint has
    COMMITTED — replay reconstructs the pre-batch catalog via
    ``before_batch``, which cannot exclude rows already folded into the
    base. Structured Streaming replays at most the first uncommitted batch,
    so with the stream stopped (the only sane time to compact),
    ``through_batch=None`` = fold everything present is safe.
    """
    cat_ids = _delta_batch_ids(store_path, "catalog_delta")
    trip_ids = _delta_batch_ids(store_path, "triples")
    if through_batch is None:
        through_batch = max(cat_ids + trip_ids, default=-1)
    fold_cat = [b for b in cat_ids if b <= through_batch]
    fold_trip = [b for b in trip_ids if b <= through_batch]
    if not fold_cat and not fold_trip:
        return {"through_batch": through_batch, "folded_batches": []}

    # write the folded bases to fresh dirs FIRST (fully materialized), then
    # swap; the folded delta dirs are only removed after both swaps land
    new_cat = read_catalog(spark, store_path, before_batch=through_batch + 1)
    new_cat.write.mode("overwrite").parquet(f"{store_path}/catalog_base_new")
    new_trip = _base_and_deltas(
        spark, store_path, "triples_base", "triples", TRIPLE_SCHEMA, before_batch=through_batch + 1
    )
    new_trip.write.mode("overwrite").parquet(f"{store_path}/triples_base_new")

    _swap_in(spark, f"{store_path}/catalog_base_new", f"{store_path}/catalog_base")
    _swap_in(spark, f"{store_path}/triples_base_new", f"{store_path}/triples_base")
    for b in fold_cat:
        storage.delete(spark, f"{store_path}/catalog_delta/batch_id={b}")
    for b in fold_trip:
        storage.delete(spark, f"{store_path}/triples/batch_id={b}")
    return {
        "through_batch": through_batch,
        "folded_batches": sorted(set(fold_cat) | set(fold_trip)),
    }


def maintenance_batch_fn(store_path: str, cfg: EngineConfig | None = None):
    """The ``foreachBatch`` closure. Exposed for direct testing: calling it
    twice with the same ``(batch_df, batch_id)`` must leave the store
    identical (replay idempotency)."""
    cfg = cfg or EngineConfig()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..plans.incremental import incremental_update

        spark = batch_df.sparkSession
        prior = read_catalog(spark, store_path, before_batch=int(batch_id))
        # vocabulary-scale; pin it so the attach plan doesn't re-read the
        # store mid-write (we overwrite delta dirs below)
        prior = prior.localCheckpoint(eager=True)
        res = incremental_update(spark, batch_df, prior, cfg)
        res.triples.write.mode("overwrite").parquet(
            f"{store_path}/triples/batch_id={int(batch_id)}"
        )
        res.canonical_delta.write.mode("overwrite").parquet(
            f"{store_path}/catalog_delta/batch_id={int(batch_id)}"
        )

    return process


def stream_kg_maintenance(
    spark: SparkSession,
    input_path: str,
    store_path: str,
    checkpoint_path: str,
    cfg: EngineConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """File-source turns → continuous catalog + triple-store maintenance.

    ``available_now=True`` drains the backlog and stops — the scheduled
    incremental-batch deployment; otherwise the query runs continuously.
    Returns the StreamingQuery; caller owns ``awaitTermination``."""
    stream = read_transcript_stream(spark, input_path, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(maintenance_batch_fn(store_path, cfg))
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
