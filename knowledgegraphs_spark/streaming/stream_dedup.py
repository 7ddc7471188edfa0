"""Streaming ingestion deduplication with watermark-bounded state.

The fourth Structured Streaming idiom in the engine (after stateless
emission, stateful sessionization, and watermarked windowed rollups):
at-least-once transports (Kafka redeliveries, file-source replays,
upstream retries) hand the KG builder the SAME turn more than once, and
every duplicate turn becomes duplicate mentions, duplicate match edges,
and skewed counters downstream. The classic fix — ``dropDuplicates``
over the full history — needs state proportional to STREAM LENGTH,
which is exactly what a 10¹²-turn stream cannot keep.

``dropDuplicatesWithinWatermark`` is the bounded-state form: a key's
first arrival is emitted immediately (append mode, no latency cost) and
remembered only until the event-time watermark passes ``first_seen +
delay``; duplicates landing inside that horizon are dropped, and state
size is a function of the REDELIVERY BOUND (keys per delay window), not
of stream length. The documented trade, pinned by tests rather than
hidden: a duplicate arriving after the horizon is re-emitted — choose
the delay ≥ the transport's worst redelivery lag (for Kafka that's
broker retention of in-flight retries, minutes not days), and exact
global dedup stays a batch concern (``operators/dedup.py``) for the
compaction pass.

Key choice for transcripts: ``(conv_id, turn_idx)`` is the natural
idempotency key (the north rule's stable ordering key); for document
streams, a content fingerprint (``xxhash64``) gives exact-duplicate
semantics — the streaming complement of the batch ``d1`` operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Drop redeliveries of the same ``keys`` arriving within ``delay``
    of the first occurrence (event time). On a batch DataFrame (Spark
    rejects ``dropDuplicatesWithinWatermark`` outside streaming) this
    falls back to plain ``dropDuplicates`` over the keys — the stream's
    fixpoint when every duplicate is within the horizon, which is what
    the stream==batch test asserts."""
    if not df.isStreaming:
        return df.dropDuplicates(list(keys))
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


def dedup_turns_stream(
    turns: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """Idempotent transcript ingestion: one row per (conv_id, turn_idx)
    within the redelivery horizon."""
    return stream_dedup(turns, ["conv_id", "turn_idx"], "ts", delay)


def stream_dedup_turns(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    delay: str = "10 minutes",
    max_files_per_trigger: int | None = None,
):
    """File source → watermark-bounded dedup → parquet, append mode.
    First arrival of each (conv_id, turn_idx) is written in ITS OWN
    micro-batch (dedup is not an aggregation — no emission latency);
    redeliveries within the horizon are dropped. Returns the
    StreamingQuery (caller awaits). ``max_files_per_trigger=1`` gives
    the tests one micro-batch per file so the watermark provably
    advances between a first arrival and its redelivery."""
    from ..sources.transcripts import read_transcript_stream

    deduped = dedup_turns_stream(read_transcript_stream(spark, input_path, max_files_per_trigger), delay)
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_documents_stream(
    docs: DataFrame, text_col: str = "text", ts_col: str = "ts", delay: str = "10 minutes"
) -> DataFrame:
    """Exact-content streaming dedup (the d1 fingerprint as a stream):
    first document with a given text hash wins within the horizon."""
    return stream_dedup(
        docs.withColumn("_fp", F.xxhash64(F.col(text_col))), ["_fp"], ts_col, delay
    ).drop("_fp")
