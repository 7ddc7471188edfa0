"""Watermarked windowed aggregation over the transcript stream.

The third Structured Streaming idiom the engine ships (next to the
stateless emission and the ``applyInPandasWithState`` sessionization in
``incremental.py``): event-time tumbling-window rollups with bounded
state under late data. The reference has no streaming at all — this is
the ingestion-telemetry shape a continuously-maintained KG needs: how
many turns / tokens / conversations landed per event-time window and
role, emitted exactly once per window when the watermark closes it.

Scale shape: ``groupBy(window(ts), role)`` is a map-side-combinable
hash aggregate whose streaming state is bounded by
``open windows × roles`` — the watermark retires state the moment the
event-time frontier passes ``window end + delay``, so state size is a
function of the LATENESS BOUND, never of stream length. Late rows
beyond the watermark are dropped by the aggregation operator itself
(no UDF, no custom bookkeeping), which is exactly the documented
trade: completeness within the delay bound for O(1) state.

Late-drop nuance (SPARK-40925, Spark ≥ 3.4): the late-event filter
uses the PREVIOUS micro-batch's watermark while state eviction uses
the current one, so a straggler arriving one batch after the frontier
advanced may still merge into not-yet-emitted state; one arriving
after its window was EMITTED is always dropped — append-mode windows
stay exactly-once. The tests pin both sides of this boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text_analysis import token_count


def windowed_turn_stats(
    turns: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per (event-time window, role) rollup of a transcript stream:
    turn count, whitespace-token sum, distinct-conversation count.

    Works identically on a batch DataFrame (watermark is a no-op in
    batch, so the stream's on-time output can be equality-tested
    against the batch plan over the same rows — the test does).

    ``approx_count_distinct`` rather than exact ``countDistinct``:
    exact distinct inside a streaming aggregation needs per-key
    presence state proportional to distinct conv_ids per window;
    the HLL sketch keeps state constant-size per (window, role) and
    merges map-side. Batch/stream equality still holds because the
    sketch is deterministic for identical input multisets.
    """
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "n_tokens",
            "approx_convs",
        )
    )


def stream_windowed_turn_stats(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
):
    """File source → watermarked window rollup → parquet, append mode:
    each window row is written exactly once, when the watermark passes
    its close. Returns the StreamingQuery (caller awaits).

    ``max_files_per_trigger=1`` forces one micro-batch per input file —
    the tests use it to advance the watermark between files and prove
    the late-drop semantics deterministically."""
    from ..sources.transcripts import read_transcript_stream

    stream = read_transcript_stream(spark, input_path, max_files_per_trigger)
    stats = windowed_turn_stats(stream, window, watermark)
    return (
        stats.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
