"""Streaming structural-triple emission.

One logical plan shared with the batch path: ``emit_transcript_triples``
is a pure projection (single ``explode`` of a packed ``array<struct>``,
zero shuffle — see ``operators/triples.py``), so it lifts to a streaming
DataFrame unchanged. Exactly-once lands on the sink via the streaming
checkpoint; ``Trigger.AvailableNow`` turns the same job into an
incremental batch (process everything new, then stop) — the deployment
mode a 1000-executor cluster would run on a schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.transcripts import ingest, read_transcript_stream
from ._sink import start_parquet_sink


def streaming_triples(stream: DataFrame) -> DataFrame:
    """Apply the SAME normalization + emission plan the batch path uses.

    Conversation-row triples ride the ``turn_idx == 0`` marker row
    (``emit_transcript_triples``), which lands in exactly one micro-batch —
    so the streaming plan is fully STATELESS and still exactly-once: no
    dedup state store, no watermark, nothing to size."""
    from ..operators.po_extraction import transcript_po
    from ..operators.triples import emit_transcript_triples

    return emit_transcript_triples(ingest(stream), transcript_po())


def stream_transcript_triples(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """File-source → structural triples → parquet sink, exactly-once.

    ``available_now=True`` drains the backlog and stops (incremental batch);
    otherwise the query runs continuously. Returns the StreamingQuery —
    caller owns ``awaitTermination``."""
    triples = streaming_triples(read_transcript_stream(spark, input_path, max_files_per_trigger))
    return start_parquet_sink(triples, output_path, checkpoint_path, available_now)


def stream_episode_ids(turns_stream: DataFrame, gap_seconds: int = 300) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-conversation time-gap sessionization whose state — ``(last turn
    second, episode counter)``, O(1) per live conversation — carries
    across micro-batches, so a conversation split over many triggers gets
    exactly the episode ids the batch window (``operators/episodes.py
    episode_ids``) computes; tests assert the equality.

    The per-batch computation is fully vectorized pandas (diff + cumsum
    seeded from state — no per-row Python). Assumes per-conversation
    arrival in turn order across triggers (file sources deliver in file
    order); out-of-order ingestion needs a watermark + buffer stage in
    front, which the stateless emission path deliberately avoids."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def segment(key, pdfs, state: GroupState):
        last_sec, episode = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("turn_idx")
            secs = pdf["ts"].astype("int64") // 1_000_000_000
            gaps = secs.diff()
            first_new = last_sec is None or int(secs.iloc[0]) - last_sec > gap_seconds
            new_ep = gaps > gap_seconds
            new_ep.iloc[0] = first_new
            eps = episode + new_ep.cumsum().astype("int32")
            episode = int(eps.iloc[-1])
            last_sec = int(secs.iloc[-1])
            yield pd.DataFrame(
                {"conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "episode": eps}
            )
        state.update((last_sec, episode))

    return (
        turns_stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            segment,
            "conv_id string, turn_idx int, episode int",
            "last_sec long, episode int",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
