"""The parquet file sink every transcript stream job writes through."""

from __future__ import annotations

from pyspark.sql import DataFrame


def start_parquet_sink(
    stream: DataFrame, output_path: str, checkpoint_path: str, available_now: bool = True
):
    """Start ``stream`` into a parquet directory in append mode, exactly-once
    via ``checkpoint_path``. ``available_now=True`` drains the backlog and
    stops (incremental batch); otherwise the query runs continuously.
    Returns the StreamingQuery — caller owns ``awaitTermination``."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
