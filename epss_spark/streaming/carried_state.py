"""Shared writeStream wiring for the foreachBatch streams.

`start_carried_stream` is the one place the drift, kmeans, quality,
score and contamination streams attach their per-epoch `process_batch`
callback to a source: foreachBatch, a checkpoint directory, and an
optional availableNow trigger. The callbacks own their commit logic;
the replay-idempotency and store-layout invariants they follow are the
dedup_stream module docstring's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def start_carried_stream(
    events_stream: DataFrame,
    checkpoint_dir: str,
    process_batch,
    available_now: bool = True,
):
    """The shared writeStream wiring: foreachBatch + checkpoint +
    optional availableNow trigger. `process_batch(batch_df, epoch_id)`
    is the stream's per-epoch commit."""
    writer = events_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
