"""Structured Streaming index ingestion.

The reference is a batch library (its writer takes explicit document
batches, index_writer.cpp documents() contexts); a Spark-native engine gets
continuous ingestion from Structured Streaming instead: ``readStream`` →
``foreachBatch`` → :meth:`IndexBuilder.append`. Each micro-batch commits a
new index generation containing the batch's segments; readers pinned to an
older generation keep their snapshot (the commit of every writer,
index/commit.py).

Exactly-once: Spark's checkpoint may REPLAY a micro-batch after a crash;
``append(batch_id=...)`` records the last committed batch id in the index
meta and turns replays into no-ops — the engine-side half of the
end-to-end idempotence contract.

Late data needs no watermark here: an index append is order-independent
(new docs land in new segments; global stats are re-aggregated), so late
pages simply arrive in a later generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..index.builder import IndexBuilder


def stream_index(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    key_col: str,
    text_col: str,
    stored_cols: tuple[str, ...] = (),
    analyzer: str = "simple",
    segments_per_batch: int | None = None,
    trigger: dict | None = None,
):
    """Start a streaming query appending ``stream_df`` micro-batches to the
    index at ``index_path``. Returns the StreamingQuery.

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` (e.g.
    ``{"availableNow": True}`` to drain a source once, or
    ``{"processingTime": "30 seconds"}``)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        builder = IndexBuilder(
            batch_df.sparkSession,
            index_path,
            analyzer=analyzer,
            num_segments=segments_per_batch,
        )
        builder.append(
            batch_df,
            key_col=key_col,
            text_col=text_col,
            stored_cols=stored_cols,
            batch_id=batch_id,
        )

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
