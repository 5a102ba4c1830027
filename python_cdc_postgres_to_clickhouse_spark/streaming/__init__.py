"""Structured Streaming surface (SURVEY.md §2.5).

The reference's streaming loop is ``while True: consumer.poll(10)``
(main.py:27-29); here the same semantics are one continuous query: source →
watermark → stateful ops → sink, with offsets checkpointed (D4) instead of
consumer-group commits. A file-based envelope stream stands in for Kafka in
tests — same schema, same downstream operators, swap the source builder for
``sources.kafka.stream_reader`` on a real cluster.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def start_foreach_batch(
    stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_kwargs: dict,
) -> StreamingQuery:
    """Start ``stream`` into a sink's ``process_batch(batch_df, batch_id)``
    with checkpointed offsets; ``trigger_kwargs`` default to availableNow."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(**(trigger_kwargs or {"availableNow": True}))
        .start()
    )
