"""The one way every streaming sink here starts: checkpointed, with the
``availableNow`` trigger (drain what has arrived, then stop)."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def start(writer: DataStreamWriter, checkpoint_dir: str, timeout_s: float | None) -> StreamingQuery:
    """Start ``writer`` with its checkpoint at ``checkpoint_dir`` (the
    processed-files log and any state store, so a restart resumes
    without recompute); wait up to ``timeout_s`` seconds when given.
    Output mode stays the writer's (append unless it sets one)."""
    q = writer.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True).start()
    if timeout_s is not None:
        q.awaitTermination(timeout_s)
    return q
