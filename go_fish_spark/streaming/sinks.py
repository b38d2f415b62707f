"""Streaming sinks (≡ `output/`).

| reference | here |
|---|---|
| File sink: JSON + newline + fsync per event (`output/file.go:31-54`) | ``json_sink`` — durable per-micro-batch commit (documented delta: per-batch, not per-event, SURVEY §4.2) |
| SQS per-event SendMessage (`output/sqs.go:40-61`) | ``foreach_sink`` adapter calling a user function per row/batch |
| nil-skipping (`output/file.go:38-40`) | tasks return filtered DataFrames; nothing to skip |
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def json_sink(
    df: DataFrame, path: str, checkpoint: str, trigger_available_now: bool = False
) -> StreamingQuery:
    w = df.writeStream.format("json").option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def foreach_sink(
    df: DataFrame,
    fn: Callable,
    checkpoint: str,
    per_batch: bool = True,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """≡ the SQS sink's per-event SendMessage loop (`output/sqs.go:40-61`),
    generalized: ``fn(batch_df, batch_id)`` (or ``fn(row)`` when
    per_batch=False, which is the literal per-event shape — use per-batch
    for anything that can batch its I/O)."""
    w = df.writeStream.option("checkpointLocation", checkpoint)
    w = w.foreachBatch(fn) if per_batch else w.foreach(fn)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def idempotent_json_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Exactly-once-per-batch JSON sink for at-least-once delivery.

    Structured Streaming replays a micro-batch after a crash between
    "sink wrote" and "checkpoint committed"; a plain append sink then
    duplicates that batch's rows. Spark's file sink solves this with a
    transaction log; this is the same idea for foreachBatch-style custom
    sinks (the reference's SQS sink has no such story — `output/sqs.go`
    is fire-and-forget per event): each batch writes to
    ``path/batch_id=N`` with overwrite, so a replayed batch id rewrites
    the SAME directory instead of appending a duplicate. Readers see each
    batch exactly once; the partition column also records provenance."""
    w = df.writeStream.option("checkpointLocation", checkpoint).foreachBatch(
        idempotent_batch_writer(path)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def idempotent_batch_writer(path: str) -> Callable[[DataFrame, int], None]:
    """The replay-safe write used by :func:`idempotent_json_sink` —
    overwrite-into-batch_id-directory, so re-delivery of a batch id is a
    rewrite, not a duplicate append."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").json(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return write
