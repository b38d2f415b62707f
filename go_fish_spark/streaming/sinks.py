"""Streaming sinks (≡ `output/`).

| reference | here |
|---|---|
| File sink: JSON + newline + fsync per event (`output/file.go:31-54`) | Spark's file sink (``_spark_metadata`` log) — durable per-micro-batch commit (documented delta: per-batch, not per-event, SURVEY §4.2) |
| SQS per-event SendMessage (`output/sqs.go:40-61`) | ``foreach_sink`` adapter calling a user function per row/batch; ``idempotent_batch_writer`` for replay-safe JSON |
| File sink behind per-batch engine work | ``file_sink_log_writer`` — a ``foreach_sink`` batch writer committing through Spark's own file-sink log |
| nil-skipping (`output/file.go:38-40`) | tasks return filtered DataFrames; nothing to skip |
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


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


def idempotent_batch_writer(path: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once-per-batch JSON writes for at-least-once delivery (the
    reference's SQS sink has no such story — `output/sqs.go` is
    fire-and-forget per event): Structured Streaming replays a micro-batch
    after a crash between "sink wrote" and "checkpoint committed", so each
    batch overwrites ``path/batch_id=N`` — a replayed id rewrites the SAME
    directory instead of appending a duplicate; the partition column also
    records provenance."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").json(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return write


#: Spark's file-sink class: 4.1 moved it into ``streaming.sinks``.
FILE_STREAM_SINK_CLASSES = (
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    "org.apache.spark.sql.execution.streaming.FileStreamSink",
)
_FILE_FORMATS = {
    "json": "org.apache.spark.sql.execution.datasources.json.JsonFileFormat",
    "parquet": "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
}


def jvm_class(jvm, names: Iterable[str]):
    """The first of the fully-qualified class ``names`` the JVM defines."""
    from py4j.java_gateway import JavaClass

    for name in names:
        cls = functools.reduce(getattr, name.split("."), jvm)
        if isinstance(cls, JavaClass):
            return cls
    raise RuntimeError(f"none of {list(names)} is on this Spark's classpath")


def file_sink_log_writer(spark, path: str, fmt: str = "json") -> Callable[[DataFrame, int], None]:
    """A ``foreach_sink`` batch writer that commits through Spark's own
    ``FileStreamSink.addBatch``: the data files plus ``_spark_metadata/<N>``,
    exactly what the native ``json``/``parquet`` streaming sink writes. So
    ``spark.read.json(path)`` lists committed batches only, and a batch
    id the log already holds (a replay) writes nothing."""
    jvm = spark._jvm
    sink = jvm_class(jvm, FILE_STREAM_SINK_CLASSES)(
        spark._jsparkSession,
        path,
        jvm_class(jvm, [_FILE_FORMATS[fmt]])(),
        jvm.PythonUtils.toSeq([]),
        jvm.PythonUtils.toScalaMap({}),
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        sink.addBatch(batch_id, batch_df._jdf)

    return write
