"""Stateful streaming operators — the reference's KV/Counter state programs
on Spark's streaming state.

| reference | here |
|---|---|
| KVStore set/get (`state/kv.go:45-80`), BoltDB-persisted | the ``s2s_enrich``/``keyed_counter`` tasks' batch-stamped KV log (``streaming/kvlog.py``), one JVM window/aggregation per micro-batch; a user-written ``StatefulTask``: one ``applyInPandas`` per micro-batch over the same log |
| s2s enrichment join (`s2s_rules/cloudTrail_s2s_join.go:68-78,124-130`) | task ``s2s_enrich`` (``tasks/builtin_stateful.py``) run through ``CompiledPipeline.start``; ``interval_enrich_stream`` for the bounded-age native join |
| keyed agg w/ drain (`agg_rules/cloudTrail_agg.go:30-96`) | ``windowed_count_stream`` (event-time window + watermark — the declared-interval upgrade over the 1 s processing-time poller, SURVEY §2.4) |
| Counter window read-and-reset (`state/count.go:18-31`) | ``global_count_stream`` (update mode) |
| point-in-time features (q92's live arm) | task ``pit_features``: one JVM aggregation per micro-batch over the KV log |
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_enrich_stream(
    reads: DataFrame,
    writes: DataFrame,
    *,
    key_col: str = "key",
    read_ts_col: str = "ts",
    write_ts_col: str = "ts",
    value_col: str = "principal",
    fallback_col: str = "principal_id",
    max_age: str = "10 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """The NATIVE stream-stream arm of the s2s enrichment join: Spark's
    built-in watermarked interval join instead of per-key Python state —
    each read event pairs with every write for its key whose timestamp
    falls in ``[read_ts − max_age, read_ts]``; reads with no such write
    emit once with the fallback (left outer). Contrast the ``s2s_enrich``
    task (``cloudTrail_s2s_join.go`` semantics:
    LATEST write wins, unbounded age): the interval form is what the
    built-in join state can express — bounded-age matches, ALL of them —
    and stays entirely JVM-side; collapse to as-of (latest-only) with a
    per-(event) argmax at epoch close when needed (q31's batch shape).

    Runs unchanged on batch frames (``withWatermark`` is a no-op in
    batch — the parity test's oracle arm). In streaming BOTH sides carry
    the watermark; with the time-range condition Spark evicts join state
    older than ``max_age`` behind the watermark, so state is bounded by
    in-window rows per key, and unmatched reads emit exactly when the
    watermark passes their match window.

    Output: (event_id, ts, key, entity, write_ts — NULL on fallback).
    """
    r = reads.withWatermark(read_ts_col, watermark).alias("r")
    w = writes.withWatermark(write_ts_col, watermark).alias("w")
    cond = (
        (F.col(f"r.{key_col}") == F.col(f"w.{key_col}"))
        & (F.col(f"w.{write_ts_col}") <= F.col(f"r.{read_ts_col}"))
        & (
            F.col(f"w.{write_ts_col}")
            >= F.col(f"r.{read_ts_col}") - F.expr(f"INTERVAL {max_age}")
        )
    )
    return r.join(w, cond, "leftOuter").select(
        F.col("r.event_id").alias("event_id"),
        F.col(f"r.{read_ts_col}").alias("ts"),
        F.col(f"r.{key_col}").alias("key"),
        F.coalesce(
            F.col(f"w.{value_col}"), F.col(f"r.{fallback_col}")
        ).alias("entity"),
        F.col(f"w.{write_ts_col}").alias("write_ts"),
    )


def windowed_count_stream(
    events: DataFrame,
    time_col: str,
    interval: str,
    keys: list[str],
    watermark: str = "0 seconds",
    count_alias: str = "occurrences",
) -> DataFrame:
    """Keyed tumbling-window count ≡ the windowed agg drain
    (`agg_rules/cloudTrail_agg.go:30-96` + `window.go:38-49`): state
    accumulates per (window, key); the watermark closing a window is the
    declared-interval drain. Use output mode ``update`` to see per-batch
    increments (the reference's repeated emissions) or ``append`` for
    final-only."""
    withw = events.withWatermark(time_col, watermark)
    return withw.groupBy(
        F.window(F.col(time_col), interval).alias("win"), *[F.col(k) for k in keys]
    ).agg(F.count(F.lit(1)).alias(count_alias))


def dedup_within_watermark_stream(
    events: DataFrame,
    keys: list[str],
    time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The NATIVE streaming arm of the reference's KV get-or-create
    dedup (`state/kv.go` pattern; batch = ``dropDuplicates`` / q23):
    Spark's ``dropDuplicatesWithinWatermark`` keeps the first arrival
    per key and — unlike a plain streaming ``dropDuplicates``, whose
    key state grows FOREVER — evicts each key's state once the
    watermark passes its event time plus the delay. That bounded-state
    contract is the only honest way to run dedup on an unbounded
    stream: duplicates separated by more than ``watermark`` in event
    time MAY both survive, by design; within it, exactly one does.

    On a batch frame this degrades to plain ``dropDuplicates(keys)``
    (the parity test's oracle arm, with full-row keys so survivor
    choice is deterministic)."""
    if events.isStreaming:
        return events.withWatermark(
            time_col, watermark
        ).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def dedup_rate_streams(
    events: DataFrame,
    payload_col: str,
    time_col: str = "ts",
    interval: str = "1 hour",
    watermark: str = "0 seconds",
) -> tuple[DataFrame, DataFrame]:
    """Streaming arm of the x52 duplication-rate trend — the recurring-
    crawl health monitor, live. Streaming forbids both COUNT(DISTINCT)
    and chained aggregations, so the monitor splits into the two
    streaming-legal plans it is actually made of:

      * ``totals`` — watermarked windowed count (state ∝ open windows);
      * ``distincts`` — :func:`dedup_within_watermark_stream` keyed on
        (payload, window) followed by ONE windowed count (dedup is a
        stateful op, not an aggregation, so the chain is legal; its
        state is evicted behind the watermark).

    Join the two at read time on the window (``1 - d/n`` = dup rate) —
    the same two-monitor composition a metrics backend performs.
    Equals the batch per-window count/count-distinct exactly for data
    within the watermark (parity-tested).

    Returns (totals, distincts), each (win struct, count)."""
    w = events.withWatermark(time_col, watermark)
    win = F.window(F.col(time_col), interval)
    totals = w.groupBy(win.alias("win")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # the window struct inherits the event-time marker; the raw time
    # column must go before the dedup or Spark rejects the plan with
    # "more than one event time column"
    deduped = (
        w.withColumn("_win", win)
        .drop(time_col)
        .dropDuplicatesWithinWatermark([payload_col, "_win"])
    )
    distincts = deduped.groupBy(F.col("_win").alias("win")).agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    return totals, distincts


def combine_dedup_rate(totals: DataFrame, distincts: DataFrame) -> DataFrame:
    """Epoch-close combiner for :func:`dedup_rate_streams` output read
    back as batch frames: the x52 report shape (window_start, n_events,
    n_distinct, dup_rate round-6)."""
    return (
        totals.join(distincts, "win")
        .select(
            F.col("win.start").alias("window_start"),
            "n_events",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_events"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("window_start")
    )


def global_count_stream(events: DataFrame) -> DataFrame:
    """≡ Counter.Increment + destructive Window() read (`state/count.go:
    18-31`): in update mode each micro-batch emits the running total; the
    delta between emissions is the reference's read-and-reset value."""
    return events.agg(F.count(F.lit(1)).alias("cnt"))
