"""Stateful streaming operators — the reference's KV/Counter state programs
on Spark's streaming state.

| reference | here |
|---|---|
| KVStore set/get (`state/kv.go:45-80`), BoltDB-persisted | the ``s2s_enrich``/``keyed_counter`` tasks' batch-stamped KV log (``streaming/kvlog.py``), one JVM window/aggregation per micro-batch; ``run_stateful`` (``applyInPandasWithState``) for user-written keyed tasks |
| s2s enrichment join (`s2s_rules/cloudTrail_s2s_join.go:68-78,124-130`) | task ``s2s_enrich`` (``tasks/builtin_stateful.py``) run through ``CompiledPipeline.start``; ``interval_enrich_stream`` for the bounded-age native join |
| keyed agg w/ drain (`agg_rules/cloudTrail_agg.go:30-96`) | ``windowed_count_stream`` (event-time window + watermark — the declared-interval upgrade over the 1 s processing-time poller, SURVEY §2.4) |
| Counter window read-and-reset (`state/count.go:18-31`) | ``global_count_stream`` (update mode) |
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


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


#: Feature row emitted by :func:`pit_feature_stream` — the q92 feature
#: vector (labels are a batch concern; the stream maintains FEATURES).
PIT_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events_before", T.LongType()),
        T.StructField("n_types_before", T.LongType()),
        T.StructField("recency_days", T.IntegerType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def pit_feature_stream(
    events: DataFrame,
    cutoff: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Streaming arm of q92's point-in-time training-set construction
    (`queries/stateful.py`): incrementally maintain each user's feature
    vector as events arrive, under the CUTOFF DISCIPLINE — rows at or
    past ``cutoff`` are filtered BEFORE the stateful operator, so the
    features physically cannot read the label period (the live form of
    temporal-leakage protection; batch q92 enforces the same bound with
    a scan filter). After each micro-batch every touched user emits its
    CURRENT feature row; the latest emission per user is that user's
    point-in-time feature vector, and at end-of-stream it equals the
    batch computation row-for-row (parity test in test_streaming.py).

    Exactness across arms: ``total_value`` is maintained as an INTEGER
    count of 1e-12 units (the batch arm's round-12 → decimal(27,18)
    discipline — no float accumulation drift between one big batch and
    many small ones); ``n_types_before`` keeps the bounded distinct
    type-set in state; ``recency_days`` = days(cutoff_date − max event
    date).

    100 TB shape: state is keyed by user and partitioned across
    executors, checkpoint-persisted; each micro-batch does ONE keyed
    exchange of just that batch's rows. The type-set per user is
    bounded by the event-type vocabulary, and the emitted frame is one
    row per TOUCHED user per batch, not per event."""
    from datetime import date, datetime
    from decimal import ROUND_HALF_UP, Decimal

    cutoff_dt = datetime.fromisoformat(cutoff)
    cutoff_day: date = cutoff_dt.date()
    cols = [f.name for f in PIT_FEATURE_SCHEMA]

    def proc(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import json as _json

        st = _json.loads(state.get[0]) if state.exists else {
            "n": 0, "types": [], "max_day": None, "units": None,
        }
        types = set(st["types"])
        rows = pd.concat(list(pdfs))
        for row in rows.itertuples(index=False):
            st["n"] += 1
            # NULL types are ignored, matching the batch arm's
            # countDistinct (and keeping the sorted() serialization
            # total-ordered — None is not comparable to str)
            ty = getattr(row, type_col)
            if ty is not None and not pd.isna(ty):
                types.add(ty)
            d = getattr(row, ts_col).date().isoformat()
            if st["max_day"] is None or d > st["max_day"]:
                st["max_day"] = d
            v = getattr(row, value_col)
            if v is not None and not pd.isna(v):
                # round-12 → integer 1e-12 units: the batch arm's
                # decimal(27,18) sum, without float drift across batches.
                # units stays None until a non-null value arrives —
                # SQL SUM over all-NULL is NULL, not 0
                st["units"] = (st["units"] or 0) + int(
                    Decimal(repr(float(v))).quantize(
                        Decimal("1e-12"), rounding=ROUND_HALF_UP
                    ).scaleb(12)
                )
        st["types"] = sorted(types)
        state.update((_json.dumps(st),))
        recency = (cutoff_day - date.fromisoformat(st["max_day"])).days
        # Mirror the BATCH arm's rounding path EXACTLY: the batch sum is
        # decimal(27,18) → CAST AS DOUBLE → round(x, 6), and Spark's
        # round-on-double goes through BigDecimal.valueOf(double) — i.e.
        # Decimal(repr(x)) — before HALF_UP. Quantizing the exact decimal
        # directly can differ on half-ulp .5 boundaries at the 6th
        # decimal, so convert to float FIRST, then re-parse its repr.
        if st["units"] is not None:
            as_double = float(Decimal(st["units"]).scaleb(-12))
            total = float(
                Decimal(repr(as_double)).quantize(
                    Decimal("1e-6"), rounding=ROUND_HALF_UP
                )
            )
        else:
            total = None
        yield pd.DataFrame(
            [[key[0], st["n"], len(types), recency, total]], columns=cols
        )

    gated = events.filter(
        F.col(ts_col) < F.lit(cutoff).cast("timestamp")
    )
    return gated.groupBy(F.col(user_col)).applyInPandasWithState(
        proc,
        outputStructType=PIT_FEATURE_SCHEMA,
        stateStructType=T.StructType([T.StructField("json", T.StringType())]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
