"""Keyed-state tasks — the reference's two flagship stateful rule programs,
JSON-declarable (no Python required), q92's point-in-time features, and
the base class of user-written keyed tasks, all running in BOTH batch and
streaming through one code path.

The reference ships these as compiled Go plugins:
  * ``s2s_enrich`` ≡ `s2s_rules/cloudTrail_s2s_join.go`: on a write-event,
    ``kv.Set(key, derived_value)`` (`:68-78`); on any later event,
    ``kv.Get(key)`` with fallback to the raw key on miss (`:124-130`).
  * ``keyed_counter`` ≡ `agg_rules/cloudTrail_agg.go:30-96`: filter →
    get-or-create per key → ``Occurrences++`` with first-event metadata,
    drained per window.

Design: all user-declared logic (predicates, derivations, fallbacks) is
SQL strings compiled to Column expressions, and the state semantics are
one window (``last(...) IGNORE NULLS``) or one hash aggregation — JVM-side,
no Python operator. ``init(state)`` hands the task a :class:`KVLog`: empty
in a plain batch run; in streaming, once per micro-batch, the rule's
durable patch log (``CompiledPipeline.start``). The window or aggregation
then runs over (live KV rows ∪ batch), KV rows first by ``_batch_id``, and
reports the keys the batch changed as the next patch.

``pit_features`` is one such aggregation. A user's :class:`StatefulTask`
is the one arm with Python: one ``applyInPandas`` over the same union.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..streaming.kvlog import STAMP, KVLog
from .protocol import BasicTask
from .registry import register_task


class KeyedStateTask(BasicTask):
    """A task whose state is a keyed KV: the compiler hands it a durable
    :class:`KVLog` per micro-batch; anything else means empty."""

    keyed_state = True

    @property
    def kv(self) -> KVLog:
        return self.state if isinstance(self.state, KVLog) else KVLog()


@register_task("s2s_enrich")
class S2SEnrich(KeyedStateTask):
    """Stream-to-stream enrichment with "latest seen" keyed state.

    Options:
      key         — state key column (≡ assumedRoleID / PrincipalId)
      time        — event-time column ordering the state writes
      write_when  — SQL bool: rows that WRITE state (≡ the AssumeRole arm)
      write_value — SQL expr: the value written (≡ generatePrincipalName)
      fallback    — SQL expr on state miss (default: CAST(key AS STRING),
                    ≡ the raw-PrincipalId fallback, `:128-130`)
      alias       — output column name (default "entity")
      tiebreak    — optional column breaking equal-time ordering

    KV: (key → the key's last write); a batch's patch holds the last
    write of each key it wrote.
    """

    def apply(self, df: DataFrame) -> DataFrame:
        o, kv = self.options, self.kv
        key = o["key"]
        fallback = o.get("fallback", f"CAST({key} AS STRING)")
        order_cols = [o["time"]] + ([o["tiebreak"]] if "tiebreak" in o else [])

        # All declared logic becomes Column expressions up front.
        prepared = df.select(
            "*",
            F.when(F.expr(o["write_when"]), F.expr(o["write_value"])).alias("_wv"),
            F.expr(fallback).cast("string").alias("_fb"),
            kv.stamp(),
        )

        w = Window.partitionBy(key).orderBy(STAMP, *order_cols)
        upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wrote = F.when(F.col("_wv").isNotNull(), F.col(STAMP))
        out = kv.union(prepared, key, ["_wv"]).select(
            "*",
            F.last("_wv", ignorenulls=True).over(upto).alias("_v"),
            # stamp of the key's latest write, and the key's last row
            F.last(wrote, ignorenulls=True).over(upto).alias("_vb"),
            F.lead(STAMP).over(w).isNull().alias("_end"),
        )
        out = kv.observe(
            out, F.col("_end") & kv.is_batch("_vb"), [F.col(key), F.col("_v")]
        )
        return (
            out.filter(kv.is_batch())
            .withColumn(o.get("alias", "entity"), F.coalesce("_v", "_fb"))
            .drop("_wv", "_fb", "_v", "_vb", "_end", STAMP)
        )


@register_task("keyed_counter")
class KeyedCounter(KeyedStateTask):
    """Keyed occurrence counting with first-event metadata.

    Options:
      key    — grouping key (≡ the per-principal OutputEvent key)
      when   — SQL bool filter (default all rows; ≡ MfaAuthenticated ==
               "false", `agg_rules/cloudTrail_agg.go:43-46`)
      time   — event-time column; min(time) ≡ the first-event metadata
               kept by get-or-create (`:47-63`)

    Output: (key, occurrences, first_seen) of every key the input touched
    — in streaming, the running values per micro-batch. KV: those rows
    (≡ the get-or-create KV entry), which are also the batch's patch.
    """

    def apply(self, df: DataFrame) -> DataFrame:
        o, kv = self.options, self.kv
        key = o["key"]
        d = df.filter(F.expr(o["when"])) if "when" in o else df
        rows = kv.union(
            d.select(
                key,
                F.lit(None).cast("long").alias("occurrences"),
                F.col(o["time"]).alias("first_seen"),
                kv.stamp(),
            ),
            key,
            ["occurrences", "first_seen"],
        )
        # KV counts only grow, so the max is the latest
        out = (
            rows.groupBy(key)
            .agg(
                (
                    F.coalesce(F.max("occurrences"), F.lit(0))
                    + F.count(F.when(kv.is_batch(), 1))
                ).alias("occurrences"),
                F.min("first_seen").alias("first_seen"),
                F.max(STAMP).alias(STAMP),
            )
            .filter(kv.is_batch())
        )
        out = kv.observe(
            out, F.lit(True), [F.col(c) for c in (key, "occurrences", "first_seen")]
        )
        return out.drop(STAMP)


@register_task("pit_features")
class PitFeatures(KeyedStateTask):
    """q92's point-in-time user features over the ``events`` columns
    (``user_id``, ``ts``, ``event_type``, ``value``), under the cutoff
    discipline: rows at or past the cutoff are dropped before the state,
    so no feature can read the label period.

    Options:
      cutoff — timestamp literal, e.g. "2024-01-21 00:00:00"

    Output: (user_id, n_events_before, n_types_before, recency_days,
    total_value) of every user the input touched before the cutoff; the
    latest emission per user equals the batch computation over all rows so
    far (``total_value`` is the exact decimal(27,18) sum, then round-6).
    KV: (user_id → count, type set, max date, sum), also the batch's patch.
    """

    def apply(self, df: DataFrame) -> DataFrame:
        kv, cutoff = self.kv, self.options["cutoff"]
        kept = ["_n", "_types", "_day", "_sum"]
        rows = kv.union(
            df.filter(F.col("ts") < F.lit(cutoff).cast("timestamp")).select(
                "user_id",
                F.lit(None).cast("long").alias("_n"),
                F.when(F.col("event_type").isNotNull(), F.array("event_type"))
                .alias("_types"),
                F.col("ts").cast("date").alias("_day"),
                F.round("value", 12).cast("decimal(27,18)").alias("_sum"),
                kv.stamp(),
            ),
            "user_id",
            kept,
        )
        # KV counts, type sets and dates only grow; a sum needs the latest
        old = ~kv.is_batch()
        kv_sum = F.max_by(F.when(old, F.col("_sum")), F.when(old, F.col(STAMP)))
        new_sum = F.sum(F.when(kv.is_batch(), F.col("_sum")))
        out = rows.groupBy("user_id").agg(
            (
                F.coalesce(F.max("_n"), F.lit(0))
                + F.count(F.when(kv.is_batch(), 1))
            ).alias("_n"),
            F.array_distinct(F.flatten(F.collect_list("_types"))).alias("_types"),
            F.max("_day").alias("_day"),
            F.coalesce(kv_sum + new_sum, kv_sum, new_sum).alias("_sum"),
            F.max(STAMP).alias(STAMP),
        )
        if kv.root is not None:  # only a KV has keys the batch did not touch
            out = out.filter(kv.is_batch())
        out = kv.observe(out, F.lit(True), [F.col(c) for c in ("user_id", *kept)])
        return out.select(
            "user_id",
            F.col("_n").alias("n_events_before"),
            F.size("_types").cast("long").alias("n_types_before"),
            F.datediff(F.lit(cutoff).cast("date"), "_day").alias("recency_days"),
            F.round(F.col("_sum").cast("double"), 6).alias("total_value"),
        )


class StatefulTask(KeyedStateTask):
    """A user-written keyed task (≡ a rule plugin doing arbitrary
    ``kv.Get``/``kv.Set`` on the store ``Init`` hands it, `rule.go:58`,
    `state/kv.go:45-80`). Subclass it, set ``key`` (one column) and
    ``output_schema`` (DDL string or StructType), implement
    :meth:`process`, register the subclass with ``@register_task`` and name
    it in a spec like any built-in.

    KV: (key → the key's state dict as a JSON string, NULL once deleted —
    the reference's KV is likewise ``[]byte → []byte``). One window keeps
    the keys the batch touched, then one ``applyInPandas`` over (KV ∪
    batch) grouped by key calls :meth:`process` on each key's batch rows
    and latest state, and returns its output rows plus the key's new state
    row, which is the key's patch.
    """

    key: str
    output_schema: str | T.StructType

    def process(self, key, rows, state):
        """(key tuple, the key's batch rows as pandas, its state dict) →
        (output rows as pandas, new state); a None state deletes it
        (≡ ``kv.Delete``)."""
        raise NotImplementedError("subclass must implement process()")

    def apply(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.pandas.types import to_arrow_type

        kv, key = self.kv, self.key
        n = kv.batch_id
        out_schema = self.output_schema
        if isinstance(out_schema, str):
            out_schema = T.StructType.fromDDL(out_schema)
        cols, out_cols = df.columns, out_schema.fieldNames()
        extra = [] if key in out_cols else [df.schema[key]]
        schema = T.StructType(
            [*out_schema.fields, *extra, T.StructField("_state", T.StringType()),
             T.StructField(STAMP, T.LongType())]
        )
        # a KV row's NULLs turn a batch row's integer or bool column to float
        # or object; process() sees the batch's own dtypes
        exact = {
            f.name: to_arrow_type(f.dataType).to_pandas_dtype()
            for f in df.schema
            if isinstance(f.dataType, (T.IntegralType, T.BooleanType))
        }
        # executors build their own instance: self holds the KV and its session
        cls, opts = type(self), self.options

        def run(k, pdf):
            mine = pdf[STAMP] == n
            prior = pdf.loc[~mine].sort_values(STAMP)["_state"].tail(1).tolist()
            prior = prior[0] if prior and pd.notna(prior[0]) else None
            rows = pdf.loc[mine, cols].reset_index(drop=True)
            rows = rows.astype({c: t for c, t in exact.items() if rows[c].notna().all()})
            out, new = cls(**opts).process(k, rows, json.loads(prior) if prior else {})
            out = out.reindex(columns=out_cols)
            if new is not None or prior is not None:
                state = None if new is None else json.dumps(new)
                row = pd.DataFrame({key: [k[0]], "_state": [state], STAMP: [n]})
                out = pd.concat([out, row], ignore_index=True)
            return out.reindex(columns=schema.fieldNames())

        rows = kv.union(
            df.select("*", F.lit(None).cast("string").alias("_state"), kv.stamp()),
            key,
            ["_state"],
        )
        out = (
            rows.withColumn("_last", F.max(STAMP).over(Window.partitionBy(key)))
            .filter(kv.is_batch("_last"))
            .drop("_last")
            .groupBy(key)
            .applyInPandas(run, schema)
        )
        out = kv.observe(out, F.col(STAMP).isNotNull(), [F.col(key), F.col("_state")])
        return out.filter(F.col(STAMP).isNull()).drop(
            "_state", STAMP, *[f.name for f in extra]
        )
