"""Declarative stateful built-in tasks — the reference's two flagship
stateful rule programs, JSON-declarable (no Python required), running in
BOTH batch and streaming through one code path.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..streaming.kvlog import STAMP, KVLog
from .protocol import BasicTask
from .registry import register_task


class KeyedStateTask(BasicTask):
    """A built-in whose state is a keyed KV: the compiler hands it a
    durable :class:`KVLog` per micro-batch; anything else means empty."""

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
