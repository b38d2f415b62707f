"""Declarative stateful built-in tasks — the reference's two flagship
stateful rule programs, JSON-declarable (no Python required), running in
BOTH batch and streaming from one spec.

The reference ships these as compiled Go plugins:
  * ``s2s_enrich`` ≡ `s2s_rules/cloudTrail_s2s_join.go`: on a write-event,
    ``kv.Set(key, derived_value)`` (`:68-78`); on any later event,
    ``kv.Get(key)`` with fallback to the raw key on miss (`:124-130`).
  * ``keyed_counter`` ≡ `agg_rules/cloudTrail_agg.go:30-96`: filter →
    get-or-create per key → ``Occurrences++`` with first-event metadata,
    drained per window.

Design: all user-declared logic (predicates, derivations, fallbacks) is
SQL strings compiled to Column expressions BEFORE any state machinery —
so it runs JVM-side and Catalyst-optimized in both modes. The streaming
paths only carry a small per-key state (the latest value, or a running
count) through ``run_stateful`` (applyInPandasWithState); the batch paths
express the identical semantics as an event-time window
(``last(...) IGNORE NULLS``) or one hash aggregation, so the two modes are
differential-testable against each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .protocol import BasicTask
from .registry import register_task


@register_task("s2s_enrich")
class S2SEnrich(BasicTask):
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
    """

    def apply(self, df: DataFrame) -> DataFrame:
        o = self.options
        key, time_col = o["key"], o["time"]
        alias = o.get("alias", "entity")
        fallback = o.get("fallback", f"CAST({key} AS STRING)")
        order_cols = [time_col] + ([o["tiebreak"]] if "tiebreak" in o else [])

        # All declared logic becomes Column expressions up front.
        prepared = df.withColumn(
            "_wv", F.when(F.expr(o["write_when"]), F.expr(o["write_value"]))
        ).withColumn("_fb", F.expr(fallback).cast("string"))

        if df.isStreaming:
            return self._streaming(prepared, df.schema, key, order_cols, alias)

        w = (
            Window.partitionBy(key)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            prepared.withColumn(
                alias,
                F.coalesce(F.last("_wv", ignorenulls=True).over(w), F.col("_fb")),
            )
            .drop("_wv", "_fb")
        )

    def _streaming(
        self,
        prepared: DataFrame,
        in_schema: T.StructType,
        key: str,
        order_cols: list[str],
        alias: str,
    ) -> DataFrame:
        import pandas as pd

        from .stateful_runtime import run_stateful

        out_schema = T.StructType(
            list(in_schema.fields) + [T.StructField(alias, T.StringType())]
        )
        in_cols = [f.name for f in in_schema.fields]

        def fn(k, rows: pd.DataFrame, state: dict):
            cur = state.get("v")
            entities = []
            for _, r in rows.iterrows():
                if r["_wv"] is not None and not pd.isna(r["_wv"]):
                    cur = r["_wv"]
                entities.append(cur if cur is not None else r["_fb"])
            out = rows[in_cols].copy()
            out[alias] = entities
            return out, {"v": cur}

        return run_stateful(
            prepared,
            [key],
            fn,
            out_schema,
            sort_within_key=order_cols,
        )


@register_task("keyed_counter")
class KeyedCounter(BasicTask):
    """Keyed occurrence counting with first-event metadata.

    Options:
      key    — grouping key (≡ the per-principal OutputEvent key)
      when   — SQL bool filter (default all rows; ≡ MfaAuthenticated ==
               "false", `agg_rules/cloudTrail_agg.go:43-46`)
      time   — event-time column; min(time) ≡ the first-event metadata
               kept by get-or-create (`:47-63`)

    Output: (key, occurrences, first_seen). Batch: one hash aggregation.
    Streaming: the count per key lives in ``run_stateful`` state (≡ the
    get-or-create KV entry), and each micro-batch emits the running
    (key, occurrences, first_seen) of every key it touched.
    """

    def apply(self, df: DataFrame) -> DataFrame:
        o = self.options
        d = df.filter(F.expr(o["when"])) if "when" in o else df
        if df.isStreaming:
            return self._streaming(d, o["key"], o["time"])
        return d.groupBy(o["key"]).agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.min(o["time"]).alias("first_seen"),
        )

    def _streaming(self, d: DataFrame, key: str, time_col: str) -> DataFrame:
        import pandas as pd

        from .stateful_runtime import run_stateful

        # State round-trips through JSON, so timestamps travel as micros.
        time_type = d.schema[time_col].dataType
        is_ts = isinstance(time_type, T.TimestampType)
        out_schema = T.StructType([
            d.schema[key],
            T.StructField("occurrences", T.LongType()),
            T.StructField("first_seen", T.LongType() if is_ts else time_type),
        ])

        def fn(k, rows: pd.DataFrame, state: dict):
            n = state.get("n", 0) + len(rows)
            seen = [v for v in (rows["_t"].min(), state.get("first"))
                    if v is not None and not pd.isna(v)]
            first = min(seen) if seen else None
            first = first.item() if hasattr(first, "item") else first
            out = pd.DataFrame({key: [k[0]], "occurrences": [n], "first_seen": [first]})
            return out, {"n": n, "first": first}

        t = F.unix_micros(time_col) if is_ts else F.col(time_col)
        out = run_stateful(d.select(key, t.alias("_t")), [key], fn, out_schema)
        if is_ts:
            out = out.withColumn("first_seen", F.timestamp_micros("first_seen"))
        return out
