"""Keyed-state task runtime — arbitrary per-key get/set logic on Spark's
streaming state store, for user-written Python ``StatefulTask``s. (The
declarative built-ins ``s2s_enrich``/``keyed_counter`` do not use it: they
run one JVM window/aggregation per micro-batch over a KV patch log, see
``tasks/builtin_stateful.py`` — this operator costs a fixed ~0.7 s per
micro-batch on 4 cores, SCALE.md.)

≡ the reference's stateful rule surface: ``Init`` receives a ``*state.
KVStore`` handle (`pipeline.go:304`, `rule.go:58`) and ``Process`` does
arbitrary ``kv.Set``/``kv.Get`` (`state/kv.go:45-80`,
`s2s_rules/cloudTrail_s2s_join.go:68-78`). Here a StatefulTask sees its
key's rows (as pandas) plus that key's state dict, and returns output rows
plus the new state — the engine wraps it in ``applyInPandasWithState`` so
the state is partitioned across executors and checkpoint-persisted (the
distributed form of the single fsync'd BoltDB file, `state/kv.go:23-37`).

The state round-trips through JSON in a single string state column: the
reference's KV is likewise ``[]byte → []byte`` (`state/kv.go:45`), so an
opaque serialized blob is exactly the parity surface — while keeping the
Spark state schema fixed regardless of what the task stores.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: fn(key_tuple, rows_pdf, state_dict) -> (output_pdf, new_state_dict|None)
#: new_state None → clear state (≡ kv.Delete, `state/kv.go:71-80`).
StatefulFn = Callable[
    [tuple, pd.DataFrame, dict[str, Any]],
    tuple[pd.DataFrame, dict[str, Any] | None],
]

_STATE_SCHEMA = T.StructType([T.StructField("json", T.StringType())])


def run_stateful(
    df: DataFrame,
    key_cols: list[str],
    fn: StatefulFn,
    output_schema: T.StructType | str,
    sort_within_key: list[str] | None = None,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Apply a StatefulFn per key with durable state (streaming or batch
    DataFrame — batch runs it as one "micro-batch" with empty state,
    which is how streaming semantics are unit-tested batch-first)."""

    out_cols = (
        [f.name for f in output_schema]
        if isinstance(output_schema, T.StructType)
        else None
    )

    def proc(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stored: dict[str, Any] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        rows = pd.concat(list(pdfs))
        if sort_within_key:
            rows = rows.sort_values(sort_within_key)
        out, new_state = fn(key, rows, stored)
        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update((json.dumps(new_state),))
        if out_cols is not None:
            out = out.reindex(columns=out_cols)
        yield out

    return df.groupBy(*key_cols).applyInPandasWithState(
        proc,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
