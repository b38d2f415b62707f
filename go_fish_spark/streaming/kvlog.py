"""The keyed-state built-ins' durable KV (≡ go-fish's BoltDB ``KVStore``,
`state/kv.go:45-80`, handed to a rule by ``Init(kvstore)``, `rule.go:58`):
a log of patches under ``<ckpt>/<sink>/kv/<rule>/``.

* ``patch-<N>.parquet`` — the keys micro-batch N changed, stamped
  ``_batch_id = N``, observed in the batch's one job (driver memory is
  bounded by the batch) and written with pyarrow + an atomic rename.
* ``gen/<g>/`` + ``MANIFEST.json`` — a background Spark fold of the patches
  up to ``covered``, latest-wins, manifest published last.

Batch N reads the generation plus the patches in (covered, N) by explicit
file list, and the rule orders those rows before its own by stamp, so
latest-wins happens inside its one window or aggregation. Patch N depends
only on (KV < N, batch N): a replay rewrites the same patch whichever side
of the sink commit the crash fell, with no commit marker. A fold started
in batch N covers patches < N only. Scale bound: every micro-batch scans
the whole live KV once (no key-shard pruning).
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .storekernel import (
    _root_parquet_files,
    atomic_write_json,
    generation_path,
    latest_wins,
    prune_generations,
    read_amp_decision,
    read_json_if_exists,
)

STAMP = "_batch_id"
#: Live files (generation + patches) at which a fold pays for itself. Under
#: 32, so the explicit-file read never triggers Spark's parallel listing job.
_FILE_CUTOFF = 16
#: Patches a fold must absorb at least.
_MIN_PATCHES = 8
#: KV root → its fold thread (at most one in flight per KV).
_FOLDS: dict[str, threading.Thread] = {}
_log = logging.getLogger(__name__)


class KVLog:
    """One keyed-state rule's KV as seen by micro-batch ``batch_id``.
    ``root=None`` is the empty KV of a plain batch run."""

    def __init__(self, root: str | None = None, batch_id: int = 0):
        self.root, self.batch_id = root, int(batch_id)
        self._obs: Observation | None = None

    def stamp(self) -> Column:
        """The ``_batch_id`` column of this batch's rows."""
        return F.lit(self.batch_id).cast("long").alias(STAMP)

    def is_batch(self, col: str = STAMP) -> Column:
        return F.col(col) == F.lit(self.batch_id)

    def union(self, rows: DataFrame, key: str, values: list[str]) -> DataFrame:
        """Stamped batch ``rows`` ∪ the live KV rows (``key`` + ``values``,
        stamped < N, so ordering by stamp puts them first)."""
        if self.root is None:
            return rows
        self._spark, self._key = rows.sparkSession, key
        self._schema = T.StructType(
            [T.StructField(c, rows.schema[c].dataType) for c in [key, *values]]
            + [T.StructField(STAMP, T.LongType())]
        )
        files = self._state()[1]
        if not files:
            return rows
        kv = self._spark.read.schema(self._schema).parquet(*files)
        return rows.unionByName(kv, allowMissingColumns=True)

    def observe(self, df: DataFrame, when: Column, cols: list[Column]) -> DataFrame:
        """Collect this batch's patch — ``cols`` (the :meth:`union` key and
        values, in order) where ``when`` holds — from whatever job runs
        ``df``."""
        if self.root is None:
            return df
        vals = [
            F.unix_micros(c) if isinstance(f.dataType, T.TimestampType) else c
            for c, f in zip(cols, self._schema.fields)
        ]
        self._obs = Observation()
        return df.observe(
            self._obs, F.collect_list(F.when(when, F.struct(*vals))).alias("patch")
        )

    def commit(self) -> None:
        """After the job that ran the observed frame: write the patch, then
        collect garbage and maybe start a fold."""
        if self._obs is None:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = self._obs.get["patch"]
        os.makedirs(self.root, exist_ok=True)
        if rows:
            schema = to_arrow_schema(self._schema)
            cols = [pa.array([r[i] for r in rows], type=f.type)
                    for i, f in enumerate(schema) if f.name != STAMP]
            cols.append(pa.array([self.batch_id] * len(rows), type=pa.int64()))
            path = self._patch(self.batch_id)
            pq.write_table(pa.Table.from_arrays(cols, schema=schema), path + ".tmp")
            os.replace(path + ".tmp", path)
        self._gc_and_fold()

    def _patch(self, n: int) -> str:
        return os.path.join(self.root, f"patch-{n}.parquet")

    def _state(self) -> tuple[dict | None, list[str], list[int]]:
        """(manifest, live files, every patch id): the live files are the
        generation's plus the patches in (covered, N)."""
        man = read_json_if_exists(os.path.join(self.root, "MANIFEST.json"))
        covered = man["covered"] if man else -1
        names = os.listdir(self.root) if os.path.isdir(self.root) else []
        ids = sorted(int(f[6:-8]) for f in names
                     if f.startswith("patch-") and f.endswith(".parquet"))
        gen = _root_parquet_files(
            generation_path(os.path.join(self.root, "gen"), man["gen"])
        ) if man else []
        return man, gen + [self._patch(n) for n in ids
                           if covered < n < self.batch_id], ids

    def _gc_and_fold(self) -> None:
        """Between this batch's job and the next, with no fold in flight:
        delete what the manifest superseded, then start a fold of the live
        patches < N when :func:`storekernel.read_amp_decision` prices it.
        A fold deletes nothing, so a batch reading while it runs sees the
        old view or the new one, never a missing file."""
        fold = _FOLDS.get(self.root)
        if fold is not None and fold.is_alive():
            return
        man, files, ids = self._state()
        gen_root = os.path.join(self.root, "gen")
        if man is not None:
            for n in ids:
                if n <= man["covered"]:
                    os.remove(self._patch(n))
            prune_generations(gen_root, man["gen"])
        patches = [n for n in ids if self._patch(n) in files]
        _, action, _, _ = read_amp_decision(
            {"kv": len(files)}, len(patches), _FILE_CUTOFF, _MIN_PATCHES, "shard="
        )
        if action != "compact":
            return
        gen = man["gen"] + 1 if man else 0

        def fold() -> None:
            try:
                live = self._spark.read.schema(self._schema).parquet(*files)
                latest_wins(live, [self._key], [], live.columns).write.mode(
                    "overwrite"
                ).parquet(generation_path(gen_root, gen))
                atomic_write_json(os.path.join(self.root, "MANIFEST.json"),
                                  {"gen": gen, "covered": patches[-1]})
            except Exception as e:  # a torn fold is garbage; the next retries
                _log.warning("KV fold of %s failed: %s", self.root, e)

        _FOLDS[self.root] = threading.Thread(target=fold, daemon=True)
        _FOLDS[self.root].start()
