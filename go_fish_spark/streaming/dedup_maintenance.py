"""LIVE dedup-label maintenance — the round-9 incremental loop as a
streaming operator: a document stream maintains a persisted component-
LABEL table, each micro-batch folding its docs into the existing labels
via the delta probe + reduced-graph merge (`dedup.delta_minhash_pairs`
+ `audit.incremental_audit_merge`), with the signature store maintained
inline (the `streaming/sigstore` append discipline).

This is the reference's KV-state pattern (`state/kv.go:45-80` —
get-or-create, mutate, store back) applied to the dedup graph at table
grain: the label table is the KV store, each batch's merge is the
transaction, and the invariant maintained is `labels ≡ full CC
recompute over everything ingested so far` (parity-tested per batch in
tests/test_streaming.py, crash-replay included).

ONE fold, two stores: :func:`fold_label_batch` is the get-or-create +
mutate half of that loop — fresh set, one hashing pass, sig append,
store probe + merge — and both maintenance streams run it for every
batch. The first delivery is an ordinary one: a missing label table
reads as empty labels and an empty store, as a missing key reads as
empty in the reference's KV state, so the probe emits the batch×batch
pairs and the merge labels their components. Each stream owns only
the store-back half: :func:`dedup_maintenance_stream` writes a
versioned overwrite and repoints ``_current.json``;
`streaming/labelstore.label_store_maintenance_stream` appends a
sharded upsert patch (``emit="changed"``) and publishes a cross-store
commit.

Why foreachBatch rather than applyInPandasWithState: component merging
is a GLOBAL operation (one batch doc can bridge two existing clusters),
so per-key state cannot express it — the correct streaming form is a
transactional table update per micro-batch, the same pattern the audit
sink uses for publishes (`sources/pyds.py`).

Crash/replay discipline (manifest-last, twice over):
  1. the batch's signatures are APPENDED to the store FIRST;
  2. the new label table version is written, and its manifest is
     repointed LAST.
A crash anywhere replays the batch against the PREVIOUS committed
labels. The fresh-set is derived from the LABEL table (ids not yet
labeled), so an already-applied batch is a no-op; a batch that crashed
between (1) and (2) re-runs with its sigs already in the store — the
probe excludes them (store is semi-joined to LABELED ids). A row
appended twice is read twice; the probe's one dropDuplicates on the
verified pairs absorbs it, so the store needs no dedup.

100 TB shape: per batch, ONE map-only signature pass over just the
batch (inside its fresh-set checkpoint, which the append, the probe
and the merge all read), ONE streamed scan of the store through the
broadcast batch — its slim (id, band, bh) rows and its signatures,
about |batch| × (bands × 20 B + 0.5 KB), so the store is never
shuffled, cached or deduplicated (a batch past the probe's 128 MB
broadcast budget, about 47k documents, is probed in chunks, one scan
each) — a driver-side union-find over the reduced graph (|batch| ids +
|delta pairs| edges, collected in one Arrow action, about 32 MB at
10⁶ documents — the batch, not the corpus, bounds driver memory), and
a broadcast relabel join. That bound holds for the first batch too: a
stream started over an existing corpus takes the whole corpus as its
first micro-batch unless the file source's ``maxFilesPerTrigger``
caps it (``availableNow`` honours it), which splits the initial load
into ordinary batches. The label-table rewrite is the one full-table
touch — at corpus scale it becomes a partition-pruned MERGE INTO on
the touched components (Delta/Iceberg); the versioned parquet
overwrite here is the sandbox form of that operation.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import storekernel as _sk
from .sinks import foreach_sink


def _current_version(table_dir: str) -> str | None:
    doc = _sk.read_json_if_exists(_os.path.join(table_dir, "_current.json"))
    return _os.path.join(table_dir, doc["version"]) if doc else None


def read_labels(spark, labels_dir: str) -> DataFrame | None:
    """The committed (id, component) label table, or None before the
    first batch."""
    p = _current_version(labels_dir)
    return spark.read.parquet(p) if p else None


def _commit_labels(df: DataFrame, labels_dir: str, batch_id: int) -> None:
    """Write the new label version, then repoint the manifest LAST via
    the kernel's atomic publish (a crash between the two leaves the
    previous version current)."""
    version = f"v{batch_id:08d}"
    df.write.mode("overwrite").parquet(_os.path.join(labels_dir, version))
    _sk.atomic_write_json(
        _os.path.join(labels_dir, "_current.json"), {"version": version}
    )


def fold_label_batch(
    bdf: DataFrame,
    labeled: DataFrame | None,
    prev: DataFrame | None,
    read_sigs,
    append_sigs,
    emit: str,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    k: int,
    threshold: float,
    seed: int,
    portable: bool,
) -> DataFrame | None:
    """Fold one micro-batch into the dedup labels; the caller commits
    the returned (id, component) frame, or skips the commit on None
    (no fresh ids).

    ``labeled`` (an ``id`` column; None before the first commit) is
    what the batch is anti-joined against; ``prev`` is the committed
    (id, component) view, None exactly when ``labeled`` is.
    ``append_sigs(fresh)`` persists the batch's ``(_id, _sig)`` rows;
    ``read_sigs()`` returns the store's ``(_id, _sig)`` rows and is
    called after that append, and only when ``prev`` exists. Every
    batch, the first included, probes the store's LABELED rows and
    merges with ``incremental_audit_merge(..., emit=emit)``: no labels
    yet reads as empty labels and an empty store, so the probe emits
    only batch×batch pairs and the merge labels their components."""
    from pyspark.sql import Observation

    from ..operators.audit import incremental_audit_merge
    from ..operators.dedup import delta_minhash_pairs, minhash_signature

    bdf = bdf.select(id_col, text_col).dropDuplicates([id_col])
    if labeled is not None:
        bdf = bdf.join(
            labeled.select(F.col("id").alias(id_col)), id_col, "left_anti"
        )
    # the batch is hashed ONCE, inside the fresh-set checkpoint; the
    # sig append, the pair pass and the merge all read it. The
    # fresh-row count rides the same job as an observed metric
    # (graph.checkpoint_with_sum's pattern): no probe job
    obs = Observation()
    fresh = (
        bdf.select(
            F.col(id_col).alias("_id"),
            minhash_signature(text_col, n_hashes, k, seed, portable).alias(
                "_sig"
            ),
        )
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_fresh = obs.get["n"]
    if n_fresh == 0:
        return None
    # (1) sigs first — replay-safe (see module docstring)
    append_sigs(fresh)
    if prev is None:
        # a missing label table reads as empty (the reference's
        # get-or-create): zero labels, typed from the batch's ids
        store = fresh.where(F.lit(False))
        prev = store.select(
            F.col("_id").alias("id"), F.col("_id").alias("component")
        )
    else:
        # store = signatures of LABELED docs only (excludes any orphan
        # rows a crashed attempt appended for this batch); a row
        # appended twice needs no dedup — the probe reduces its
        # verified pairs by key
        store = read_sigs().join(
            prev.select(F.col("id").alias("_id")), "_id", "left_semi"
        )
    dpairs = delta_minhash_pairs(
        None, store, id_col, text_col, n_hashes, bands, k,
        threshold, seed, portable, sigs=fresh, n_sigs=n_fresh,
    )
    return incremental_audit_merge(
        prev, fresh.select(F.col("_id").alias(id_col)), dpairs,
        id_col=id_col, emit=emit,
    )


def dedup_maintenance_stream(
    docs_stream: DataFrame,
    labels_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
    available_now: bool = True,
):
    """Start the maintenance loop (returns the StreamingQuery). Each
    batch, the first included, runs :func:`fold_label_batch` (store
    probe + merge) and commits the full label table as a new version.
    Read the result with :func:`read_labels`."""
    spark = docs_stream.sparkSession
    sig_dir = _os.path.join(labels_dir, "_sigs")

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        prev = read_labels(spark, labels_dir)
        labels = fold_label_batch(
            bdf, prev, prev,
            lambda: spark.read.parquet(sig_dir),
            lambda fresh: fresh.write.mode("append").parquet(sig_dir),
            "full", id_col, text_col, n_hashes, bands, k, threshold,
            seed, portable,
        )
        if labels is not None:
            # (2) labels last — the commit point
            _commit_labels(labels, labels_dir, batch_id)

    return foreach_sink(
        docs_stream, process_batch, checkpoint_dir,
        trigger_available_now=available_now,
    )
