"""Durable, restart-surviving MinHash signature STORE with a streaming
maintenance arm — the production form of the session-shared signature
frame (r8 verdict Next #6: `queries/extensions/_shared.shared_doc_sigs`
models a table a pipeline writes once; this module WRITES it).

The x77 sketch-store discipline generalized: a recurring-crawl pipeline
runs `signature_store_stream` over its document stream; each micro-batch
hashes ONLY its own rows (one map-only pass — no shuffle) and appends
slim (id, _sig, shard, _batch_id) rows to a SHARDED parquet store (the
deterministic md5 bucket of the id — the labelstore layout, so an
id-bounded probe prunes to one shard directory). Every sketch consumer
(x87/x93/x94/x100, `incremental_near_dedup`, `delta_minhash_pairs`)
then reads the store instead of re-tokenizing the corpus. Restart
safety comes from the checkpointed source offsets; an interrupted
foreachBatch append can leave a duplicated batch on retry, which the
latest-wins reader collapses (same batch ⇒ identical rows).

Edited documents: re-appending an id supersedes it — the reader keeps
the row with the highest ``_batch_id`` per id (latest-wins), so the
store tracks the CURRENT corpus without rewrites (the x94
incremental-signature discipline made durable).

COMPACTION (r12 verdict Next #1 — the last store to get it): sustained
appends fragment the store exactly like labels — every read re-scanned
every sig file ever written (the read-amplification disease SCALE.md
r11 measured at 10.9× for labels). The store now folds on the SHARED
KERNEL (`storekernel.compact_keyed_store`): generation directories,
per-shard SELECTIVE folds with hard-link carry of cold shards, a
fenced atomic manifest repoint, and N-1 generation retention — the
identical discipline labels (labelstore) and ANN codes (annstore) run,
with zero store-specific fold code. Every write goes through
:func:`append_sig_patch` or the fold, so the store has ONE layout:
``shard=`` directories of batch-stamped files. A store written any
other way (flat files at its root, a scalar-cut manifest) is refused
by the kernel with "rebuild from a fresh store". The stream's
per-batch lease, append and inline fold run in the kernel's
``leased_store_stream``, the loop the label and ANN streams share.

Reference anchor: the persisted-state pattern of `state/kv.go:45-80` /
`backend.go:64-188` applied to the sketch family (gap category —
SURVEY.md §2.6; the reference persists pipeline state, not artifacts).

100 TB shape: the store is ~0.5 KB/doc at 64 hashes (3 orders of
magnitude smaller than the text); maintenance is map-only per batch
plus ONE exchange on the shard key; the latest-wins window partitions
by id (per-key bounded, parallel); compaction keeps the per-shard live
file count at ~1 so a probe is one LIST+GET per shard, and fold bytes
stay ∝ hot shards (cold ones hard-link-carry).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_signature
from . import storekernel as _sk

SIG_SHARDS = 64


def append_sig_patch(
    patch: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    n_shards: int = SIG_SHARDS,
) -> None:
    """Append one batch of signature rows as sharded parquet
    (storekernel.append_sharded_patch keyed at ``id_col`` — the same
    md5 bucket labels use): one file per touched shard directory per
    batch, stamped with the batch id."""
    _sk.append_sharded_patch(patch, store_path, batch_id, id_col, n_shards)


def signature_store_stream(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
    extra_cols: tuple = (),
    available_now: bool = True,
    n_shards: int = SIG_SHARDS,
    compaction_policy: bool = False,
    compaction_file_cutoff: float = 4.0,
    compaction_min_files: int = 8,
    on_compaction=None,
):
    """Start the maintenance arm: per micro-batch, hash the batch's
    ``text_col`` into MinHash signatures (same params as
    :func:`~go_fish_spark.operators.dedup.sketch_store`, so the store is
    a drop-in ``store=`` hand-in) and append (id_col, *extra_cols, _sig,
    shard, _batch_id) to the sharded parquet store. Returns the started
    StreamingQuery. ``available_now=True`` drains what's available and
    stops — the recurring-crawl batch-ingest trigger; pass False for a
    continuous query.

    The appender holds the store's writer lease for each batch (the
    single-writer rule every kernel store enforces;
    storekernel.leased_store_stream runs the loop) — an out-of-band
    :func:`compact_signature_store` racing an in-flight append is
    refused instead of interleaving. ``compaction_policy=True`` prices
    storekernel.sharded_compaction_plan after each batch and folds
    inline (selectively when only some shards fragmented), under the
    same lease; ``on_compaction`` observes each decision dict."""
    spark = docs_stream.sparkSession
    proj = docs_stream.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        minhash_signature(text_col, n_hashes, k, seed, portable).alias(
            "_sig"
        ),
    )

    def run_batch(bdf: DataFrame, batch_id: int, fence: tuple) -> bool:
        # one row per id per batch (the labelstore rule): a source
        # emitting an id twice in one micro-batch must not write two
        # same-stamp rows whose latest-wins pick could differ across
        # readers before a fold canonicalizes them
        append_sig_patch(
            bdf.dropDuplicates([id_col]), store_path, batch_id, id_col,
            n_shards,
        )
        return True

    surface = (
        None,
        lambda: _sk.sharded_compaction_plan(
            store_path,
            file_cutoff=compaction_file_cutoff,
            min_patch_files=compaction_min_files,
        ),
        "shards_to_fold",
        lambda fold, fence: compact_signature_store(
            spark, store_path, id_col, n_shards, shards=fold, fence=fence
        ),
    )
    return _sk.leased_store_stream(
        proj,
        _os.path.dirname(_os.path.abspath(store_path.rstrip("/"))),
        checkpoint_dir, run_batch,
        (surface,) if compaction_policy else (), on_compaction,
        available_now,
    )


def read_signature_store(
    spark, store_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Latest-wins view of the store: one (id_col, …, _sig) row per id —
    the row from the highest ``_batch_id`` (re-appended/edited docs
    supersede; a retried batch's duplicate rows are identical and
    collapse). Compaction-aware: when a manifest exists
    the scan is generation + newer-patches only — the read-amplification
    win the r13 fold discipline exists for. Column ``_id`` alias
    matches the ``store=`` contract of
    :func:`~go_fish_spark.operators.dedup.incremental_near_dedup` /
    :func:`~go_fish_spark.operators.dedup.delta_minhash_pairs` via
    ``.withColumnRenamed``. Per-id window — bounded by each doc's
    version count, parallel across ids (storekernel.latest_wins, with a
    deterministic tiebreak over EVERY kept value column — the SAME
    total order the fold uses, so the table reads back identically
    before and after a compaction even when a batch carried true
    duplicate-id rows; a lost-checkpoint batch-id collision can never
    pick a row by partition order)."""
    df = _sk.live_keyed_rows(spark, store_path)
    if df is None:
        raise FileNotFoundError(store_path)
    keep = [c for c in df.columns if c not in ("_batch_id", "shard")]
    tiebreak = [F.col(c).asc() for c in keep if c != id_col]
    return _sk.latest_wins(df, [id_col], tiebreak, keep)


def compact_signature_store(
    spark,
    store_path: str,
    id_col: str = "doc_id",
    n_shards: int = SIG_SHARDS,
    shards: list[int] | None = None,
    prune: bool = True,
    fence: tuple | None = None,
) -> int:
    """Fold the sig append history to one latest-wins row per id in a
    NEW generation — the kernel's sharded-keyed-store compaction
    (storekernel.compact_keyed_store), exactly the labelstore fold with
    (id_col, _sig, …) in place of (id, component): per-shard SELECTIVE
    folds via ``shards`` (cold shards hard-link-carry, zero bytes), the
    manifest repointed LAST behind the fencing token, N-1 generation
    retained one cycle, covered patch files pruned per-shard. When the
    store lives inside a maintenance-stream store dir (a sibling
    COMMIT.json exists) the fold caps at the committed batch, so a
    half-committed batch is never baked into a generation.

    Called without ``fence`` the fold takes the
    store's writer lease (refused while the maintenance stream holds
    it); with ``fence`` the caller already holds it
    (storekernel.held_fence). Returns the folded row count."""
    store_dir = _os.path.dirname(_os.path.abspath(store_path.rstrip("/")))
    with _sk.held_fence(store_dir, fence, "compactor") as fence:
        return _sk.compact_keyed_store(
            spark,
            store_path,
            key_cols=[id_col],
            # value columns and the all-values-ascending tiebreak derive
            # from the live frame INSIDE the kernel
            shard_key=id_col,
            n_shards=n_shards,
            shards=shards,
            prune=prune,
            committed=_sk.read_commit(store_dir),
            fence=fence,
        )
