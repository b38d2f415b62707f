"""Sharded training-corpus layout — the write-side last mile.

The reference's only file sink appends events to a single handle
(`output/file.go:31-54`); a training pipeline instead delivers a curated
corpus as MANY independent, size-balanced shard files so thousands of
data-loader workers can each own a shard with no coordination. This module
writes that layout and its manifest.

Design for 100 TB:

* **Deterministic shard assignment** — md5 hash-bucket of the doc key
  (sampling.hash_bucket): a pure function of the key, so re-runs and
  engines agree, and shard sizes concentrate tightly around corpus/n
  (law of large numbers on a uniform hash).
* **One exchange total** — `repartition(partition_cols + shard)` puts each
  (partition, shard) combo in exactly one task, so `partitionBy` emits
  exactly ONE file per shard directory (no small-file explosion, no
  post-hoc compaction).
* **Partition pruning on read** — split/source/etc. become physical
  partition directories: a reader filtering `split = 'train'` never lists
  the other splits (asserted in tests via PartitionFilters).
* **Manifest** — per-(partition, shard) doc/token counts, written beside
  the data; the sanity check a 1000-worker training job runs BEFORE
  burning cluster hours.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.sampling import hash_bucket

MANIFEST_DIR = "_manifest"


def with_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Attach the deterministic shard id (md5 bucket of the key)."""
    return df.withColumn("shard", hash_bucket(id_col, n_shards))


def _sharded(df: DataFrame, id_col: str, n_shards: int | None) -> DataFrame:
    """Resolve the shard column for :func:`write_sharded`: attach a fresh
    md5 shard, or — when the frame ALREADY carries one (e.g.
    chunking.pack_documents computed pack offsets within its shards) —
    reuse it, because silently recomputing would decouple the written
    shard directories from whatever the upstream shards meant. Reuse
    requires ``n_shards=None``; passing a count alongside an existing
    column is ambiguous and raises."""
    if "shard" in df.columns:
        if n_shards is not None:
            raise ValueError(
                "input already has a 'shard' column; pass n_shards=None to "
                "reuse it, or drop the column to reshard by the id hash"
            )
        return df
    if n_shards is None:
        raise ValueError("n_shards is required when the input has no 'shard' column")
    return with_shard(df, id_col, n_shards)


def write_sharded(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int | None = 64,
    partition_cols: list[str] | None = None,
    size_col: Column | str | None = None,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``df`` as a sharded parquet corpus and return the manifest.

    Layout: ``path/<p1>=.../shard=K/part-*.parquet`` with exactly one
    file per shard directory; ``path/_manifest`` holds one row per
    (partition..., shard) with ``n_docs`` and (when ``size_col`` is
    given) ``tok_total``. An input that already carries a ``shard``
    column (packed streams) is reused as-is with ``n_shards=None`` —
    never silently recomputed (see :func:`_sharded`). ``sort_col``
    orders rows inside each shard file
    (run-length/dictionary locality for low-cardinality columns; the
    payoff depends entirely on column entropy — on this repo's synthetic
    random-vocabulary corpus it measures ZERO, because the text column
    dominates bytes and does not compress better sorted. Order it by the
    column your real corpus clusters on, or omit)."""
    partition_cols = list(partition_cols or [])
    sharded = _sharded(df, id_col, n_shards)
    keys = [F.col(c) for c in partition_cols] + [F.col("shard")]
    out = sharded.repartition(*keys)
    if sort_col is not None:
        out = out.sortWithinPartitions(sort_col)
    (
        out.write.mode(mode)
        .partitionBy(*partition_cols, "shard")
        .parquet(path)
    )
    # Manifest from the files actually WRITTEN (one scan of the compacted
    # output), not from `sharded` — re-aggregating the input would
    # re-execute the full upstream lineage (the expensive curation DAG) a
    # second time, and under nondeterministic upstreams could disagree
    # with what landed on disk. Always a full overwrite: with
    # mode="append" the manifest must describe everything now at `path`
    # (one row per (partition, shard)), not just this delivery.
    # (`_manifest` starts with '_' so partition discovery skips it.)
    # Empty-input guard (round-5 ADVICE fix): a partitioned write of zero
    # rows emits no data files, and a bare read would die with
    # unable-to-infer-schema — pin the writer's schema so an empty
    # curated split yields an EMPTY manifest, not a crash.
    written = df.sparkSession.read.schema(sharded.schema).parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if size_col is not None:
        size = F.col(size_col) if isinstance(size_col, str) else size_col
        aggs.append(F.sum(size).alias("tok_total"))
    manifest = written.groupBy(*partition_cols, "shard").agg(*aggs)
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/{MANIFEST_DIR}")
    return df.sparkSession.read.parquet(f"{path}/{MANIFEST_DIR}")


def read_sharded(spark, path: str) -> DataFrame:
    """Read a sharded corpus back; partition filters on the partition
    columns (and ``shard``) prune directories at planning time."""
    return spark.read.parquet(path)


def read_manifest(spark, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/{MANIFEST_DIR}")


def stream_sharded(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str,
    n_shards: int | None = 64,
    partition_cols: list[str] | None = None,
    trigger_available_now: bool = True,
):
    """Streaming arm of the sharded layout: attach the same deterministic
    shard id and land micro-batches under the same
    ``path/<p>=.../shard=K/`` directory tree via the parquet streaming
    sink (exactly-once per checkpoint). Late-arriving rows append new
    files to their shard directory — shard membership is a pure key hash,
    so batch and streaming deliveries interleave consistently; compact
    with a batch ``write_sharded`` rewrite when file counts grow. Returns
    the started StreamingQuery."""
    partition_cols = list(partition_cols or [])
    out = _sharded(stream, id_col, n_shards)
    w = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_cols, "shard")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def shard_compaction_plan(
    path: str,
    file_cutoff: float = 4.0,
    min_files: int = 8,
) -> dict:
    """Decide whether :func:`compact_shards` pays for itself, from
    per-shard live-file counts (storekernel.walk_parquet_files — a
    catalog listing, never a data scan; the same priced-decision rule
    the label and ANN stores run). Streaming deliveries and appends
    fragment shard directories; read amplification ≈ mean live files
    per shard directory, 1.0 being the one-file-per-shard ideal this
    layout exists for. Compact when the mean crosses ``file_cutoff``
    AND at least ``min_files`` live files exist
    (storekernel.read_amp_decision — the rule every store plan runs)."""
    from ..streaming import storekernel as _sk

    _total, bytes_, per_dir = _sk.walk_parquet_files(path)
    # the _manifest sidecar is not data — neither its files nor its
    # directory count toward read amplification
    live = {
        d: n for d, n in per_dir.items() if not d.startswith(("_", "."))
    }
    total = sum(live.values())
    # the shared read-amp rule; a whole-corpus rewrite has no selective
    # form, so the rule's fold list and scope go unused here
    read_amp, action, _fold, _scope = _sk.read_amp_decision(
        live, total, file_cutoff, min_files, "shard="
    )
    return {
        "action": action,
        "read_amp": read_amp,
        "file_cutoff": file_cutoff,
        "live_files": total,
        "live_bytes": bytes_,
        "n_live_shards": len(live),
        "max_files_one_shard": max(live.values()) if live else 0,
    }


def compact_shards(
    spark,
    path: str,
    partition_cols: list[str] | None = None,
    size_col: Column | str | None = None,
) -> DataFrame:
    """Small-files maintenance: rewrite a sharded corpus so every shard
    directory again holds exactly ONE file, and refresh the manifest.

    Streaming deliveries (:func:`stream_sharded`) and ``mode="append"``
    batch deliveries each land NEW files in their shard directories; at
    100 TB the resulting small-file population is what kills both the
    object store (request amplification) and the reader (task-per-file
    scheduling). Compaction is the periodic fix: read the layout back
    (shard membership comes from the directory tree — a pure key hash,
    so it is REUSED, never recomputed), rewrite with the same one-file-
    per-shard discipline into a temp tree, then swap directories.

    The swap is two renames with a compensating rollback: if the second
    rename fails, the old tree is renamed back so ``path`` is never left
    empty. There IS still a reader-visible gap between the two renames
    (a reader that lists ``path`` in that window sees nothing) — run
    compaction when no reader is scheduled. A crash inside the window
    leaves the corpus intact under ``<path>__compact_old`` and the new
    copy under ``<path>__compact_tmp``; the next compact_shards run
    FIRST restores ``old`` back to ``path`` when ``path`` is missing
    (that tree is the only copy — it must never be cleared as debris),
    then clears leftovers and re-runs.

    LOCAL-FILESYSTEM ONLY: directory rename is POSIX semantics. Object
    stores (S3/GCS) have no atomic directory rename — there, compact via
    a manifest/pointer swap (write the new tree under a versioned prefix
    and flip the manifest the readers resolve, as Iceberg/Delta do)
    rather than this path-swap.

    Returns the refreshed manifest."""
    import os
    import shutil

    base = path.rstrip("/")
    tmp, old = f"{base}__compact_tmp", f"{base}__compact_old"
    # Crash recovery BEFORE clearing debris: if a previous run died
    # between the two swap renames, `old` holds the ONLY copy of the
    # corpus (`path` does not exist) — restore it, never delete it.
    if os.path.exists(old) and not os.path.exists(base):
        os.rename(old, base)
    for leftover in (tmp, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    df = spark.read.parquet(path)
    write_sharded(
        df,
        tmp,
        id_col="shard",  # unused: the existing shard column is reused
        n_shards=None,
        partition_cols=partition_cols,
        size_col=size_col,
    )
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back: never leave `path` empty
        raise
    shutil.rmtree(old)
    return read_manifest(spark, path)
