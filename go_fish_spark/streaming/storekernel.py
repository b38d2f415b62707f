"""The shared STORE KERNEL: one implementation of the primitives every
durable store in this repo is built from, so the exactly-once arguments
live in exactly one place (r11 verdict Next #2 — labelstore, annstore
and the sharded-corpus layout had grown three hand-rolled, subtly
diverging copies).

Primitives:

* **Atomic JSON manifest** — write-tmp + ``os.replace`` (atomic on
  POSIX): a reader sees the old version or the new one, never a torn
  write. Every pointer of record (compaction manifest, model manifest,
  cross-store commit) publishes through this.
* **Generation directories** — numbered directories under one root;
  a fold writes generation N+1 COMPLETELY, then repoints the manifest
  LAST. :func:`prune_generations` GCs superseded generations but always
  retains N-1 one cycle (ADVICE r11 #3: a reader holding the previous
  manifest's lazy DataFrame must stay servable until it is two commits
  stale).
* **Existence-aware parquet read** — returns None ONLY for
  missing-path / nothing-committed; every other failure re-raises
  (ADVICE r10 #1: a transient read error must never masquerade as
  "store empty" and make a maintenance stream label a batch as if it
  were the first delivery).
* **Latest-wins fold** — the shared read rule: one row per key, from
  the highest ``_batch_id``, ties broken by caller-supplied DETERMINISTIC
  columns (never partition order) so every crash/replay interleaving
  reads back the same table.
* **Cross-store commit point** — a forward-only committed-batch
  manifest; readers of record cut every surface at the same published
  batch and can never observe inter-append skew.
* **File-census compaction planning** — per-leaf-directory live
  parquet file counts from a catalog walk (never a data scan): read
  amplification ≈ mean live files per key directory, the signal the
  compaction policies price.
* **Single-writer lease** — the LSM discipline ENFORCED (r11 verdict
  Next #3): appenders and compactors both take the store's writer
  lease (atomic ``O_EXCL`` create + stale-TTL reclaim), so an
  out-of-band compaction can no longer interleave with an in-flight
  append and strand a patch behind the covered cut.

Reference anchor: the persisted-state discipline of `backend.go:64-188`
/ `state/kv.go:45-80`, factored once for every store that implements it.
"""

from __future__ import annotations

import contextlib as _contextlib
import json as _json
import os as _os
import shutil as _shutil
import time as _time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Atomic JSON manifests


def atomic_write_json(
    path: str, payload: dict, fence: tuple | None = None
) -> None:
    """Publish ``payload`` at ``path`` atomically (write-tmp + fsync +
    rename) — the commit primitive under every manifest.

    ``fence=(store_dir, nonce)`` makes the publish FENCED (r12 verdict
    Next #2): the writer's lease is re-validated immediately before the
    rename, so a writer whose lease was TTL-reclaimed mid-batch (stale
    but still alive) is REFUSED at the commit point with
    :class:`LeaseLost` instead of interleaving its publish with the new
    holder's. The check-then-rename window is microseconds against a
    TTL of minutes; true storage-layer fencing (the token checked BY
    the store on every write) is the object-store deployment's job —
    this is the strongest form a filesystem rename can carry."""
    _os.makedirs(_os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump(payload, fh)
        fh.flush()
        _os.fsync(fh.fileno())
    if fence is not None:
        try:
            verify_lease(fence[0], fence[1])
        except LeaseLost:
            try:
                _os.unlink(tmp)
            except FileNotFoundError:
                pass
            raise
    _os.replace(tmp, path)


def read_json_if_exists(path: str) -> dict | None:
    if not _os.path.exists(path):
        return None
    with open(path) as fh:
        return _json.load(fh)


# ---------------------------------------------------------------------------
# Generation directories


def generation_path(root: str, gen: int) -> str:
    """Generation directory ``<root>/<gen>`` (numbered, never reused
    until its manifest pointer is gone and a cycle has passed)."""
    return _os.path.join(root, str(int(gen)))


def prune_generations(root: str, keep_from: int) -> None:
    """Best-effort GC of generation directories STRICTLY OLDER than
    ``keep_from``. Callers pass ``keep_from = new_gen - 1`` so the N-1
    generation survives one extra cycle (ADVICE r11 #3): a reader that
    loaded the previous manifest may still hold a lazy DataFrame over
    it — deleting it under them fails their scan mid-action. The N-1
    directory is pruned by the NEXT fold, by which time any reader of
    the N-2 manifest is two commits stale (the documented retry
    boundary)."""
    if not _os.path.isdir(root):
        return
    for name in _os.listdir(root):
        try:
            g = int(name)
        except ValueError:
            continue
        if g < keep_from:
            _shutil.rmtree(_os.path.join(root, name), ignore_errors=True)


# ---------------------------------------------------------------------------
# Existence-aware parquet read


def _probe_no_visible_files(path: str) -> bool:
    """True when a PYTHON-side listing can PROVE the store holds no
    committed data file — i.e. the JVM read would deterministically
    raise PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA. Only ABSOLUTE local
    paths are provable (the r14 footer-walk regression: on a relative
    path with diverging JVM/Python working directories an empty Python
    walk says nothing about what Spark sees — decline and let the JVM
    answer). Hidden names (``_``/``.`` prefixes) are invisible to
    Spark's file index, except the parquet summary files, which CAN
    seed schema inference and therefore count as visible. Symlinked
    directories are walked: the JVM reader follows them, so data behind
    one is committed data."""
    if not _os.path.isabs(path):
        return False  # relative path: Python/JVM CWDs may diverge
    if _os.path.isfile(path):
        return False  # a concrete file: let the reader decide
    if not _os.path.exists(path):
        return True  # PATH_NOT_FOUND, without constructing it
    for dirpath, dirnames, filenames in _os.walk(path, followlinks=True):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for fn in filenames:
            if fn in ("_metadata", "_common_metadata"):
                return False  # summary files can seed inference
            if not fn.startswith(("_", ".")):
                return False  # a visible data file
    return True  # empty tree: UNABLE_TO_INFER_SCHEMA, provably


def read_parquet_if_exists(spark, path: str) -> DataFrame | None:
    """Read a parquet store, returning None ONLY when nothing has ever
    been committed at ``path``. Every other failure — corruption,
    permission, schema mismatch — RE-RAISES: treating a transient read
    error as "store empty" would silently make a maintenance stream
    label a batch as if it were the first delivery, without merging
    against history (ADVICE r10 #1).

    Missing/empty ABSOLUTE paths short-circuit on a Python-side listing
    instead of letting the JVM throw (optimization r15): the analysis
    exception a first-delivery read used to provoke is cached in the
    failed QueryExecution's LazyTry, and any registered QueryExecutionListener
    (e.g. the fold's ``Observation``) that later touches it re-throws —
    ExecutionListenerBus then dumps the whole stack to stderr at ERROR,
    which is what kept tripping the driver's bench-ok scrape. The
    exception arm below stays as the arm of record for relative paths
    and probe/read races."""
    from pyspark.errors import AnalysisException

    if _probe_no_visible_files(path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "[PATH_NOT_FOUND]" in msg
        ):
            return None
        if "UNABLE_TO_INFER_SCHEMA" in msg:
            # the directory exists but holds NO committed parquet footer
            # — a crash during the very first append leaves exactly this
            # (task files land under _temporary/ and only move at job
            # commit), as does a fully-GC'd patch directory: "no visible
            # data file" IS "nothing committed". Corrupt FILES still
            # raise (they are visible, so inference fails differently).
            return None
        raise


# ---------------------------------------------------------------------------
# Latest-wins fold


def latest_wins(
    df: DataFrame,
    key_cols: list[str],
    tiebreak: list[Column],
    select_cols: list,
) -> DataFrame:
    """One row per key: the row from the highest ``_batch_id``, ties
    broken by the caller's DETERMINISTIC ``tiebreak`` columns — a
    replayed or restarted batch must read back identically under every
    interleaving, so the pick can never depend on partition order.
    Per-key window: bounded by each key's patch count, parallel."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_batch_id").desc(), *tiebreak
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*select_cols)
    )


# ---------------------------------------------------------------------------
# Cross-store commit point


def commit_path(store_dir: str) -> str:
    return _os.path.join(store_dir, "COMMIT.json")


def publish_commit(
    store_dir: str, batch_id: int, fence: tuple | None = None
) -> dict:
    """Publish batch ``batch_id`` as committed: every surface's appends
    for it are durable. Forward-only (a replayed batch can never move
    the commit point backwards); the atomic rename IS the commit.
    ``fence`` re-validates the writer lease at the rename (see
    :func:`atomic_write_json`)."""
    cur = read_json_if_exists(commit_path(store_dir))
    committed = int(batch_id)
    if cur is not None:
        committed = max(committed, int(cur["committed_batch"]))
    payload = {
        "committed_batch": committed,
        "version": (int(cur.get("version", 0)) + 1) if cur else 1,
    }
    atomic_write_json(commit_path(store_dir), payload, fence=fence)
    return payload


def read_commit(store_dir: str) -> int | None:
    """The highest atomically-published batch id (None = nothing
    committed yet)."""
    cur = read_json_if_exists(commit_path(store_dir))
    return int(cur["committed_batch"]) if cur is not None else None


# ---------------------------------------------------------------------------
# File-census compaction planning


def walk_parquet_files(root: str) -> tuple[int, int, dict]:
    """(total_files, total_bytes, {leaf_dir_name: file_count}) over the
    live parquet files under ``root`` — a catalog listing, never a data
    scan (at 100 TB this is the namenode/manifest stat call). The
    per-leaf counts are the read-amplification signal: every pruned
    lookup of a key opens every live file in its key directory."""
    files = bytes_ = 0
    per_dir: dict = {}
    if not _os.path.isdir(root):
        return 0, 0, {}
    for dirpath, dirnames, filenames in _os.walk(root):
        # never descend into _temporary/.staging etc. — a crashed
        # append leaves uncommitted task files there that no reader
        # ever sees; counting them would permanently inflate the
        # compaction pressure signal
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        leaf = _os.path.basename(dirpath)
        for fn in filenames:
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            files += 1
            bytes_ += _os.path.getsize(_os.path.join(dirpath, fn))
            per_dir[leaf] = per_dir.get(leaf, 0) + 1
    return files, bytes_, per_dir


def _file_footer_batch(path: str):
    """Per-file ``_batch_id`` from the parquet FOOTER statistics — a
    metadata read, never a data scan. Every writer in this kernel stamps
    ``_batch_id`` as a per-append literal (``F.lit(batch_id)`` in the
    appends, ``F.lit(covered)`` in the fold), so the per-file max
    statistic IS the file's one batch id. Returns ``(max_batch, ok)``:

    * ``(b, True)``   — the file's max ``_batch_id`` is exactly ``b``;
    * ``(None, True)`` — the file provably contributes no batch stamp
      (zero rows, column absent, or all-null column);
    * ``(None, False)`` — statistics missing/unreadable: the caller must
      fall back to the data-scan path."""
    import pyarrow.parquet as _pq

    try:
        md = _pq.ParquetFile(path).metadata
    except Exception:
        return None, False
    if md.num_rows == 0:
        return None, True
    mx = None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            if c.path_in_schema != "_batch_id":
                continue
            st = c.statistics
            if st is None:
                return None, False
            if st.null_count is not None and st.null_count == c.num_values:
                continue  # all-null row group — contributes nothing
            if not st.has_min_max:
                return None, False
            v = int(st.max)
            mx = v if mx is None else max(mx, v)
    return mx, True


def _key_dir_files(path: str, key_col: str) -> list[tuple[str, str]]:
    """``(key_value, file_path)`` for every data file under a
    ``<key_col>=<value>`` partition directory of ``path`` — the catalog
    listing that mirrors Spark's partition discovery."""
    out: list[tuple[str, str]] = []
    if not _os.path.isdir(path):
        return out
    prefix = f"{key_col}="
    for d in _os.listdir(path):
        full = _os.path.join(path, d)
        if not d.startswith(prefix) or not _os.path.isdir(full):
            continue
        val = d[len(prefix):]
        for fn in _os.listdir(full):
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            out.append((val, _os.path.join(full, fn)))
    return out


def _has_partition_dirs_for(path: str, key_col: str) -> bool:
    if not _os.path.isdir(path):
        return False
    prefix = f"{key_col}="
    return any(
        d.startswith(prefix) and _os.path.isdir(_os.path.join(path, d))
        for d in _os.listdir(path)
    )


def _remove_files(paths) -> int:
    """Best-effort delete; returns how many went (a vanished file is
    already gone)."""
    removed = 0
    for p in paths:
        try:
            _os.remove(p)
            removed += 1
        except OSError:
            pass
    return removed


def _prune_covered_files_footer(
    entries: list, covered: int, covered_by_key: dict | None
) -> int | None:
    """Footer-statistics arm of :func:`prune_covered_files` (guide §1.2
    step 1 / §6: the file→batch map is metadata, so deciding which files
    a fold superseded needs a stat call per file, not a Spark job over
    the patch data). ``entries`` is ``[(key_value, file_path)]`` from
    the partition directories, exactly Spark's partition discovery.
    Returns the removed count, or None when any footer lacks usable
    statistics (caller falls back to the scan arm)."""
    dead_paths: list[str] = []
    for k, f in entries:
        m, ok = _file_footer_batch(f)
        if not ok:
            return None
        cut = covered
        if covered_by_key is not None:
            cut = covered_by_key.get(str(k), covered)
        if m is not None and int(m) <= int(cut):
            dead_paths.append(f)
    return _remove_files(dead_paths)


def prune_covered_files(
    spark,
    path: str,
    covered: int,
    key_col: str | None = None,
    covered_by_key: dict | None = None,
) -> int:
    """Delete data FILES under ``path`` wholly superseded by a fold —
    every row in them has ``_batch_id <=`` its key's covered cut, so
    the reader of record never returns their rows. File→max-batch comes
    from one slim column scan grouped by ``input_file_name`` — bounded
    by the live patch population, which the fold just reset. With
    ``key_col``/``covered_by_key`` (selective compaction), each file's
    cut is its partition key's entry (falling back to ``covered``), so
    a fold of only the hot shards prunes only their files. Returns the
    number of files removed. A reader racing this with an
    already-materialized file index can hit FileNotFound on the pruned
    tail and must retry against the new manifest (the documented
    patch-tail contract; an object-store deployment reads through
    snapshot manifests instead of dir listings and never races).

    Fast path (optimization r14, guide §1.2/§6): because every kernel
    writer stamps ``_batch_id`` as a per-append constant, the file→max
    map is fully determined by the parquet FOOTER statistics plus the
    partition directory names — :func:`_prune_covered_files_footer`
    answers it with per-file stat calls instead of a Spark job over the
    patch data, whenever ``key_col`` names real ``key=`` partition
    directories (each file's key is its directory name, constant per
    file by construction). The scan arm below remains the arm of record
    for files whose footers lack usable statistics, and for the
    key_col-as-data-column shape whose uniqueness guard must raise."""
    from urllib.parse import unquote, urlparse

    if key_col is not None and _has_partition_dirs_for(path, key_col):
        fast = _prune_covered_files_footer(
            _key_dir_files(path, key_col), covered, covered_by_key
        )
        if fast is not None:
            return fast

    df = read_parquet_if_exists(spark, path)
    if df is None:
        return 0
    aggs = [F.max("_batch_id").alias("m")]
    if key_col is not None:
        # min (deterministic) + a uniqueness guard (ADVICE r12 #4):
        # the per-file key is only well-defined because key_col is a
        # PARTITION column (constant per file) — a caller passing a
        # non-partition key would otherwise get an arbitrary key and
        # could delete files still holding live rows. Fail loudly
        # instead of silently losing data.
        aggs.append(F.min(F.col(key_col)).alias("k"))
        aggs.append(F.countDistinct(F.col(key_col)).alias("_nk"))
    rows = df.groupBy(F.input_file_name().alias("f")).agg(*aggs).collect()
    dead_paths: list[str] = []
    for r in rows:
        cut = covered
        if key_col is not None and covered_by_key is not None:
            if int(r["_nk"]) > 1:
                raise ValueError(
                    f"prune_covered_files: key_col {key_col!r} is not "
                    f"constant within file {r['f']} — it must be a "
                    "partition column; refusing to prune"
                )
            cut = covered_by_key.get(str(r["k"]), covered)
        if r["m"] is not None and int(r["m"]) <= int(cut):
            dead_paths.append(unquote(urlparse(r["f"]).path))
    return _remove_files(dead_paths)


def carry_partitions(
    src_root: str, dst_root: str, leaf_names: list[str]
) -> int:
    """Carry untouched partition directories from one generation into
    the next WITHOUT rewriting them: hard-link every data file (same
    inode — zero bytes moved; copy only if the filesystem refuses the
    link). This is what makes compaction SELECTIVE: a fold of the hot
    partitions pays write cost proportional to the hot data only, while
    cold partitions ride along for the price of a directory entry. On
    an object store the equivalent is re-listing the same immutable
    objects in the new generation's manifest. Returns the number of
    files carried."""
    carried = 0
    for leaf in leaf_names:
        src = _os.path.join(src_root, leaf)
        if not _os.path.isdir(src):
            continue
        dst = _os.path.join(dst_root, leaf)
        _os.makedirs(dst, exist_ok=True)
        for fn in _os.listdir(src):
            if fn.startswith(("_", ".")) or not _os.path.isfile(
                _os.path.join(src, fn)
            ):
                continue
            s, d = _os.path.join(src, fn), _os.path.join(dst, fn)
            try:
                _os.link(s, d)
            except OSError:
                _shutil.copy2(s, d)
            carried += 1
    return carried


# ---------------------------------------------------------------------------
# Sharded keyed store — the GENERIC fold discipline (r12 verdict Next
# #1): one implementation of sharded append + manifest + generation +
# per-shard selective compaction + latest-wins read, parameterized by
# key, tiebreak, and value columns. The label and sig stores are its
# two instantiations; their maintenance streams (and the ANN store's)
# run through :func:`leased_store_stream` below, so neither the fold
# nor the per-batch lease loop has a per-store copy.


def append_sharded_patch(
    patch: DataFrame,
    store_path: str,
    batch_id: int,
    shard_key: str,
    n_shards: int,
) -> None:
    """Append one batch's patch as sharded parquet rows: attach the
    deterministic md5 shard of ``shard_key`` (the `sources/sharding`
    rule — engine-reproducible, size-balanced) and the batch stamp,
    ONE exchange on the shard key so each touched shard directory
    receives exactly one file per batch."""
    from ..sources.sharding import with_shard

    (
        with_shard(patch, shard_key, n_shards)
        .withColumn("_batch_id", F.lit(int(batch_id)))
        .repartition("shard")
        .write.mode("append")
        .partitionBy("shard")
        .parquet(store_path)
    )


def store_manifest_path(store_path: str) -> str:
    """``<store>_MANIFEST.json`` — the compaction manifest of one
    sharded keyed table (the labelstore naming rule, now shared)."""
    return store_path.rstrip("/") + "_MANIFEST.json"


def store_generation_root(store_path: str) -> str:
    return store_path.rstrip("/") + "_gen"


def store_generation_path(store_path: str, gen: int) -> str:
    return generation_path(store_generation_root(store_path), gen)


def read_store_manifest(store_path: str) -> dict | None:
    """The table's compaction manifest (None = never compacted):
    ``{"gen": N, "covered_max_batch": B, "covered": {shard: B_s},
    "covered_default": D, "version": k}`` — a shard's patches with
    ``_batch_id <=`` its covered cut are folded into generation N; the
    reader of record scans gen N plus only the newer patches.

    Every reader and fold passes through here, so this is the door the
    one store layout is kept at: a store with data files at its ROOT
    (flat appends from before the shard/stamp discipline — Spark's
    partition discovery would silently skip them beside ``shard=``
    directories) or a manifest without ``covered_default`` (the older
    scalar-cut form) raises ValueError instead of being read."""
    man = read_json_if_exists(store_manifest_path(store_path))
    if _root_parquet_files(store_path) or (
        man is not None and "covered_default" not in man
    ):
        raise ValueError(
            f"{store_path} is not a sharded, batch-stamped keyed store "
            "(data files at the store root, or a manifest without "
            "covered_default); rebuild from a fresh store"
        )
    return man


def patch_cut_filter(man: dict):
    """The patch-visibility cut as a column predicate. Full folds write
    a scalar cut (every shard covered at the same batch); SELECTIVE
    folds write a per-shard ``covered`` map — each shard's patches are
    cut at ITS OWN fold batch, with ``covered_default`` for shards
    never folded. The map is a tiny literal (≤ n_shards entries)
    evaluated per row — no join, no shuffle."""
    cov = man.get("covered") or {}
    default = int(man["covered_default"])
    if not cov:
        return F.col("_batch_id") > F.lit(default)
    pairs = []
    for k, v in cov.items():
        pairs += [F.lit(str(k)), F.lit(int(v))]
    cut = F.coalesce(
        F.element_at(
            F.create_map(*pairs), F.col("shard").cast("string")
        ),
        F.lit(default),
    )
    return F.col("_batch_id") > cut


def _root_parquet_files(path: str) -> list[str]:
    """Data files sitting at the store ROOT (not inside a ``shard=``
    partition directory)."""
    if not _os.path.isdir(path):
        return []
    return [
        _os.path.join(path, f)
        for f in _os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def live_keyed_rows(
    spark, store_path: str, extra_filter=None
) -> DataFrame | None:
    """The raw LIVE rows of a sharded keyed table: the current
    compaction generation (if any) plus only the patches NEWER than
    what it folded (per-shard cut — :func:`patch_cut_filter`).
    Superseded patch files left behind by a crash between the manifest
    repoint and the prune are filtered out by the cut — a torn
    compaction is garbage, never corruption. A store in any other
    layout is refused by :func:`read_store_manifest`."""
    man = read_store_manifest(store_path)
    patches = read_parquet_if_exists(spark, store_path)
    if man is not None:
        # the manifest is the pointer of record: a missing generation
        # directory under a live manifest is corruption — raise (the
        # repoint lands only after the generation is fully written)
        gen = spark.read.parquet(store_generation_path(store_path, man["gen"]))
        if patches is not None:
            patches = patches.filter(patch_cut_filter(man))
            df = gen.unionByName(patches, allowMissingColumns=True)
        else:
            df = gen
    elif patches is None:
        return None
    else:
        df = patches
    if extra_filter is not None:
        df = df.filter(extra_filter)
    return df


def _covered_from_footers(
    store_path: str, man: dict | None, committed: int | None, sel
):
    """Footer-statistics twin of ``live.agg(max(_batch_id))`` inside
    :func:`compact_keyed_store` (guide §1.2 step 1: the fold's covered
    stamp is determined by per-file constants, so computing it was a
    full Spark pass over the live rows for a number the footers already
    hold). Replicates the live-set semantics exactly: patch files cut
    per shard by the manifest map, the committed cap excluding whole
    files (per-file constant stamps), shard selection by directory
    name, plus the current generation's files for the selected shards.
    Returns ``(covered|None, ok)``; ``ok=False`` → caller must run the
    scan arm (missing stats, a missing generation directory — which the
    scan arm reports properly — or a listing that finds NO files at
    all: the caller only runs this after reading a non-None live frame
    through Spark, so files exist, and a Python-side walk that cannot
    see any of them means the path does not resolve to the same tree
    for both sides — e.g. a RELATIVE store path when the JVM and Python
    working directories diverge. Trusting the empty walk there silently
    turned the fold into a no-op, r14 regression)."""
    cov = dict((man or {}).get("covered") or {})
    roots = [(store_path, True)]
    if man is not None:
        gen_root = store_generation_path(store_path, man["gen"])
        if not _os.path.isdir(gen_root):
            return None, False  # corruption — scan arm raises properly
        roots.append((gen_root, False))
    mx = None
    n_files = 0
    for root, is_patch in roots:
        for s, f in _key_dir_files(root, "shard"):
            try:
                si = int(s)
            except ValueError:
                return None, False
            if sel is not None and si not in sel:
                continue
            n_files += 1
            b, ok = _file_footer_batch(f)
            if not ok or b is None:
                return None, False  # stats unusable or unstamped file
            if (
                is_patch
                and man is not None
                and b <= int(cov.get(s, man["covered_default"]))
            ):
                continue  # superseded by the shard's covered cut
            if committed is not None and b > int(committed):
                continue  # beyond the cross-store commit point
            mx = b if mx is None else max(mx, b)
    if n_files == 0:
        return None, False  # Python-side view sees no data — scan arm
    return mx, True


def compact_keyed_store(
    spark,
    store_path: str,
    *,
    key_cols: list[str],
    tiebreak=None,
    value_cols: list[str] | None = None,
    shard_key: str,
    n_shards: int,
    shards: list[int] | None = None,
    prune: bool = True,
    committed: int | None = None,
    fence: tuple | None = None,
) -> int:
    """Fold live rows down to one latest-wins row per key, written as a
    NEW generation directory sharded by the md5 bucket of
    ``shard_key``, with the manifest repointed LAST (fenced atomic
    rename). ``shards`` makes the fold SELECTIVE: only the listed (hot)
    shards are rewritten — their covered cut advances in the manifest's
    per-shard map — while every other shard's generation files are
    CARRIED by hard link (zero bytes) and its patches stay live at its
    old cut. ``committed`` caps the fold at the published cross-store
    commit so a half-committed batch is never baked into a generation.

    ``value_cols=None`` derives the value columns from the live frame
    (everything except keys/shard/stamp) — for stores with
    caller-extensible schemas; ``tiebreak=None`` orders by every value
    column ascending, the total order that makes the pick deterministic
    for ANY schema (same-batch replay rows are identical, so any total
    order is correct — it just must be one).

    Crash windows, stamp discipline, and the one-cut-per-hot-shard
    safety argument are the labelstore's (see that module's
    compact_label_store docstring — this is the same code, factored).
    Returns the folded row count (hot shards only when selective)."""
    import shutil as _sh

    man = read_store_manifest(store_path)
    if (
        committed is not None
        and man is not None
        and int(committed) < int(man["covered_max_batch"])
    ):
        # In every legitimate flow the commit point only moves forward
        # and a fold's covered stamp is <= the commit at fold time, so
        # committed >= covered_max_batch always holds. A LOWER commit
        # point means a foreign/corrupt COMMIT.json (e.g. a store
        # adopted into a dir whose commit file belongs to a different
        # batch-id space) — applying it as a cut would exclude the
        # ENTIRE previous generation (all rows stamped at its covered
        # batch) and silently bake its loss into the next generation.
        raise ValueError(
            f"commit point {committed} is below the store's covered "
            f"fold stamp {man['covered_max_batch']} ({store_path}) — "
            "the COMMIT.json does not belong to this store's batch-id "
            "space; refusing to fold"
        )
    cut = (
        F.col("_batch_id") <= int(committed)
        if committed is not None
        else None
    )
    live = live_keyed_rows(spark, store_path, extra_filter=cut)
    if live is None:
        return 0
    sel = sorted({int(s) for s in shards}) if shards is not None else None
    if sel is not None:
        live = live.filter(F.col("shard").isin(sel))
    if value_cols is None:
        value_cols = [
            c
            for c in live.columns
            if c not in key_cols and c not in ("shard", "_batch_id")
        ]
    if tiebreak is None:
        tiebreak = [F.col(c).asc() for c in value_cols]
    # covered stamp from footer statistics when every footer has
    # usable stats — otherwise the scan arm (one pass over the live rows)
    covered, fast = _covered_from_footers(store_path, man, committed, sel)
    if not fast:
        covered = live.agg(F.max("_batch_id").alias("m")).collect()[0]["m"]
    if covered is None:
        return 0  # nothing published (or nothing hot) — nothing to fold
    covered = int(covered)
    latest = latest_wins(live, key_cols, tiebreak, key_cols + value_cols)
    new_gen = (int(man["gen"]) + 1) if man is not None else 1
    gen_path = store_generation_path(store_path, new_gen)
    if _os.path.exists(gen_path):  # torn previous attempt never repointed
        _sh.rmtree(gen_path)
    from pyspark.sql import Observation

    from ..sources.sharding import with_shard

    # row count rides the write itself as an observed metric — a
    # re-read-and-count of the fresh generation would be a second full
    # pass over the folded data inside the lease window
    obs = Observation()
    (
        with_shard(latest, shard_key, n_shards)
        .withColumn("_batch_id", F.lit(covered))
        .repartition("shard")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("append")
        .partitionBy("shard")
        .parquet(gen_path)
    )
    n = int(obs.get["n"])
    if fence is not None:
        # heartbeat + ownership check after the expensive step: a fold
        # longer than ttl_s renews instead of being reclaimed; a fold
        # whose lease WAS reclaimed fails-stop before the repoint
        renew_lease(fence[0], fence[1])
    old_map = dict(man.get("covered") or {}) if man is not None else {}
    old_default = int(man["covered_default"]) if man is not None else -1
    if sel is None:
        new_map: dict = {}
        new_default = covered
    else:
        if man is not None:
            # cold shards ride along: hard-link their generation files
            # into the new generation (zero bytes rewritten)
            old_root = store_generation_path(store_path, man["gen"])
            hot = {f"shard={s}" for s in sel}
            cold = [
                d
                for d in _os.listdir(old_root)
                if d.startswith("shard=") and d not in hot
            ]
            carry_partitions(old_root, gen_path, cold)
        new_map = dict(old_map, **{str(s): covered for s in sel})
        new_default = old_default
    atomic_write_json(  # the commit point — repoint LAST, fenced
        store_manifest_path(store_path),
        {
            "gen": new_gen,
            "covered_max_batch": max(
                [new_default] + [int(v) for v in new_map.values()]
            ),
            "covered": new_map,
            "covered_default": new_default,
            "n_shards": int(n_shards),
            "version": (int(man.get("version", 0)) + 1) if man else 1,
        },
        fence=fence,
    )
    if prune:  # best-effort garbage collection AFTER the commit point
        # N-1 generation retained one cycle (ADVICE r11 #3); patch
        # files wholly covered by their shard's cut removed per-file
        prune_generations(store_generation_root(store_path), new_gen - 1)
        prune_covered_files(
            spark,
            store_path,
            new_default,
            key_col="shard",
            covered_by_key=new_map,
        )
    return n


def read_amp_decision(
    live: dict,
    gate_files: int,
    file_cutoff: float,
    min_files: int,
    key_prefix: str,
) -> tuple[float, str, list[int], str]:
    """The read-amplification rule every compaction plan prices (label,
    sig and ANN stores, and the sharded corpus layout). ``live`` maps
    leaf directory name → live file count (:func:`walk_parquet_files`);
    read amplification is the mean over its directories (1.0 is the
    compacted ideal). Action is ``"compact"`` when that mean reaches
    ``file_cutoff`` AND ``gate_files`` reaches ``min_files`` (a
    near-empty store is never worth a rewrite). The fold list holds the
    ``<key_prefix><n>`` directories whose OWN count crossed the cutoff;
    the scope is ``"full"`` when that is none or all of them, else
    ``"selective"`` (cold directories are hard-link-carried). Returns
    ``(read_amp, action, fold, scope)``."""
    read_amp = (sum(live.values()) / len(live)) if live else 0.0
    action = (
        "compact"
        if read_amp >= file_cutoff and gate_files >= min_files
        else "skip"
    )
    keyed = {k: nf for k, nf in live.items() if k.startswith(key_prefix)}
    to_fold = sorted(
        int(k.split("=", 1)[1]) for k, nf in keyed.items() if nf >= file_cutoff
    )
    scope = (
        "full"
        if not to_fold or len(to_fold) == len(keyed)
        else "selective"
    )
    return round(read_amp, 3), action, to_fold, scope


def sharded_compaction_plan(
    store_path: str,
    file_cutoff: float = 4.0,
    min_patch_files: int = 8,
) -> dict:
    """Decide whether folding the patch history into a new generation
    pays for itself, from per-shard FILE-COUNT statistics — a catalog
    listing, never a data scan (at 100 TB this is the namenode/manifest
    stat call). Sustained append-only patches are the small-files
    problem: every pruned lookup opens every live file in its shard
    directory, so read amplification ≈ mean live files per shard (1.0
    is the compacted ideal).

    Compact when the mean files-per-shard reaches ``file_cutoff`` AND
    at least ``min_patch_files`` patch files exist. Returns the
    decision dict with the selective-fold shard list (the shards whose
    OWN file count crossed the cutoff)."""
    man = read_store_manifest(store_path)
    patch_files, patch_bytes, patch_shards = walk_parquet_files(store_path)
    gen_files = gen_bytes = 0
    gen_shards: dict = {}
    if man is not None:
        gen_files, gen_bytes, gen_shards = walk_parquet_files(
            store_generation_path(store_path, man["gen"])
        )
    shards = set(patch_shards) | set(gen_shards)
    live = {
        s: patch_shards.get(s, 0) + gen_shards.get(s, 0) for s in shards
    }
    read_amp, action, to_fold, fold_scope = read_amp_decision(
        live, patch_files, file_cutoff, min_patch_files, "shard="
    )
    return {
        "action": action,
        "read_amp": read_amp,
        "file_cutoff": file_cutoff,
        "patch_files": patch_files,
        "patch_bytes": patch_bytes,
        "gen_files": gen_files,
        "gen_bytes": gen_bytes,
        "n_live_shards": len(live),
        "max_files_one_shard": max(live.values()) if live else 0,
        "shards_to_fold": to_fold,
        "fold_scope": fold_scope,
    }


# ---------------------------------------------------------------------------
# Single-writer lease (r11 verdict Next #3): the LSM "one writer at a
# time" rule, enforced. Appenders take the lease per batch; compactors
# and refitters take it for the whole fold. An out-of-band compactor
# racing the maintenance stream is REFUSED instead of interleaving with
# a half-appended batch and stranding its patch behind the covered cut.


class LeaseHeld(RuntimeError):
    """The store's writer lease is held by another live writer."""


class LeaseLost(RuntimeError):
    """The writer's lease was reclaimed (TTL-stale) by another writer —
    the holder must FAIL-STOP: its fenced publish is refused and the
    store is left exactly as the new holder sees it."""


def lease_path(store_dir: str) -> str:
    return _os.path.join(store_dir, "WRITER_LEASE.json")


def unique_owner(prefix: str) -> str:
    """A collision-proof owner identity for ONE-SHOT writers (out-of-
    band compactors, refits): pid alone is reusable across restarts and
    collides across hosts on a shared filesystem — and owner equality
    grants instant self-reclaim of a LIVE lease, so a collision steals
    it. Streams keep their checkpoint-path identity (same checkpoint =
    same process slot, so self-reclaim there is correct)."""
    import uuid as _uuid

    return f"{prefix}:{_os.getpid()}:{_uuid.uuid4().hex[:8]}"


def _read_lease_doc(path: str) -> dict | None:
    """Lease read mapped into the protocol: a vanished file is None; a
    torn/unparseable file is ``{}`` — present but unjudgeable, which
    callers must treat as HELD (never reclaim what you cannot read).
    With the link-published create and atomic renew below, torn lease
    content cannot occur in normal operation — this guards legacy files
    and external corruption."""
    try:
        with open(path) as fh:
            return _json.load(fh)
    except FileNotFoundError:
        return None
    except (ValueError, OSError):
        return {}


def _lease_stale(doc: dict, default_ttl: float) -> bool:
    return (
        _time.time() - float(doc.get("acquired_at", 0))
        > float(doc.get("ttl_s", default_ttl))
    )


def acquire_lease(store_dir: str, owner: str, ttl_s: float = 600.0) -> dict:
    """Take the store's single-writer lease or raise :class:`LeaseHeld`.

    Acquisition publishes the COMPLETE lease doc by hard link (write a
    private file, then ``os.link`` it at the lease path): atomic and
    exclusive like ``O_EXCL``, but a reader can never observe a
    half-written lease. A lease older than its ``ttl_s`` is STALE (its
    holder crashed without releasing); reclaim renames it to a private
    tombstone — the rename succeeds for exactly ONE reclaimer, so two
    writers judging the same stale lease can never both win (the old
    unlink-and-retry reclaim let the slower one unlink the faster one's
    FRESH lease). If the tombstone turns out to be a fresh foreign
    lease (it changed hands between our read and our rename), it is
    restored by link — and if a third writer claimed the path in that
    sliver, the displaced holder FAIL-STOPS at its next fenced publish
    or renewal rather than dual-writing. Re-entry by the SAME owner
    (a stream replaying under its checkpoint identity) reclaims its own
    lease immediately — the previous incarnation is dead by
    construction.

    The returned doc carries a fresh ``nonce`` — the FENCING TOKEN
    (r12 verdict Next #2): fenced publishes
    (``atomic_write_json(..., fence=(store_dir, nonce))``) re-validate
    it at the commit point, and :func:`renew_lease` heartbeats it
    through batches longer than ``ttl_s``, so a stale-but-alive writer
    whose lease was reclaimed can never publish over the new holder."""
    import uuid as _uuid

    _os.makedirs(store_dir, exist_ok=True)
    path = lease_path(store_dir)
    nonce = _uuid.uuid4().hex
    doc = {
        "owner": owner,
        "acquired_at": _time.time(),
        "ttl_s": float(ttl_s),
        "nonce": nonce,
    }
    tmp = path + ".acq." + nonce
    with open(tmp, "w") as fh:
        _json.dump(doc, fh)
        fh.flush()
        _os.fsync(fh.fileno())
    try:
        for _attempt in range(4):
            try:
                _os.link(tmp, path)  # atomic, exclusive, content-complete
                return doc
            except FileExistsError:
                pass
            cur = _read_lease_doc(path)
            if cur is None:
                continue  # released between our link and read — retry
            if cur == {}:
                raise LeaseHeld(
                    f"writer lease on {store_dir} is unreadable — "
                    "refusing to reclaim what cannot be judged"
                )
            if cur.get("owner") == owner or _lease_stale(cur, ttl_s):
                tomb = path + ".reclaim." + nonce
                try:
                    _os.rename(path, tomb)  # exactly one reclaimer wins
                except FileNotFoundError:
                    continue  # someone else reclaimed first — re-judge
                tombdoc = _read_lease_doc(tomb) or {}
                if tombdoc.get("owner") != owner and not _lease_stale(
                    tombdoc or {"acquired_at": 0}, ttl_s
                ):
                    # we renamed a lease that changed hands between our
                    # read and our rename — restore it WITHOUT
                    # clobbering anything newer (link refuses if a new
                    # lease landed; that displaced holder fail-stops at
                    # its next fenced operation)
                    try:
                        _os.link(tomb, path)
                    except FileExistsError:
                        pass
                    _os.unlink(tomb)
                    raise LeaseHeld(
                        f"writer lease on {store_dir} changed hands to "
                        f"{tombdoc.get('owner')!r} during reclaim"
                    )
                _os.unlink(tomb)
                continue  # stale (or our own) lease cleared — retry link
            raise LeaseHeld(
                f"writer lease on {store_dir} held by "
                f"{cur.get('owner')!r} (age "
                f"{_time.time() - float(cur.get('acquired_at', 0)):.0f}s, "
                f"ttl {cur.get('ttl_s')}s)"
            )
        raise LeaseHeld(f"could not acquire writer lease on {store_dir}")
    finally:
        try:
            _os.unlink(tmp)
        except FileNotFoundError:
            pass


def verify_lease(store_dir: str, nonce: str) -> dict:
    """Re-validate ownership: the lease file must still carry this
    writer's ``nonce``. Raises :class:`LeaseLost` when the lease was
    reclaimed (different nonce), released/deleted, or unreadable — the
    publisher's safe posture is always fail-stop, never an escaping
    parse error."""
    cur = _read_lease_doc(lease_path(store_dir))
    if cur is None or cur.get("nonce") != nonce:
        raise LeaseLost(
            f"writer lease on {store_dir} was "
            + ("released" if cur is None else
               f"reclaimed by {cur.get('owner')!r}")
            + " — refusing to publish (fail-stop)"
        )
    return cur


def renew_lease(store_dir: str, nonce: str) -> dict:
    """Heartbeat the lease: refresh ``acquired_at`` iff the lease file
    still carries this writer's ``nonce`` (else :class:`LeaseLost` —
    the renewal doubles as an ownership check at each step of a long
    batch). A fold longer than ``ttl_s`` renews between its steps so
    it is never treated as crashed while alive (ADVICE r12 #1); a
    writer that misses every renewal window for a full TTL is
    indistinguishable from a crash and loses the lease — which is the
    contract.

    The heartbeat is RACE-FREE, not merely fenced (ADVICE r13): it
    renames the lease to a private working file (atomic — exactly one
    mover wins against a reclaimer's tombstone rename), checks the
    nonce on the captured doc, then republishes the renewed doc by
    ``os.link`` (exclusive — refuses if an acquirer claimed the briefly
    absent path). Every interleaving with a reclaim or a fresh acquire
    therefore resolves to exactly one live lease: either we moved the
    file first and the reclaimer re-judges the republished doc, or they
    moved it first and we fail-stop with :class:`LeaseLost`. A crash
    between the rename and the link loses the lease immediately (the
    path is absent), which is strictly safer than holding it to TTL.

    The nonce PRE-CHECK below keeps a ZOMBIE heartbeat (a writer whose
    lease was already reclaimed) from ever touching the path in the
    common case — without it, the zombie's rename-take would briefly
    remove the NEW holder's fresh lease, and the new holder's own
    fenced publish racing that window would spuriously fail-stop. With
    the pre-check, only a reclaim landing in the microsecond between
    the read and the rename reaches the restore path — the same
    residual window class as the fenced publish itself, against TTLs
    of minutes. The legitimate holder's own heartbeat still opens a
    microsecond absent-path window in which a spinning acquirer can
    win the lease; safety holds either way (this writer's link then
    refuses and it fail-stops), and the window is the price of a
    clobber-proof republish on a filesystem with no compare-and-swap."""
    path = lease_path(store_dir)
    pre = _read_lease_doc(path)
    if pre is None or pre.get("nonce") != nonce:
        raise LeaseLost(
            f"writer lease on {store_dir} was "
            + (
                "released" if pre is None else
                f"reclaimed by {pre.get('owner')!r}"
            )
            + " — refusing to heartbeat (fail-stop)"
        )
    work = path + ".renew." + nonce
    try:
        _os.rename(path, work)  # atomic take: one mover wins
    except FileNotFoundError:
        raise LeaseLost(
            f"writer lease on {store_dir} was released or reclaimed — "
            "refusing to heartbeat (fail-stop)"
        )
    cur = _read_lease_doc(work)
    if not cur or cur.get("nonce") != nonce:
        # we took someone ELSE's lease (a reclaimer re-acquired between
        # a prior check and our rename) — restore it without clobbering
        # anything newer, then fail-stop
        try:
            _os.link(work, path)
        except FileExistsError:
            pass
        _os.unlink(work)
        raise LeaseLost(
            f"writer lease on {store_dir} was reclaimed by "
            f"{(cur or {}).get('owner')!r} — refusing to heartbeat"
        )
    doc = dict(cur, acquired_at=_time.time())
    tmp = path + ".hb." + nonce
    with open(tmp, "w") as fh:
        _json.dump(doc, fh)
        fh.flush()
        _os.fsync(fh.fileno())
    try:
        _os.link(tmp, path)  # exclusive: a racing acquirer wins
    except FileExistsError:
        try:
            _os.unlink(tmp)
        finally:
            _os.unlink(work)
        raise LeaseLost(
            f"writer lease on {store_dir} was claimed by a new holder "
            "during the heartbeat — refusing to resurrect ours"
        )
    _os.unlink(tmp)
    _os.unlink(work)
    return doc


def release_lease(
    store_dir: str, owner: str, nonce: str | None = None
) -> None:
    """Release the lease if this writer still holds it (a reclaimed-from
    writer releasing late must not delete the new holder's lease).
    With ``nonce`` the check is exact (owner strings can collide across
    incarnations — PID reuse, same checkpoint identity); owner-only is
    the legacy form."""
    path = lease_path(store_dir)
    cur = _read_lease_doc(path)
    if not cur:  # vanished or unreadable — nothing provably ours
        return
    if nonce is not None:
        if cur.get("nonce") != nonce:
            return
    elif cur.get("owner") != owner:
        return
    try:
        _os.unlink(path)
    except FileNotFoundError:
        pass


class writer_lease:
    """``with writer_lease(store_dir, owner) as doc:`` — acquire on
    enter (``doc["nonce"]`` is the fencing token), release on exit
    (including on error: a crashed fold's lease would otherwise block
    writers until TTL). ``.renew()`` heartbeats mid-batch; ``.fence``
    is the ``(store_dir, nonce)`` pair fenced publishes take."""

    def __init__(self, store_dir: str, owner: str, ttl_s: float = 600.0):
        self.store_dir, self.owner, self.ttl_s = store_dir, owner, ttl_s
        self.doc: dict | None = None

    @property
    def fence(self) -> tuple:
        return (self.store_dir, self.doc["nonce"])

    def renew(self) -> dict:
        self.doc = renew_lease(self.store_dir, self.doc["nonce"])
        return self.doc

    def __enter__(self):
        self.doc = acquire_lease(self.store_dir, self.owner, self.ttl_s)
        return self.doc

    def __exit__(self, *exc):
        release_lease(
            self.store_dir,
            self.owner,
            nonce=self.doc.get("nonce") if self.doc else None,
        )
        return False


@_contextlib.contextmanager
def held_fence(store_dir: str, fence: tuple | None, owner_prefix: str):
    """``with held_fence(store_dir, fence, "compactor") as fence:`` —
    the fence a one-shot writer (a compactor, a refit) publishes under.
    A caller that passes ``fence`` already holds the store's lease (an
    inline fold inside a :func:`leased_store_stream` batch) and keeps
    it; one that passes None gets the lease taken here under a
    :func:`unique_owner` identity, released on exit — and
    :class:`LeaseHeld` while another writer (e.g. the maintenance
    stream, mid-batch) holds it."""
    if fence is not None:
        yield fence
        return
    lease = writer_lease(store_dir, unique_owner(owner_prefix))
    with lease:
        yield lease.fence


def leased_store_stream(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    run_batch,
    surfaces,
    on_compaction,
    available_now: bool,
):
    """Start the maintenance loop every durable store stream runs
    (returns the StreamingQuery): per micro-batch, take the store's
    writer lease, run ``run_batch(bdf, batch_id, fence)`` under it,
    then — when that returns True (the batch committed something) —
    fold each compaction surface inline, still under the same lease.

    Lease owner = ``stream:<abs checkpoint>``: a crash-replayed batch
    under the same checkpoint reclaims its own stale lease immediately
    (the previous incarnation is dead by construction — same
    checkpoint, same process slot), while an out-of-band compactor is
    refused with :class:`LeaseHeld` for the whole batch. ``fence`` is
    the ``(store_dir, nonce)`` pair the body's fenced publishes and
    renewals take.

    ``surfaces`` lists ``(name, plan, fold_key, compact)``: ``plan()``
    prices the surface's decision dict; on ``"compact"``,
    ``compact(fold, fence)`` folds it — ``fold`` is ``plan[fold_key]``
    when the plan's scope is selective, else None (full fold) — and
    its row count lands in the dict as ``compacted``.
    ``on_compaction`` observes every dict with ``batch_id`` (and
    ``store=name`` when the name is not None). The query runs through
    :func:`~go_fish_spark.streaming.sinks.foreach_sink` at
    ``checkpoint_dir``; ``available_now`` drains what is available and
    stops."""
    from .sinks import foreach_sink

    owner = f"stream:{_os.path.abspath(checkpoint_dir)}"

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        lease = writer_lease(store_dir, owner)
        with lease:
            if not run_batch(bdf, batch_id, lease.fence):
                return
            for name, plan_of, fold_key, compact in surfaces:
                plan = plan_of()
                if plan["action"] == "compact":
                    plan["compacted"] = compact(
                        plan[fold_key]
                        if plan["fold_scope"] == "selective"
                        else None,
                        lease.fence,
                    )
                if on_compaction is not None:
                    tag = {"store": name} if name is not None else {}
                    on_compaction(dict(plan, batch_id=batch_id, **tag))

    return foreach_sink(
        stream, process_batch, checkpoint_dir,
        trigger_available_now=available_now,
    )
