"""Durable IVF-PQ ANN index STORE with a streaming maintenance arm —
the ANN family's durable twin (r11: the x139/x150 store discipline
applied to the billion-vector layout the x47 search runs on).

What persists:

* **The frozen model** — coarse centroids + residual PQ codebooks —
  as one JSON manifest (``MODEL.json``), published with write-tmp +
  atomic rename and carrying the data GENERATION pointer. The model is
  deliberately tiny (n_cells×dim + m×ksub×dsub doubles) and frozen:
  every executor-side stage is a pure column expression over its
  literals, so any engine (and the DuckDB oracle) reproduces cells and
  codes bit-for-bit from the manifest alone.
* **The compressed inverted file** — slim (id, cell, codes,
  _batch_id) rows, parquet ``partitionBy("cell")`` under
  ``cells/<gen>/``: the cell IS the partition, so a probe reads
  exactly its probed cell directories (PartitionFilters — the
  labelstore sharding payoff, with the search key as the shard key).
  At m=4/ksub=16 the store is ~2 bytes of codes per vector — the form
  that lets a 100 TB embedding corpus live in cluster RAM.

Maintenance is MAP-ONLY: each micro-batch encodes its own rows against
the frozen literals (no shuffle — the one exchange is the
partitionBy(cell) write) and appends; edited ids re-append and the
latest-wins reader supersedes (the sigstore rule). Restart safety =
checkpointed offsets + latest-wins collapse of a replayed batch. The
per-batch writer lease and the priced inline compaction are the
kernel's ``leased_store_stream`` — the loop the label and sig store
streams run too.

Refit is a PRICED DECISION, not a reflex: :func:`ann_refit_plan`
compares the incoming batch's cell distribution against the model's
train-time distribution (Jensen–Shannon divergence over two bounded
≤n_cells histograms — the x112 law) and prices the full re-encode a
refit costs; :func:`refit_ann_store` then runs it as a BATCH job over
the raw-vector lake (fit new model → re-encode → write generation N+1
→ repoint the manifest LAST — the compact_label_store commit), because
at 100 TB re-encoding the corpus is a planned job, never a micro-batch
side effect.

Reference anchor: the persisted-state pattern of `state/kv.go:45-80` /
`backend.go:64-188` applied to the retrieval index (gap category —
SURVEY.md §2.6)."""

from __future__ import annotations

import math as _math
import os as _os
import shutil as _shutil

import numpy as _np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import ProductQuantizer, Quantizer
from . import storekernel as _sk


def _model_path(store_dir: str) -> str:
    return _os.path.join(store_dir, "MODEL.json")


def _cells_root(store_dir: str) -> str:
    return _os.path.join(store_dir, "cells")


def _cells_path(store_dir: str, gen: int) -> str:
    return _sk.generation_path(_cells_root(store_dir), gen)


def _cells_census(store_dir: str, gen: int) -> frozenset:
    """Fingerprint of the generation's data files ((relpath, size)
    pairs): two searches that bracket an UNCHANGED census provably read
    the same rows. Cheap — a directory walk, no file reads."""
    root = _cells_path(store_dir, gen)
    out = []
    for dirpath, _dirs, files in _os.walk(root):
        rel = _os.path.relpath(dirpath, root)
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                try:
                    sz = _os.path.getsize(_os.path.join(dirpath, f))
                except OSError:
                    sz = -1
                out.append((_os.path.join(rel, f), sz))
    return frozenset(out)


def publish_ann_model(
    store_dir: str,
    coarse: Quantizer,
    pq: ProductQuantizer,
    cell_mass: list[int] | None = None,
    gen: int | None = None,
    fence: tuple | None = None,
) -> dict:
    """Atomically publish the frozen model manifest (and the data
    generation it governs). ``cell_mass`` freezes the train-time cell
    distribution — the drift baseline :func:`ann_refit_plan` prices
    against. Write-tmp + rename: readers see old or new, never torn.
    ``fence`` re-validates the writer lease at the rename (r12 verdict
    Next #2): a TTL-reclaimed writer is refused at this commit point."""
    _os.makedirs(store_dir, exist_ok=True)
    cur = load_ann_manifest(store_dir)
    doc = {
        "version": (int(cur["version"]) + 1) if cur else 1,
        "gen": int(gen if gen is not None else (cur["gen"] if cur else 1)),
        "coarse": [[float(x) for x in c] for c in coarse._centers],
        "books": [
            [[float(x) for x in c] for c in b._centers] for b in pq.books
        ],
        "cell_mass": [int(x) for x in cell_mass] if cell_mass else None,
    }
    _sk.atomic_write_json(_model_path(store_dir), doc, fence=fence)
    return doc


def load_ann_manifest(store_dir: str) -> dict | None:
    return _sk.read_json_if_exists(_model_path(store_dir))


def load_ann_model(
    store_dir: str,
) -> tuple[Quantizer, ProductQuantizer, dict] | None:
    doc = load_ann_manifest(store_dir)
    if doc is None:
        return None
    coarse = Quantizer(_np.asarray(doc["coarse"], dtype=_np.float64))
    pq = ProductQuantizer(
        [_np.asarray(b, dtype=_np.float64) for b in doc["books"]]
    )
    return coarse, pq, doc


def encode_ann_batch(
    df: DataFrame,
    coarse: Quantizer,
    pq: ProductQuantizer,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(_id, cell, codes) for one batch — cell assignment + residual PQ
    codes as pure expressions over the frozen literals (the
    ivfpq_topk_expr corpus side). Map-only: no shuffle."""
    from ..operators.similarity import _residual_rows

    return _residual_rows(df, coarse, id_col, vec_col, "_id").select(
        "_id", "cell", pq.codes_col("_rv").alias("codes")
    )


def append_ann_patch(
    coded: DataFrame, store_dir: str, batch_id: int, gen: int = 1
) -> None:
    """Append a coded batch to the current generation, one file per
    touched cell directory (ONE exchange on the cell key)."""
    (
        coded.withColumn("_batch_id", F.lit(int(batch_id)))
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_cells_path(store_dir, gen))
    )


def read_ann_store(spark, store_dir: str, cells: list[int] | None = None):
    """Latest-wins view of the current generation: one (_id, cell,
    codes) row per id — re-appended (edited) ids supersede; a replayed
    batch's duplicate rows are identical and collapse. ``cells``
    restricts the scan to the probed cell PARTITIONS (the layout's
    payoff — PartitionFilters, asserted in tests)."""
    doc = load_ann_manifest(store_dir)
    if doc is None:
        return None
    df = spark.read.parquet(_cells_path(store_dir, doc["gen"]))
    if cells is not None:
        df = df.filter(F.col("cell").isin([int(c) for c in cells]))
    # deterministic tiebreak (ADVICE r11 #4): if a lost checkpoint
    # restarts batch ids and a re-append ties an existing row's
    # _batch_id, the pick is still a pure function of the rows (cell,
    # then codes — arrays of orderable ints compare lexicographically),
    # never partition order
    return _sk.latest_wins(
        df,
        ["_id"],
        [F.col("cell").asc(), F.col("codes").asc()],
        ["_id", F.col("cell").cast("int").alias("cell"), "codes"],
    )


def ann_store_stream(
    vec_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 4,
    ksub: int = 16,
    train_cap: int = 100_000,
    seed: int = 42,
    available_now: bool = True,
    on_plan=None,
    refit_cutoff: float = 0.1,
    compaction_policy: bool = False,
    compaction_file_cutoff: float = 4.0,
    compaction_min_files: int = 8,
    on_compaction=None,
):
    """Start the maintenance arm: batch 0 fits the model
    deterministically from its own rows (``fit_ivfpq_det`` — or call
    :func:`publish_ann_model` first to pre-freeze one) and publishes
    the manifest; every batch encodes map-only against the FROZEN
    literals and appends to the current generation. When ``on_plan``
    is given, each post-bootstrap batch also prices
    :func:`ann_refit_plan` and passes the decision to the hook — the
    hook (or an out-of-band scheduler) decides when to actually run
    :func:`refit_ann_store` as a batch job; a micro-batch never
    re-encodes the corpus inline.

    The appender holds the store's writer lease per batch and
    ``compaction_policy=True`` folds inline under it
    (storekernel.leased_store_stream — the loop the label and sig
    streams run too); ``on_compaction`` observes each
    :func:`ann_compaction_plan` decision dict."""
    from ..operators.similarity import fit_ivfpq_det

    spark = vec_stream.sparkSession

    def run_batch(bdf: DataFrame, batch_id: int, fence: tuple) -> bool:
        bdf = bdf.select(id_col, vec_col).dropDuplicates([id_col])
        if bdf.isEmpty():
            return False
        model = load_ann_model(store_dir)
        if model is None:
            coarse, pq = fit_ivfpq_det(
                bdf, id_col, vec_col, n_cells, m, ksub, train_cap, seed
            )
            coded = encode_ann_batch(bdf, coarse, pq, id_col, vec_col)
            mass = _cell_hist(coded, len(coarse._centers))
            publish_ann_model(
                store_dir, coarse, pq, cell_mass=mass, gen=1, fence=fence
            )
        else:
            coarse, pq, doc = model
            coded = encode_ann_batch(bdf, coarse, pq, id_col, vec_col)
            if on_plan is not None:
                # histogram at the LOADED model's cell count, never the
                # stream's n_cells parameter: a pre-frozen/refit model
                # with a different cell count would otherwise IndexError
                # (more cells) or silently truncate the drift signal
                # (fewer) — ADVICE r11 #1
                plan = ann_refit_plan(
                    doc,
                    _cell_hist(coded, len(coarse._centers)),
                    cutoff=refit_cutoff,
                )
                on_plan(dict(plan, batch_id=batch_id))
        doc = load_ann_manifest(store_dir)
        # heartbeat + ownership check before the append (ADVICE r12
        # #1): a batch outliving the lease TTL renews instead of being
        # reclaimed mid-write; a reclaimed one fails-stop here
        _sk.renew_lease(*fence)
        append_ann_patch(coded, store_dir, batch_id, gen=doc["gen"])
        return True

    surface = (
        None,
        lambda: ann_compaction_plan(
            store_dir,
            file_cutoff=compaction_file_cutoff,
            min_files=compaction_min_files,
        ),
        "cells_to_fold",
        lambda fold, fence: compact_ann_store(
            spark, store_dir, cells=fold, fence=fence
        ),
    )
    return _sk.leased_store_stream(
        vec_stream, store_dir, checkpoint_dir, run_batch,
        (surface,) if compaction_policy else (), on_compaction,
        available_now,
    )


def _cell_hist(coded: DataFrame, n_cells: int) -> list[int]:
    rows = coded.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    mass = [0] * n_cells
    for r in rows:
        mass[int(r["cell"])] = int(r["n"])
    return mass


def ann_refit_plan(
    manifest: dict,
    batch_mass: list[int],
    cutoff: float = 0.1,
) -> dict:
    """PRICE the refit decision (the maintenance_plan / x149 pattern
    for the index): Jensen–Shannon divergence (base-2, the x112 law)
    between the model's frozen TRAIN-time cell distribution and the
    incoming batch's — a drifted corpus fills cells the quantizer
    never shaped, degrading probe selectivity (the x148 distortion
    complement, computable from two ≤n_cells histograms with no
    vector math). action = "refit" when divergence > cutoff, else
    "incremental". The decision is advisory to an out-of-band batch
    job (:func:`refit_ann_store`); pricing costs two bounded
    histograms, nothing else."""
    base = manifest.get("cell_mass")
    if not base or sum(base) == 0 or sum(batch_mass) == 0:
        return {
            "action": "incremental",
            "reason": "no_baseline_or_empty",
            "js_divergence": None,
            "cutoff": cutoff,
        }
    if len(base) != len(batch_mass):
        # a silent zip-truncation would understate divergence exactly
        # under the drift the plan exists to detect (ADVICE r11 #1):
        # mass in cells the baseline never had is the strongest refit
        # signal there is — mismatched histograms are a caller bug
        raise ValueError(
            f"cell histogram length mismatch: model has {len(base)} "
            f"cells, batch histogram has {len(batch_mass)} — histogram "
            "the batch at the loaded model's cell count"
        )
    p_tot, q_tot = float(sum(base)), float(sum(batch_mass))
    js = 0.0
    for pb, qb in zip(base, batch_mass):
        p, q = pb / p_tot, qb / q_tot
        mm = (p + q) / 2.0
        if p > 0:
            js += 0.5 * p * _math.log2(p / mm)
        if q > 0:
            js += 0.5 * q * _math.log2(q / mm)
    js = round(js, 9)
    return {
        "action": "refit" if js > cutoff else "incremental",
        "reason": "cell_distribution_drift" if js > cutoff else "stable",
        "js_divergence": js,
        "cutoff": cutoff,
    }


def refit_ann_store(
    spark,
    store_dir: str,
    vectors_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 4,
    ksub: int = 16,
    train_cap: int = 100_000,
    seed: int = 42,
    prune: bool = True,
    fence: tuple | None = None,
) -> int:
    """The REFIT arm as a batch job over the raw-vector lake: fit a
    fresh model deterministically from ``vectors_df``, re-encode it
    into generation N+1, and repoint the manifest LAST (atomic rename
    — the compact_label_store commit discipline; a crash before the
    repoint leaves readers on the old generation+model, fully
    consistent). Old generation pruned best-effort after the commit.
    Called without ``fence`` it takes the store's writer lease (refused
    while the maintenance stream holds it — r11 verdict Next #3); with
    ``fence`` the caller already holds it (storekernel.held_fence).
    Returns the re-encoded row count."""
    from ..operators.similarity import fit_ivfpq_det

    with _sk.held_fence(store_dir, fence, "refit") as fence:
        cur = load_ann_manifest(store_dir)
        new_gen = (int(cur["gen"]) + 1) if cur else 1
        covered = _covered_batch(spark, store_dir, cur)
        coarse, pq = fit_ivfpq_det(
            vectors_df, id_col, vec_col, n_cells, m, ksub, train_cap, seed
        )
        coded = encode_ann_batch(vectors_df, coarse, pq, id_col, vec_col)
        gen_path = _cells_path(store_dir, new_gen)
        if _os.path.exists(gen_path):  # torn attempt never repointed
            _shutil.rmtree(gen_path)
        (
            # stamp at the COVERED max batch id (ADVICE r11 #4, the
            # labelstore rule): a lost checkpoint restarting batch ids
            # at 0 must not tie the folded rows in the latest-wins window
            coded.withColumn("_batch_id", F.lit(int(covered)))
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(gen_path)
        )
        n = spark.read.parquet(gen_path).count()
        mass = _cell_hist(coded, len(coarse._centers))
        # heartbeat + ownership check after the corpus re-encode — the
        # long step the renewal exists for (ADVICE r12 #1); a reclaimed
        # refit fails-stop here, its torn generation invisible garbage
        _sk.renew_lease(*fence)
        publish_ann_model(  # the commit point — model + gen repoint LAST
            store_dir, coarse, pq, cell_mass=mass, gen=new_gen, fence=fence
        )
        if prune:
            _sk.prune_generations(_cells_root(store_dir), new_gen - 1)
        return n


def _covered_batch(spark, store_dir: str, doc: dict | None) -> int:
    """Max ``_batch_id`` in the current generation (0 when the store is
    empty) — the stamp a fold writes so its rows outrank every batch
    they supersede, and ONLY those (ADVICE r11 #4)."""
    if doc is None:
        return 0
    path = _cells_path(store_dir, doc["gen"])
    if not _os.path.isdir(path):
        return 0
    m = (
        spark.read.parquet(path)
        .agg(F.max("_batch_id").alias("m"))
        .collect()[0]["m"]
    )
    return int(m) if m is not None else 0


def adc_search_store(
    spark,
    store_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Serve approximate top-k FROM THE STORE: probe routing and
    residual distance tables from the manifest's frozen literals
    (ivfpq_topk_expr's query side), candidates from the probed cell
    PARTITIONS only (the probed-cell list is ≤ |queries|·n_probe ints,
    collected bounded, pushed as a partition filter — the scan lists
    exactly the probed directories), ADC scoring over stored codes.
    Raw corpus vectors are never read — the store IS the index, which
    is the point of persisting it."""
    from ..operators.similarity import _adc_scored, _probe_tables, _topk

    model = load_ann_model(store_dir)
    if model is None:
        raise FileNotFoundError(f"no ANN model manifest in {store_dir}")
    coarse, pq, _doc = model

    probe = _probe_tables(
        queries, coarse, pq, n_probe, id_col, vec_col
    ).localCheckpoint()  # bounded (|q|·n_probe rows); fixes the cell list
    cells = sorted(
        {int(r["cell"]) for r in probe.select("cell").distinct().collect()}
    )
    store = read_ann_store(spark, store_dir, cells=cells)
    scored = _adc_scored(store.withColumnRenamed("_id", "vec_id"), probe, "cell")
    return _topk(scored, "adist", k, ascending=True)


# ---------------------------------------------------------------------------
# Streaming SEARCH arm (r11 verdict Next #4): the store's write side
# already streams; this serves top-k from a QUERY stream against the
# frozen manifest — the x57/x93 frozen-stats pattern (every batch is a
# pure function of the published model + committed cells, so stream
# results ≡ the batch search on the same queries, which is the parity
# the tests and the x167 oracle entry pin).


def ann_search_stream(
    query_stream: DataFrame,
    store_dir: str,
    output_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    available_now: bool = True,
    on_batch=None,
    recall_corpus: DataFrame | None = None,
    recall_sample: int = 8,
    recall_mode: str = "exact",
):
    """Serve ANN top-k from a stream of query vectors (returns the
    StreamingQuery): each micro-batch runs :func:`adc_search_store`
    against the frozen manifest — per-batch probe lists bounded by
    |batch|·n_probe, candidates from the probed cell partitions only —
    and APPENDS its results (stamped ``_batch_id``) to
    ``output_path``. Exactly-once read-back: a crash-replayed batch
    re-appends identical rows and :func:`read_search_results`'s
    latest-wins window collapses them; a query re-submitted in a later
    batch supersedes its earlier answer (the store-edit rule applied
    to results).

    The LIVE RECALL MONITOR (the x79 audit in-stream) ground-truths a
    deterministic md5-ordered sample of ≤ ``recall_sample`` queries per
    batch and audits the batch's own ADC answers against it
    (operators.similarity.ann_recall_audit). Two modes (r12 verdict
    Next #5 — "knowing the index is still good" must not cost a corpus
    scan per batch at 100 TB):

    * ``recall_mode="exact"`` (requires ``recall_corpus``): truth by
      brute force against the raw-vector lake — the full number
      (routing loss + quantization loss), at |sample| × |corpus| × dim
      per batch. The audit-job price, not a serving-loop price.
    * ``recall_mode="full_probe_adc"`` (no raw vectors needed): truth
      = the store's OWN ADC search with every cell probed — isolates
      the n_probe routing loss, which is the knob the serving loop
      can actually turn, and reads only the compressed codes (~2
      bytes/vector vs dim×8 raw — ~100-1000× fewer bytes, no lake
      scan). Blind to quantization error by construction (both sides
      share the codebooks); SCALE.md r13 measures the estimate gap.

    Leave ``recall_corpus=None`` with mode "exact" to serve blind.
    ``on_batch`` observes ``{"batch_id", "n_queries", "recall_at_k"?,
    "recall_mode"?}``.

    A search stream only READS the store, so it takes no writer lease —
    it can run beside the maintenance stream; it sees each generation
    atomically via the manifest."""
    if recall_mode not in ("exact", "full_probe_adc"):
        raise ValueError(
            f"recall_mode must be 'exact' or 'full_probe_adc', "
            f"got {recall_mode!r}"
        )
    from .sinks import foreach_sink

    spark = query_stream.sparkSession

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf = bdf.select(id_col, vec_col).dropDuplicates([id_col])
        if bdf.isEmpty():
            return
        bdf = bdf.localCheckpoint()  # fix the batch for search + audit
        doc0 = load_ann_manifest(store_dir)  # model the batch serves on
        # data snapshot the serving search reads (ADVICE r13): patch
        # appends don't bump the manifest version, so the version check
        # alone misses a maintenance stream appending BETWEEN the
        # serving search and the truth search — rows the truth side
        # sees but serving didn't would deflate recall_at_k without
        # tripping the skip. The file census detects any data change.
        census0 = (
            _cells_census(store_dir, doc0["gen"])
            if doc0 is not None
            else frozenset()
        )
        res = adc_search_store(
            spark, store_dir, bdf, id_col=id_col, vec_col=vec_col,
            k=k, n_probe=n_probe,
        ).localCheckpoint()
        (
            res.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(output_path)
        )
        if on_batch is not None:
            info = {"batch_id": int(batch_id), "n_queries": bdf.count()}
            monitor = recall_corpus is not None or (
                recall_mode == "full_probe_adc"
            )
            if monitor:
                from ..operators.similarity import (
                    ann_recall_audit,
                    brute_force_topk,
                )

                samp = (
                    bdf.orderBy(
                        F.md5(F.col(id_col).cast("string")),
                        F.col(id_col).cast("string"),
                    )
                    .limit(int(recall_sample))
                    .localCheckpoint()
                )
                skipped = None
                if recall_mode == "full_probe_adc":
                    # pseudo-truth from the store itself: ADC with every
                    # cell probed — no raw-vector read, isolates the
                    # n_probe routing loss (the serving loop's knob).
                    # Both sides must score against the SAME frozen
                    # model: a refit/compaction publishing between the
                    # serving search above and this truth search would
                    # make the recall number garbage (different
                    # codebooks/generations) — detect via the manifest
                    # version and skip the batch's estimate instead.
                    doc = load_ann_manifest(store_dir)
                    truth = adc_search_store(
                        spark, store_dir, samp, id_col=id_col,
                        vec_col=vec_col, k=k,
                        n_probe=len(doc["coarse"]),
                    ).localCheckpoint()  # fix truth under doc's model
                    doc2 = load_ann_manifest(store_dir)
                    if (
                        doc2["version"] != doc["version"]
                        or doc0 is None
                        or doc["version"] != doc0["version"]
                    ):
                        skipped = "model_changed_mid_batch"
                    elif (
                        _cells_census(store_dir, doc["gen"]) != census0
                    ):
                        # same model, different data files: a patch
                        # landed between the two searches — the truth
                        # side saw rows serving didn't (or vice versa
                        # after a prune); the estimate would be garbage
                        skipped = "store_data_changed_mid_batch"
                else:
                    truth = brute_force_topk(
                        recall_corpus, samp, id_col, vec_col, k
                    )
                if skipped is None:
                    approx = res.join(
                        samp.select(F.col(id_col).alias("query_id")),
                        "query_id",
                        "left_semi",
                    )
                    row = (
                        ann_recall_audit(truth, approx, k)
                        .agg(F.avg("recall").alias("r"))
                        .collect()[0]
                    )
                    info["recall_at_k"] = (
                        round(float(row["r"]), 6)
                        if row["r"] is not None
                        else 0.0
                    )
                else:
                    info["recall_skipped"] = skipped
                info["recall_mode"] = recall_mode
            on_batch(info)

    return foreach_sink(
        query_stream, process_batch, checkpoint_dir,
        trigger_available_now=available_now,
    )


def read_search_results(spark, output_path: str) -> DataFrame | None:
    """Latest-wins view of a search stream's results: one row per
    (query_id, rank) from the highest batch — a replayed batch's
    duplicate rows collapse, a re-submitted query's newer answer
    supersedes. None before the first batch lands."""
    df = _sk.read_parquet_if_exists(spark, output_path)
    if df is None:
        return None
    return _sk.latest_wins(
        df,
        ["query_id", "rank"],
        [F.col("vec_id").asc(), F.col("adist").asc()],
        ["query_id", "rank", "vec_id", "adist"],
    )


# ---------------------------------------------------------------------------
# Store compaction (the labelstore round-11 discipline at index grain):
# sustained per-batch appends fragment every cell directory — the
# small-files problem again, with the probe paying it (every live file
# in a probed cell is a LIST+GET at 100 TB). compaction keeps the MODEL
# (no refit — that is refit_ann_store's job) and folds the data
# generation to one latest-wins row per id.


def ann_compaction_plan(
    store_dir: str,
    file_cutoff: float = 4.0,
    min_files: int = 8,
) -> dict:
    """Decide whether folding the append history pays, from per-CELL
    live-file counts of the current generation — a catalog listing,
    never a data scan (the labelstore compaction_plan at index grain).
    read_amp ≈ mean live files per non-empty cell directory = the
    extra file opens every probe of that cell pays. Compact when
    read_amp ≥ ``file_cutoff`` AND at least ``min_files`` live files
    exist. Returns the decision dict the stream's ``on_compaction``
    hook observes."""
    doc = load_ann_manifest(store_dir)
    if doc is None:
        return {"action": "skip", "reason": "no_store", "read_amp": 0.0}
    total, _bytes, per_cell = _sk.walk_parquet_files(
        _cells_path(store_dir, doc["gen"])
    )
    # the shared read-amp rule (storekernel.read_amp_decision); the
    # selective fold list is the cells whose OWN file count crossed
    # the cutoff — cold cells are hard-link-carried instead of
    # rewritten (r11 verdict Next #1)
    read_amp, action, to_fold, fold_scope = _sk.read_amp_decision(
        per_cell, total, file_cutoff, min_files, "cell="
    )
    return {
        "action": action,
        "read_amp": read_amp,
        "file_cutoff": file_cutoff,
        "live_files": total,
        "n_live_cells": len(per_cell),
        "max_files_one_cell": max(per_cell.values()) if per_cell else 0,
        "cells_to_fold": to_fold,
        "fold_scope": fold_scope,
    }


def compact_ann_store(
    spark,
    store_dir: str,
    prune: bool = True,
    cells: list[int] | None = None,
    fence: tuple | None = None,
) -> int:
    """Fold the current generation to ONE latest-wins row per id in a
    NEW generation — same frozen model, no re-encode (refit is the
    separate, priced, more expensive arm) — with the manifest
    repointed LAST (atomic rename; a torn compaction leaves readers on
    the old generation).

    ``cells`` makes the fold SELECTIVE (r11 verdict Next #1): only the
    listed (hot, fragmented) cells are rewritten; every other cell's
    files are CARRIED into the new generation by hard link (same inode,
    zero bytes — storekernel.carry_partitions). Unlike label shards, a
    vector's cell is DATA-dependent (an edit can move it), so the fold
    input is the GLOBAL latest-wins view filtered to the hot cells: a
    stale hot-cell row whose winner moved to a cold cell is dropped
    (its winner rides along in the carried file), and a hot-cell winner
    is stamped at the covered batch so any stale cold-cell copy of it
    keeps losing the read window. One slim full-gen scan prices that
    window; the WRITE — the expensive half at 100 TB — touches hot
    cells only.

    Single-writer discipline ENFORCED via the store's writer lease
    (r11 verdict Next #3): called without ``fence`` the fold takes it
    and is refused while the maintenance stream holds it; with
    ``fence`` the caller already holds it (storekernel.held_fence).
    Returns the folded row count (hot cells only when selective)."""
    with _sk.held_fence(store_dir, fence, "compactor") as fence:
        doc = load_ann_manifest(store_dir)
        if doc is None:
            return 0
        covered = _covered_batch(spark, store_dir, doc)
        latest = read_ann_store(spark, store_dir)  # GLOBAL latest-wins
        sel = sorted({int(c) for c in cells}) if cells is not None else None
        if sel is not None:
            latest = latest.filter(F.col("cell").isin(sel))
        new_gen = int(doc["gen"]) + 1
        gen_path = _cells_path(store_dir, new_gen)
        if _os.path.exists(gen_path):  # torn attempt never repointed
            _shutil.rmtree(gen_path)
        (
            # stamped at the covered max batch id, not 0 (ADVICE r11
            # #4): a checkpoint-loss restart re-appending at batch 0
            # must LOSE to the fold, and the labelstore stamps the same
            latest.withColumn("_batch_id", F.lit(int(covered)))
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(gen_path)
        )
        if sel is not None:
            old_root = _cells_path(store_dir, doc["gen"])
            hot = {f"cell={c}" for c in sel}
            cold = [
                d
                for d in _os.listdir(old_root)
                if d.startswith("cell=") and d not in hot
            ]
            _sk.carry_partitions(old_root, gen_path, cold)
            n_df = spark.read.parquet(gen_path).filter(
                F.col("cell").isin(sel)
            )
        else:
            n_df = spark.read.parquet(gen_path)
        n = n_df.count()
        coarse = Quantizer(_np.asarray(doc["coarse"], dtype=_np.float64))
        pq = ProductQuantizer(
            [_np.asarray(b, dtype=_np.float64) for b in doc["books"]]
        )
        # heartbeat + ownership check after the fold write (ADVICE r12
        # #1); a reclaimed compactor fails-stop before the repoint
        _sk.renew_lease(*fence)
        publish_ann_model(  # same model, new data generation — LAST
            store_dir, coarse, pq, cell_mass=doc.get("cell_mass"),
            gen=new_gen, fence=fence,
        )
        if prune:
            _sk.prune_generations(_cells_root(store_dir), new_gen - 1)
        return n
