"""Round-10 tests: the three r9 ADVICE fixes (spectrum decimal-overflow
guard, generic/single-label silhouette, NULL-score KS denominator), the
session-cached x20 curation pass, and the round's new production arms.
"""

from __future__ import annotations

import math

import pytest

# Round-close suite (label-store lifecycles and crash-replay sweeps); excluded from the bounded default
# run the driver's pytest window can hold (r14 verdict Next #3b) -
# scripts/close_round.py forces it back on with `-o addopts=`.
pytestmark = pytest.mark.slow


from pyspark.sql import functions as F


# --- ADVICE #1: embedding_spectrum_audit overflow guard ---------------------


def test_spectrum_overflow_raises_clear_error(spark):
    """DECIMAL(38,30) leaves 8 integer digits; a sum past 1e8 yields a
    NULL decimal under non-ANSI mode, which used to surface as
    float(None) TypeError far from the cause. Now: ValueError at the
    accumulation site with a remediation hint."""
    from go_fish_spark.operators.profile import embedding_spectrum_audit

    # 50 rows of [1e5, 1e5]: sum(x_i * x_j) = 50 * 1e10 >> 1e8 overflow
    df = spark.createDataFrame(
        [(i, [1.0e5, 1.0e5]) for i in range(50)],
        "doc_id long, emb array<double>",
    )
    with pytest.raises(ValueError, match="overflow"):
        embedding_spectrum_audit(df, "emb", 2, id_col="doc_id")


def test_spectrum_normalized_vectors_still_fine(spark):
    from go_fish_spark.operators.profile import embedding_spectrum_audit

    df = spark.createDataFrame(
        [(i, [math.cos(i * 0.1), math.sin(i * 0.1)]) for i in range(40)],
        "doc_id long, emb array<double>",
    )
    out = embedding_spectrum_audit(df, "emb", 2, id_col="doc_id")
    assert out["n"] == 40 and out["total_var"] > 0


# --- ADVICE #2: centroid_silhouette label genericity -------------------------


def test_silhouette_string_labels(spark):
    """label_col is generic per the signature: string labels (with a
    quote character, exercising SQL escaping) must work, not crash in
    repr(int(label))."""
    from go_fish_spark.operators.similarity import centroid_silhouette

    rows = (
        [(i, "alpha's", [0.0, float(i % 3) * 0.01]) for i in range(10)]
        + [(100 + i, "beta", [5.0, float(i % 3) * 0.01]) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, lab string, emb array<double>"
    )
    out = centroid_silhouette(df, "doc_id", "lab", "emb", 2).collect()
    assert [r.lab for r in out] == ["alpha's", "beta"]
    # well-separated clusters -> silhouette near 1
    assert all(r.mean_silhouette > 0.9 for r in out)


def test_silhouette_single_label_is_null_not_nan(spark):
    """With one cluster there is no nearest-OTHER centroid: b and s are
    undefined -> published as NULL, never Inf/Inf = NaN."""
    from go_fish_spark.operators.similarity import centroid_silhouette

    df = spark.createDataFrame(
        [(i, 7, [float(i % 5), 1.0]) for i in range(12)],
        "doc_id long, lab long, emb array<double>",
    )
    rows = centroid_silhouette(df, "doc_id", "lab", "emb", 2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n == 12 and r.mean_a is not None
    assert r.mean_b is None and r.mean_silhouette is None


# --- ADVICE #3: ks_drift NULL scores -----------------------------------------


def test_ks_drift_null_scores_excluded_from_denominator(spark):
    """NULL scores must not count in a group's n: with them included
    the group ECDF never reaches 1 and the sup-gap is distorted. The
    result over (scores + NULLs) must equal the result over the same
    frame with the NULL rows dropped."""
    from go_fish_spark.operators.profile import ks_drift

    base = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (3, 4, 5, 6)
    ]
    with_nulls = base + [("a", None), ("a", None), ("b", None)]
    d_clean = spark.createDataFrame(base, "g string, s double")
    d_null = spark.createDataFrame(with_nulls, "g string, s double")
    clean = {r.g: (r.n, r.ks) for r in ks_drift(d_clean, "g", "s").collect()}
    nulled = {r.g: (r.n, r.ks) for r in ks_drift(d_null, "g", "s").collect()}
    assert clean == nulled
    assert clean["a"][0] == 4  # n counts scored rows only


# --- x20 session-cached curation pass ----------------------------------------


def test_shared_curation_pass_cached_and_released(spark):
    """The flagship's (survivors, audit) pass fits once per (session,
    corpus fingerprint): a second call returns the SAME objects; an
    explicit release clears the cache so the next call refits."""
    from tests.conftest import SF_SMALL

    from go_fish_spark.queries.extensions._shared import (
        _CURATION_PASSES,
        release_session_caches,
        shared_curation_pass,
    )

    release_session_caches()
    surv1, audit1 = shared_curation_pass(spark, SF_SMALL)
    surv2, audit2 = shared_curation_pass(spark, SF_SMALL)
    assert surv1 is surv2 and audit1 is audit2
    assert len(_CURATION_PASSES) == 1
    release_session_caches()
    assert len(_CURATION_PASSES) == 0
    surv3, _ = shared_curation_pass(spark, SF_SMALL)
    assert surv3 is not surv1
    release_session_caches()


def test_x20_output_unchanged_by_caching(spark):
    """Caching is transparent: two x20 runs (cold fit, then cached)
    produce identical rows."""
    from tests.conftest import SF_SMALL

    from go_fish_spark.queries import REGISTRY
    from go_fish_spark.queries.extensions._shared import (
        release_session_caches,
    )

    release_session_caches()
    fn = REGISTRY["x20_curation_pipeline"].fn
    r1 = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    r2 = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    assert r1 == r2 and len(r1) > 0
    release_session_caches()


# --- durable sharded label store (r9 verdict Next #2) -------------------------


_LS_SCHEMA = "doc_id long, text string"
_LS_BATCHES = [
    [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2, "alpha beta gamma delta epsilon zeta eta theta kappa"),
        (3, "utterly different content about streaming engines here "
            "today friend"),
    ],
    [
        (4, "utterly different content about streaming engines here "
            "today friend"),
        (5, "a lone document with nothing in common with others"),
    ],
    # 6 bridges cluster{1,2} and cluster{3,4}
    [
        (6,
         "alpha beta gamma delta epsilon zeta eta theta iota "
         "utterly different content about streaming engines here "
         "today friend"),
    ],
]


def _full_labels(spark, rows):
    from go_fish_spark.operators.dedup import minhash_lsh_pairs
    from go_fish_spark.operators.graph import connected_components

    df = spark.createDataFrame(rows, _LS_SCHEMA)
    return sorted(
        map(
            tuple,
            connected_components(
                df.select("doc_id"),
                minhash_lsh_pairs(
                    df, "doc_id", "text", bands=32, threshold=0.3,
                    portable=True,
                ),
                id_col="doc_id",
            ).collect(),
        )
    )


def _ls_stream(spark, src, store, cp):
    from go_fish_spark.streaming.labelstore import (
        label_store_maintenance_stream,
    )

    return label_store_maintenance_stream(
        spark.readStream.schema(_LS_SCHEMA).parquet(src),
        store, cp, bands=32, threshold=0.3, portable=True, n_shards=8,
    )


def test_label_store_crash_between_sigs_and_labels_replays(
    spark, tmp_path, monkeypatch
):
    """The done-condition restart e2e: batch 0 bootstraps; batch 1
    CRASHES after its signatures were appended but before the label
    patch landed (the worst interleaving); a restarted query on the
    same checkpoint replays it; batch 2 then bridges two clusters.
    After every successful drain the store equals the full CC recompute
    over everything ingested so far — the restart resumed from the
    persisted table, nothing refit."""
    import os

    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    cp = str(tmp_path / "cp")
    os.makedirs(src)

    seen = list(_LS_BATCHES[0])
    spark.createDataFrame(_LS_BATCHES[0], _LS_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    _ls_stream(spark, src, store, cp).awaitTermination(120)
    got = sorted(
        map(tuple, ls.read_label_store(
            spark, os.path.join(store, "labels")).collect())
    )
    assert got == _full_labels(spark, seen)

    # batch 1: inject a crash AFTER the sig append, BEFORE the label
    # append (append_label_patch raises once)
    spark.createDataFrame(_LS_BATCHES[1], _LS_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    seen.extend(_LS_BATCHES[1])
    real_append = ls.append_label_patch
    state = {"raised": False}

    def crashing_append(*a, **kw):
        if not state["raised"]:
            state["raised"] = True
            raise RuntimeError("injected crash between (1) and (2)")
        return real_append(*a, **kw)

    monkeypatch.setattr(ls, "append_label_patch", crashing_append)
    q = _ls_stream(spark, src, store, cp)
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the injected crash kills the query
    assert state["raised"]
    # previous committed state is intact (batch 1 not visible)
    got = sorted(
        map(tuple, ls.read_label_store(
            spark, os.path.join(store, "labels")).collect())
    )
    assert got == _full_labels(spark, _LS_BATCHES[0])

    # restart on the SAME checkpoint: batch 1 replays exactly once
    _ls_stream(spark, src, store, cp).awaitTermination(120)
    got = sorted(
        map(tuple, ls.read_label_store(
            spark, os.path.join(store, "labels")).collect())
    )
    assert got == _full_labels(spark, seen)

    # batch 2 bridges two clusters -> changed-emit patch relabels them
    spark.createDataFrame(_LS_BATCHES[2], _LS_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    seen.extend(_LS_BATCHES[2])
    _ls_stream(spark, src, store, cp).awaitTermination(120)
    got = sorted(
        map(tuple, ls.read_label_store(
            spark, os.path.join(store, "labels")).collect())
    )
    assert got == _full_labels(spark, seen)

    # idle restart: a new query on the same checkpoint is a no-op
    _ls_stream(spark, src, store, cp).awaitTermination(120)
    got2 = sorted(
        map(tuple, ls.read_label_store(
            spark, os.path.join(store, "labels")).collect())
    )
    assert got2 == got

    # the upsert discipline: the store holds APPENDED patches (id 1's
    # relabel from batch 2 coexists with its bootstrap row), and
    # compaction folds them to one latest-wins row per id — served by
    # the SAME reader of record via the generation manifest (r11)
    labels_path = os.path.join(store, "labels")
    raw = spark.read.parquet(labels_path)
    assert raw.count() > len(seen)  # history retained -> true upserts
    n = ls.compact_label_store(spark, labels_path, n_shards=8)
    assert n == len(seen)
    man = sk.read_store_manifest(labels_path)
    assert man is not None and man["gen"] == 1
    compacted = sorted(
        map(tuple, ls.read_label_store(spark, labels_path).collect())
    )
    assert compacted == got


def test_label_store_shard_lookup_prunes_partitions(spark, tmp_path):
    """The sharded layout pays off at read time: a single-id lookup
    carries a PartitionFilters entry on the shard column (the scan
    lists exactly one shard directory)."""
    import os

    from go_fish_spark.streaming import labelstore as ls

    store = str(tmp_path / "labels")
    patch = spark.createDataFrame(
        [(i, i % 3) for i in range(40)], "id long, component long"
    )
    ls.append_label_patch(patch, store, batch_id=0, n_shards=8)
    out = ls.read_label_shard(spark, store, 17, n_shards=8)
    rows = out.collect()
    assert [(r.id, r.component) for r in rows] == [(17, 2)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan


# --- run_blocking: the priced contract enforced (r9 verdict Next #3) ---------


def _hot_corpus(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("common boilerplate header tokens everywhere"),
            F.col("id").cast("string"),
            (F.col("id") * 7 % 997).cast("string"),
            (F.col("id") * 13 % 991).cast("string"),
            (F.col("id") * 17 % 983).cast("string"),
        ).alias("text"),
    )


def test_run_blocking_executes_chosen_discipline(spark):
    """A 'proceed' plan runs its discipline; the guard passes when the
    corpus is the one that was priced; a non-proceed plan refuses."""
    import pytest as _pytest

    from go_fish_spark.operators.dedup import (
        choose_blocking,
        release_caches,
        run_blocking,
    )

    hot = _hot_corpus(spark)
    plan = choose_blocking(
        hot, "doc_id", "text", min_recall=0.6, pair_budget=30_000,
        threshold=0.5,
    )
    assert plan["action"] == "proceed" and plan["chosen"] == "minhash_bands"
    out = run_blocking(hot, "doc_id", "text", plan)
    assert "_realized" not in out.columns
    out.count()  # guard evaluates clean on the priced corpus

    over = choose_blocking(
        hot, "doc_id", "text", min_recall=0.9, pair_budget=2_000
    )
    with _pytest.raises(ValueError, match="not runnable"):
        run_blocking(hot, "doc_id", "text", over)
    release_caches()


def test_run_blocking_guard_trips_on_mutated_corpus(spark):
    """The TOCTOU enforcement: price on corpus A, execute on corpus B
    (100 added copies of one hot doc) -> the in-plan raise_error guard
    aborts the job with the realized count in the message."""
    import pytest as _pytest

    from go_fish_spark.operators.dedup import (
        choose_blocking,
        release_caches,
        run_blocking,
    )

    hot = _hot_corpus(spark)
    plan = choose_blocking(
        hot, "doc_id", "text", min_recall=0.6, pair_budget=30_000,
        threshold=0.5,
    )
    assert plan["action"] == "proceed"
    clones = spark.range(100).select(
        (F.col("id") + 10_000).alias("doc_id"),
        F.lit(
            "common boilerplate header tokens everywhere 1 7 13 17"
        ).alias("text"),
    )
    mutated = hot.unionByName(clones)
    with _pytest.raises(Exception, match="run_blocking: realized"):
        run_blocking(mutated, "doc_id", "text", plan).count()
    release_caches()


def test_choose_blocking_measures_own_recall(spark):
    """r9 verdict Next #4 done-condition: on a salted-clique corpus
    whose histogram disciplines bust the budget, measure=True lets the
    planner run its OWN sampled instrument and flip to
    sorted-neighborhood WITHOUT a hand-passed recall dict."""
    from go_fish_spark.operators.dedup import (
        choose_blocking,
        release_caches,
    )

    # 80 cliques of 5: same 20-word base per clique, per-doc salt token
    # APPENDED (prefix key unchanged -> SNM adjacency intact)
    base_words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"w{j}c"), (F.col("clique") * (j + 7) % 997).cast(
                    "string"
                )
            )
            for j in range(20)
        ],
    )
    corpus = (
        spark.range(400)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 80).alias("clique"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", base_words,
                F.concat(F.lit("salt"), F.col("doc_id").cast("string")),
            ).alias("text"),
        )
    )
    # without the instrument: nothing both eligible and within budget
    p0 = choose_blocking(
        corpus, "doc_id", "text", min_recall=0.85, pair_budget=4_000,
        threshold=0.5,
    )
    assert p0["action"] in ("no_discipline", "over_budget")
    assert p0["disciplines"]["exact_index"]["cost"] > 4_000
    # with it: one sampled job measures SNM recall and the plan proceeds
    p = choose_blocking(
        corpus, "doc_id", "text", min_recall=0.85, pair_budget=4_000,
        threshold=0.5, measure=True,
    )
    assert p["action"] == "proceed", p
    assert p["chosen"] == "sorted_neighborhood"
    assert p["instrument_recall"]["sorted_neighborhood"] >= 0.85
    assert (
        p["disciplines"]["sorted_neighborhood"]["recall_source"]
        == "instrument"
    )
    release_caches()


def test_cli_choose_blocking_run_flag(tmp_path, spark):
    """--run executes the chosen discipline under the enforced budget
    and prints a second JSON line with the verified pair count."""
    import json
    import os
    import subprocess
    import sys

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "other words entirely distinct here today")],
        "doc_id long, text string",
    )
    corpus = str(tmp_path / "corpus.parquet")
    df.write.mode("overwrite").parquet(corpus)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "choose-blocking",
         corpus, "--min-recall", "1.0", "--pair-budget", "1000",
         "--master", "local[2]", "--run"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln]
    ran = json.loads(lines[-1])
    assert ran == {"ran": "exact_index", "pairs": 1}  # the (1,2) dup


# --- maintenance_plan: incremental-vs-full policy (r9 verdict Next #5) -------


def test_maintenance_plan_decisions(spark):
    """The three regimes: append-only bounded delta -> incremental;
    edited ids -> full (correctness gate, not cost); a bridge-storm
    delta touching most of history -> full (touched growth)."""
    from go_fish_spark.operators.audit import maintenance_plan

    old = spark.createDataFrame(
        [(i, i - i % 10) for i in range(1000)], "id long, component long"
    )  # 100 components of 10

    # (a) append-only, touching 2 components
    delta = spark.createDataFrame([(5000,), (5001,)], "id long")
    dpairs = spark.createDataFrame(
        [(3, 5000), (17, 5001)], "id_a long, id_b long"
    )
    p = maintenance_plan(old, delta, dpairs)
    assert p["action"] == "incremental" and p["reason"] == "bounded_touch"
    assert p["touched_components"] == 2 and p["touched_members"] == 20
    assert p["incremental_frac"] < 0.05

    # (b) an edit: delta id 17 already labeled -> full, regardless
    delta_e = spark.createDataFrame([(17,), (5002,)], "id long")
    p = maintenance_plan(old, delta_e, dpairs)
    assert p["action"] == "full" and p["reason"] == "edited_ids"
    assert p["n_edited"] == 1

    # (c) bridge storm: one delta doc pairs into 90 of 100 components
    storm = spark.createDataFrame(
        [(i * 10, 6000) for i in range(90)], "id_a long, id_b long"
    )
    p = maintenance_plan(
        old, spark.createDataFrame([(6000,)], "id long"), storm
    )
    assert p["action"] == "full" and p["reason"] == "touched_growth"
    assert p["touched_members"] == 900
    assert p["incremental_frac"] > 0.5


# --- round-10 coverage ops: golden-value semantics ----------------------------


def test_roc_points_goldens(spark):
    """Perfectly separating score: at the lowest positive threshold
    TPR=1 with FPR=0; at the lowest threshold overall both are 1."""
    from go_fish_spark.operators.profile import roc_points

    df = spark.createDataFrame(
        [(float(i), i >= 5) for i in range(10)], "s double, y boolean"
    )
    pts = {r.thr: (r.tp, r.fp, r.tpr, r.fpr)
           for r in roc_points(df, "s", "y").collect()}
    assert pts[5.0] == (5, 0, 1.0, 0.0)
    assert pts[0.0] == (5, 5, 1.0, 1.0)
    assert pts[9.0] == (1, 0, 0.2, 0.0)


def test_winsorized_mean_clamps_outlier(spark):
    """A single 1e9 outlier moves the plain mean by orders of magnitude
    but the winsorized mean stays at the bulk's scale; uniform data is
    untouched (lo/hi at the extremes clamp nothing)."""
    from go_fish_spark.operators.sampling import winsorized_mean

    rows = [("a", float(v)) for v in range(1, 100)] + [("a", 1e9)]
    df = spark.createDataFrame(rows, "source string, v double")
    r = winsorized_mean(df, "source", "v", p=0.05).collect()[0]
    assert r.n == 100 and r.wmean < 200  # plain mean would be ~1e7
    assert r.lo > 1.0 and r.hi < 1e9

    import pytest as _pytest
    with _pytest.raises(ValueError):
        winsorized_mean(df, "source", "v", p=0.6)


def test_component_cohesion_clique_vs_chain(spark):
    """A 3-clique (3 edges) has density 1.0; a 4-chain (3 edges of 6
    possible) has density 0.5; singletons are absent."""
    from go_fish_spark.operators.audit import component_cohesion

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (13, 10),
         (99, 99)],
        "id long, component long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long",
    )
    got = {
        r.component: (r.n_members, r.n_edges, r.density)
        for r in component_cohesion(comps, pairs).collect()
    }
    assert got == {1: (3, 3, 1.0), 10: (4, 3, 0.5)}


def test_ivf_distortion_zero_on_centroids(spark):
    """Vectors sitting exactly on a centroid have zero distortion;
    displaced vectors report the exact squared offset."""
    import numpy as np

    from go_fish_spark.operators.similarity import ivf_cell_distortion

    centers = np.array([[0.0, 0.0], [10.0, 0.0]])
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [10.0, 3.0])],
        "vec_id long, v array<double>",
    )
    got = {
        r.cell: (r.n, r.mean_sq_dist)
        for r in ivf_cell_distortion(df, "v", centers).collect()
    }
    assert got == {0: (2, 0.0), 1: (1, 9.0)}


def test_cli_label_store(tmp_path, spark):
    """label-store read / lookup / compact through the CLI."""
    import json
    import os
    import subprocess
    import sys

    from go_fish_spark.streaming import labelstore as ls

    store = str(tmp_path / "labels")
    patch = spark.createDataFrame(
        [(i, i % 4) for i in range(20)], "id long, component long"
    )
    ls.append_label_patch(patch, store, batch_id=0, n_shards=8)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(*argv):
        return subprocess.run(
            [sys.executable, "-m", "go_fish_spark.cli", "label-store",
             store, *argv, "--n-shards", "8", "--master", "local[2]"],
            capture_output=True, text=True, timeout=300, cwd=repo,
        )

    p = run("read")
    assert p.returncode == 0, p.stderr[-1500:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["rows"] == 20 and out["head"][0] == {"id": 0, "component": 0}

    p = run("lookup", "--id", "7")
    assert p.returncode == 0
    assert json.loads(p.stdout.strip().splitlines()[-1]) == {
        "id": 7, "component": 3,
    }

    p = run("compact")
    assert p.returncode == 0
    assert json.loads(p.stdout.strip().splitlines()[-1]) == {
        "compacted_rows": 20,
    }


def test_durable_labels_demo_runs(spark):
    """examples/durable_labels_demo.py must keep working as the
    composed round-10 loop (changed-emit upserts -> restart-resume ->
    labels ≡ full recompute -> compaction)."""
    import importlib.util
    import os
    import shutil
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "durable_labels_demo",
        os.path.join(repo, "examples/durable_labels_demo.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    work = tempfile.mkdtemp(prefix="durable_demo_test_")
    try:
        from tests.conftest import SF_SMALL

        n_clusters = mod.run_demo(spark, SF_SMALL, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert n_clusters > 0


def test_frame_sample_semantics(spark):
    """Byte-window frames: coverage rule (x24 at byte grain), short
    final frame, every-N selection, content correctness, validation."""
    import hashlib

    import pytest as _pytest

    from go_fish_spark.operators.multimodal import frame_sample, ingest_binary

    payload = "abcdefghij" * 3  # 30 bytes
    df = spark.createDataFrame([(1, payload), (2, "xy")], "doc_id long, text string")
    b = ingest_binary(df, "doc_id", "text")
    rows = frame_sample(b, win=8, stride=6, every=2).collect()
    got = {(r.doc_id, r.frame_id): (r.offset, r.n_bytes, r.frame_md5) for r in rows}
    # doc 1: 30 bytes -> n_frames = ceil(22/6)+1 = 5 (ids 0..4); every=2 -> 0,2,4
    assert sorted(f for d, f in got if d == 1) == [0, 2, 4]
    by = payload.encode()
    for f in (0, 2, 4):
        off, n, h = got[(1, f)]
        assert off == f * 6
        frame = by[off:off + 8]
        assert n == len(frame)
        assert h == hashlib.md5(frame).hexdigest()
    assert got[(1, 4)][1] == 6  # short final frame (30 - 24)
    # doc 2: sub-window payload -> exactly one (short) frame
    assert got[(2, 0)] == (0, 2, hashlib.md5(b"xy").hexdigest())
    with _pytest.raises(ValueError):
        frame_sample(b, win=0)


def test_sentiment_metrics_goldens(spark):
    """Polarity arithmetic on hand-checkable texts; empty text -> 0."""
    from go_fish_spark.functions.text import sentiment_metrics

    df = spark.createDataFrame(
        [
            (1, "good good bad other words here"),
            (2, "terrible awful day"),
            (3, "neutral words only"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    m = sentiment_metrics("text")
    rows = {
        r.doc_id: (r.n_pos, r.n_neg, r.polarity)
        for r in df.select(
            "doc_id", m["n_pos"].alias("n_pos"), m["n_neg"].alias("n_neg"),
            m["polarity"].alias("polarity"),
        ).collect()
    }
    assert rows[1] == (2, 1, (2 - 1) / 6)
    assert rows[2] == (0, 2, -2 / 3)
    assert rows[3] == (0, 0, 0.0)
    assert rows[4][2] == 0.0  # split('') -> [''] but no lexicon hit
