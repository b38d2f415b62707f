"""Round-12 regressions: the r11 ADVICE findings (model-derived cell
histograms, generation retention, fold batch-id stamping) plus the
round's new store machinery."""

from __future__ import annotations

import os

import pytest

# Round-close suite (selective-compaction lifecycles); excluded from the bounded default
# run the driver's pytest window can hold (r14 verdict Next #3b) -
# scripts/close_round.py forces it back on with `-o addopts=`.
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F


def _live_parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def _ann_corpus(spark, n, dim=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((16, dim)) * 5
    X = centers[rng.integers(0, 16, n)] + rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


# --- ADVICE r11 #1: histograms at the MODEL's cell count ----------------------


def test_ann_refit_plan_rejects_mismatched_histogram():
    from go_fish_spark.streaming import annstore

    manifest = {"cell_mass": [10, 10, 10, 10]}
    with pytest.raises(ValueError, match="cell histogram length mismatch"):
        annstore.ann_refit_plan(manifest, [5, 5])
    with pytest.raises(ValueError, match="cell histogram length mismatch"):
        annstore.ann_refit_plan(manifest, [5] * 8)
    # matched lengths still price normally
    ok = annstore.ann_refit_plan(manifest, [10, 10, 10, 10])
    assert ok["action"] == "incremental" and ok["js_divergence"] == 0.0


def test_ann_stream_histograms_at_loaded_model_cell_count(spark, tmp_path):
    """A PRE-FROZEN model with more cells than the stream's n_cells
    parameter used to IndexError the stream's drift histogram (and
    silently truncate it when fewer) — the histogram must size itself
    from the loaded model."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 80)
    store = str(tmp_path / "ann")
    src = str(tmp_path / "in")
    cp = str(tmp_path / "cp")
    os.makedirs(src)
    # freeze a 16-cell model; the stream is (mis)configured with n_cells=4
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 16, 4, 16)
    mass = annstore._cell_hist(
        annstore.encode_ann_batch(df, coarse, pq), len(coarse._centers)
    )
    annstore.publish_ann_model(store, coarse, pq, cell_mass=mass, gen=1)

    plans = []
    df.write.mode("append").parquet(src)
    annstore.ann_store_stream(
        spark.readStream.schema("vec_id long, embedding array<double>")
        .parquet(src),
        store, cp, n_cells=4, on_plan=plans.append,
    ).awaitTermination(120)
    assert len(plans) == 1
    # the full-corpus batch matches the train distribution exactly —
    # with the truncation bug half the mass vanished and js drifted
    assert plans[0]["js_divergence"] == 0.0
    assert plans[0]["action"] == "incremental"


# --- ADVICE r11 #4: fold rows outrank a restarted batch-id space --------------


def test_ann_fold_stamped_at_covered_outranks_restarted_ids(spark, tmp_path):
    """compact_ann_store stamps the folded generation at the covered
    max _batch_id (the labelstore rule): after a checkpoint loss
    restarts batch ids at 0, a re-append at batch 0 deterministically
    LOSES to the fold instead of tying nondeterministically."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 60)
    store = str(tmp_path / "ann")
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    for b in range(3):
        annstore.append_ann_patch(
            annstore.encode_ann_batch(
                df.filter(F.col("vec_id") % 3 == b), coarse, pq
            ),
            store, b, gen=1,
        )
    annstore.compact_ann_store(spark, store, prune=False)
    # the folded generation carries the covered stamp, not 0
    doc = annstore.load_ann_manifest(store)
    folded = spark.read.parquet(annstore._cells_path(store, doc["gen"]))
    assert folded.agg(F.max("_batch_id")).collect()[0][0] == 2

    before = {
        r["_id"]: (r["cell"], str(r["codes"]))
        for r in annstore.read_ann_store(spark, store).collect()
    }
    # checkpoint loss: an EDITED vector re-appends at batch 0
    edited = df.filter("vec_id = 7").select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    annstore.append_ann_patch(
        annstore.encode_ann_batch(edited, coarse, pq),
        store, 0, gen=doc["gen"],
    )
    after = {
        r["_id"]: (r["cell"], str(r["codes"]))
        for r in annstore.read_ann_store(spark, store).collect()
    }
    # batch 0 < covered stamp 2 — the fold wins, deterministically
    assert after == before


# --- r11 Next #3: single-writer lease enforcement -----------------------------


def test_compactor_refused_while_appender_holds_lease(spark, tmp_path):
    """An out-of-band compaction racing a live appender is REFUSED
    (LeaseHeld) instead of interleaving with the half-appended batch
    and stranding its patch behind the covered cut."""
    from go_fish_spark.streaming import annstore
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    store = str(tmp_path / "store")
    labels = os.path.join(store, "labels")
    ls.append_label_patch(
        spark.createDataFrame([(1, 1)], "id long, component long"),
        labels, batch_id=0, n_shards=2,
    )
    # the appender (maintenance stream) holds the lease mid-batch
    sk.acquire_lease(store, "stream:/cp/labels")
    with pytest.raises(sk.LeaseHeld):
        ls.compact_label_store(spark, labels, n_shards=2)
    sk.release_lease(store, "stream:/cp/labels")
    assert ls.compact_label_store(spark, labels, n_shards=2) == 1
    # and the lease is released afterwards (a second fold succeeds)
    assert ls.compact_label_store(spark, labels, n_shards=2) == 1

    ann = str(tmp_path / "ann")
    df = _ann_corpus(spark, 30)
    from go_fish_spark.operators import similarity as sim

    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 4, 4, 16)
    annstore.publish_ann_model(ann, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), ann, 0, gen=1
    )
    sk.acquire_lease(ann, "stream:/cp/ann")
    with pytest.raises(sk.LeaseHeld):
        annstore.compact_ann_store(spark, ann)
    with pytest.raises(sk.LeaseHeld):
        annstore.refit_ann_store(spark, ann, df, n_cells=4, m=4, ksub=16)
    sk.release_lease(ann, "stream:/cp/ann")
    assert annstore.compact_ann_store(spark, ann) == 30


def test_stale_lease_reclaimed_after_ttl(tmp_path):
    """A crashed holder's lease is reclaimed once its TTL passes; a
    live (in-TTL) lease from another owner still refuses."""
    import json
    import time

    from go_fish_spark.streaming import storekernel as sk

    d = str(tmp_path)
    sk.acquire_lease(d, "crashed-writer", ttl_s=1000)
    with pytest.raises(sk.LeaseHeld):
        sk.acquire_lease(d, "other")
    # backdate the lease past its TTL — the holder crashed
    doc = json.load(open(sk.lease_path(d)))
    doc["acquired_at"] = time.time() - 2000
    json.dump(doc, open(sk.lease_path(d), "w"))
    got = sk.acquire_lease(d, "other")
    assert got["owner"] == "other"
    sk.release_lease(d, "other")


def test_same_owner_reclaims_own_lease(tmp_path):
    """Same-checkpoint replay after a crash reclaims its own lease
    immediately (the previous incarnation is dead by construction);
    a late release from the reclaimed-from incarnation is a no-op."""
    from go_fish_spark.streaming import storekernel as sk

    d = str(tmp_path)
    sk.acquire_lease(d, "stream:/cp/x", ttl_s=1000)
    got = sk.acquire_lease(d, "stream:/cp/x", ttl_s=1000)  # replay
    assert got["owner"] == "stream:/cp/x"
    # another owner releasing does nothing
    sk.release_lease(d, "someone-else")
    assert os.path.exists(sk.lease_path(d))
    sk.release_lease(d, "stream:/cp/x")
    assert not os.path.exists(sk.lease_path(d))


# --- r11 Next #1: SELECTIVE compaction ----------------------------------------


def _shard_of(x, n):
    import hashlib

    return int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16) % n


def test_selective_label_compaction_folds_only_hot_shards(spark, tmp_path):
    """A fold of only the fragmented shards: hot shards' patches fold
    and their files are GC'd; cold shards' generation files are
    hard-link-carried (inode-identical — zero bytes rewritten) and
    their live patches keep serving; the reader of record equals the
    full-fold answer throughout."""
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    path = str(tmp_path / "labels")
    n_shards = 4
    ids = list(range(60))
    hot = _shard_of(ids[0], n_shards)
    hot_ids = [i for i in ids if _shard_of(i, n_shards) == hot]
    cold_ids = [i for i in ids if _shard_of(i, n_shards) != hot]

    # batch 0: everything; full fold -> generation 1
    ls.append_label_patch(
        spark.createDataFrame(
            [(i, i) for i in ids], "id long, component long"
        ),
        path, batch_id=0, n_shards=n_shards,
    )
    ls.compact_label_store(spark, path, n_shards=n_shards)
    man1 = sk.read_store_manifest(path)
    gen1 = sk.store_generation_path(path, 1)
    cold_inodes = {
        f: os.stat(f).st_ino
        for f in _live_parquet_files(gen1)
        if f"shard={hot}" not in f
    }
    assert cold_inodes, "need cold generation files for the carry check"

    # hot-only churn: batches 1..3 rewrite hot ids; one cold patch too
    for b in (1, 2, 3):
        ls.append_label_patch(
            spark.createDataFrame(
                [(i, i * 10 + b) for i in hot_ids],
                "id long, component long",
            ),
            path, batch_id=b, n_shards=n_shards,
        )
    ls.append_label_patch(
        spark.createDataFrame(
            [(cold_ids[0], 777)], "id long, component long"
        ),
        path, batch_id=4, n_shards=n_shards,
    )
    expect = {i: i for i in ids}
    expect.update({i: i * 10 + 3 for i in hot_ids})
    expect[cold_ids[0]] = 777

    n = ls.compact_label_store(
        spark, path, n_shards=n_shards, shards=[hot]
    )
    assert n == len(hot_ids)
    man2 = sk.read_store_manifest(path)
    assert man2["gen"] == 2
    # hot shard's cut advanced; default (cold shards) unchanged
    assert man2["covered"] == {str(hot): 3}
    assert man2["covered_default"] == man1["covered_default"] == 0
    # cold generation files were CARRIED: same inode, zero bytes moved
    gen2 = sk.store_generation_path(path, 2)
    carried = {
        f: os.stat(f).st_ino
        for f in _live_parquet_files(gen2)
        if f"shard={hot}" not in f
    }
    assert set(os.path.basename(f) for f in carried) == set(
        os.path.basename(f) for f in cold_inodes
    )
    assert sorted(carried.values()) == sorted(cold_inodes.values())
    # hot patches GC'd, the cold (batch-4) patch survives and serves
    live_patches = _live_parquet_files(path)
    assert live_patches and all(
        f"shard={hot}" not in f for f in live_patches
    )
    got = {
        r.id: r.component
        for r in ls.read_label_store(spark, path).collect()
    }
    assert got == expect
    # a later FULL fold resets the map and still agrees
    ls.compact_label_store(spark, path, n_shards=n_shards)
    man3 = sk.read_store_manifest(path)
    assert man3["covered"] == {} and man3["covered_default"] == 4
    got3 = {
        r.id: r.component
        for r in ls.read_label_store(spark, path).collect()
    }
    assert got3 == expect


def test_selective_ann_compaction_carries_cold_cells(spark, tmp_path):
    """Per-cell selective fold: hot cells rewritten, cold cells
    hard-link-carried; an edit that MOVED a vector from a hot cell to
    a cold one (and vice versa) still reads back correctly because the
    fold input is the global latest-wins view."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 80)
    store = str(tmp_path / "ann")
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 0, gen=1
    )
    # edits: negate a handful of vectors — most change cell
    edited = df.filter("vec_id % 11 = 0").select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    annstore.append_ann_patch(
        annstore.encode_ann_batch(edited, coarse, pq), store, 1, gen=1
    )
    current = df.filter("vec_id % 11 != 0").unionByName(edited)
    want = sorted(
        map(
            tuple,
            annstore.encode_ann_batch(current, coarse, pq)
            .select("_id", "cell", F.col("codes").cast("string"))
            .collect(),
        )
    )
    # pick the fragmented cells (2 files) as hot; the rest are cold
    plan = annstore.ann_compaction_plan(store, file_cutoff=2.0, min_files=1)
    hot = plan["cells_to_fold"]
    assert hot and plan["fold_scope"] == "selective"
    gen1 = annstore._cells_path(store, 1)
    cold_files = {
        f: os.stat(f).st_ino
        for f in _live_parquet_files(gen1)
        if not any(f"cell={c}/" in f for c in hot)
    }
    assert cold_files, "need cold cells for the carry check"
    annstore.compact_ann_store(spark, store, cells=hot)
    assert annstore.load_ann_manifest(store)["gen"] == 2
    gen2 = annstore._cells_path(store, 2)
    carried = {
        f: os.stat(f).st_ino
        for f in _live_parquet_files(gen2)
        if not any(f"cell={c}/" in f for c in hot)
    }
    assert sorted(carried.values()) == sorted(cold_files.values())
    # hot cells collapsed to one file each in the new generation
    for c in hot:
        hot_files = [
            f for f in _live_parquet_files(gen2) if f"cell={c}/" in f
        ]
        assert len(hot_files) == 1
    got = sorted(
        map(
            tuple,
            annstore.read_ann_store(spark, store)
            .select("_id", "cell", F.col("codes").cast("string"))
            .collect(),
        )
    )
    assert got == want


# --- r11 Next #4: streaming search arm for the ANN store ----------------------


def test_ann_search_stream_parity_restart_and_recall(spark, tmp_path):
    """Stream ≡ batch: the search stream's accumulated results equal
    adc_search_store on the same queries (frozen manifest ⇒ pure
    function); a restarted query on the same checkpoint continues
    exactly-once; the live recall monitor reports per-batch recall@k
    against the raw-vector lake."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 100)
    store = str(tmp_path / "ann")
    src = str(tmp_path / "q")
    out = str(tmp_path / "res")
    cp = str(tmp_path / "cp")
    os.makedirs(src)
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 0, gen=1
    )

    infos = []

    def drain():
        annstore.ann_search_stream(
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).parquet(src),
            store, out, cp, k=5, n_probe=2,
            on_batch=infos.append, recall_corpus=df, recall_sample=4,
        ).awaitTermination(120)

    df.filter("vec_id < 5").write.mode("append").parquet(src)
    drain()
    first = annstore.read_search_results(spark, out)
    assert {r.query_id for r in first.collect()} == set(range(5))
    # restart: a NEW stream on the same checkpoint picks up new queries
    df.filter("vec_id >= 5 and vec_id < 10").write.mode("append").parquet(src)
    drain()
    got = sorted(
        map(tuple, annstore.read_search_results(spark, out).collect())
    )
    want = sorted(
        map(
            tuple,
            annstore.adc_search_store(
                spark, store, df.filter("vec_id < 10"), k=5, n_probe=2
            ).collect(),
        )
    )
    assert got == want
    assert [i["batch_id"] for i in infos] == [0, 1]
    assert all(0.0 <= i["recall_at_k"] <= 1.0 for i in infos)
    assert all(i["n_queries"] == 5 for i in infos)


def test_ann_search_stream_resubmitted_query_supersedes(spark, tmp_path):
    """A query re-submitted after the store changed gets its NEW answer
    in the latest-wins read-back (the store-edit rule applied to
    results)."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 60)
    store = str(tmp_path / "ann")
    src = str(tmp_path / "q")
    out = str(tmp_path / "res")
    cp = str(tmp_path / "cp")
    os.makedirs(src)
    half = df.filter("vec_id < 30")
    coarse, pq = sim.fit_ivfpq_det(half, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(half, coarse, pq), store, 0, gen=1
    )

    def drain():
        annstore.ann_search_stream(
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).parquet(src),
            store, out, cp, k=5, n_probe=2,
        ).awaitTermination(120)

    q = df.filter("vec_id = 3")
    q.write.mode("append").parquet(src)
    drain()
    # the corpus grows; the SAME query re-submitted sees the new corpus
    annstore.append_ann_patch(
        annstore.encode_ann_batch(
            df.filter("vec_id >= 30"), coarse, pq
        ),
        store, 1, gen=1,
    )
    q.write.mode("append").parquet(src)
    drain()
    got = sorted(
        map(tuple, annstore.read_search_results(spark, out).collect())
    )
    want = sorted(
        map(
            tuple,
            annstore.adc_search_store(
                spark, store, q, k=5, n_probe=2
            ).collect(),
        )
    )
    assert got == want


def test_bloom_decontam_equals_exact_and_prunes(spark):
    """The Bloom prescreen changes the PLAN, never the answer: output
    ≡ contaminated_docs on a corpus where most shingles are clean, and
    the prescreen demonstrably drops the bulk of the clean volume
    before the exact join."""
    from go_fish_spark.operators import decontam
    from go_fish_spark.functions import text as tx

    # 200 clean docs with disjoint vocab + 10 docs sharing eval text
    rows = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(200)]
    rows += [(1000 + i, f"leak{i} leak{i+1} leak{i+2} leak{i+3}")
             for i in range(10)]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(9000 + i, f"leak{i} leak{i+1} leak{i+2} leak{i+3} leak{i+4}")
         for i in range(0, 12, 2)],
        "doc_id long, text string",
    )
    exact = sorted(
        map(tuple, decontam.contaminated_docs(
            train, ev, "doc_id", "text", k=3).collect())
    )
    bloom = sorted(
        map(tuple, decontam.bloom_contaminated_docs(
            train, ev, "doc_id", "text", k=3).collect())
    )
    assert bloom == exact and exact  # same answer, and non-trivial

    # prescreen effectiveness: survivors << total (doc, shingle) rows
    bl = decontam.fit_shingle_bloom(ev, "text", k=3)
    from pyspark.sql import functions as F

    bf = spark.createDataFrame([(bl["words"],)], "bf array<bigint>")
    sh = train.select(
        "doc_id", F.explode(tx.word_shingles("text", 3)).alias("sh")
    )
    total = sh.count()
    kept = (
        sh.join(F.broadcast(bf))
        .filter(decontam.bloom_might_contain_expr(bl, "sh"))
        .count()
    )
    # 200 clean docs × 3 shingles are FPR-bounded; 10 leaked docs pass
    assert kept < 0.2 * total
    # no false negatives: every exact hit's shingles survive
    assert kept >= sum(n for _d, n in exact)


def test_bloom_gate_one_sided_semantics(spark):
    """The bloom_gate task never ships a leaking doc (no false
    negatives — every exact hit is dropped) and over-drops at most a
    small FPR share of clean docs; identical decisions batch-side and
    through the declared-task registry."""
    from go_fish_spark.operators import decontam
    from go_fish_spark.tasks import get_task

    rows = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(300)]
    rows += [(1000 + i, f"leak{i} leak{i+1} leak{i+2} leak{i+3}")
             for i in range(10)]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(9000 + i, f"leak{i} leak{i+1} leak{i+2} leak{i+3} leak{i+4}")
         for i in range(0, 12, 2)],
        "doc_id long, text string",
    )
    bloom = decontam.fit_shingle_bloom(ev, "text", k=3)
    gate = get_task("bloom_gate", k=3, **bloom)
    kept = {r.doc_id for r in gate.apply(train).collect()}
    exact_hits = {
        r.doc_id
        for r in decontam.contaminated_docs(
            train, ev, "doc_id", "text", k=3
        ).collect()
    }
    assert exact_hits and not (exact_hits & kept)  # no leak ships
    clean = {r[0] for r in rows} - exact_hits
    over_dropped = clean - kept
    assert len(over_dropped) <= max(3, 0.05 * len(clean))
    # survivors keep every input column (row-preserving)
    assert gate.apply(train).columns == train.columns


def test_bpe_merge_fold_matches_reference_scan(spark):
    """Property check: the string-fold merge (_bpe_merge_col) equals
    Sennrich's reference greedy left-to-right non-overlapping scan on
    500 seeded random symbol sequences (heavy in a/b runs — the
    overlap-adversarial alphabet) for several merge pairs, including
    a == b and composed symbols."""
    import random

    from pyspark.sql import functions as F

    from go_fish_spark.operators.ngrams import _bpe_merge_col

    def ref_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    rng = random.Random(12)
    words = [
        [rng.choice(["a", "b", "ab", "c"]) for _ in range(rng.randint(1, 9))]
        for _ in range(500)
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "i long, syms array<string>"
    )
    for a, b in [("a", "b"), ("a", "a"), ("b", "b"), ("ab", "c"), ("c", "a")]:
        got = {
            r["i"]: list(r["m"])
            for r in df.select(
                "i", _bpe_merge_col("syms", a, b).alias("m")
            ).collect()
        }
        for i, w in enumerate(words):
            assert got[i] == ref_merge(w, a, b), (a, b, w, got[i])


def test_bpe_tokenize_parity_with_train_vocab(spark):
    """bpe_tokenize's token streams reassemble the original words and
    the symbol inventory is closed under the trained merges."""
    from go_fish_spark.operators.ngrams import bpe_tokenize, bpe_train

    df = spark.createDataFrame(
        [("abc abc abd cd",)], "text string"
    ).toDF("text")
    merges = {
        (r.lhs, r.rhs)
        for r in bpe_train(df, "text", n_merges=2).collect()
    }
    out = bpe_tokenize(df, "text", n_merges=2, top_k=10).collect()
    assert {r.word for r in out} == {"abc", "abd", "cd"}
    for r in out:
        assert "".join(r.tokens.split("|")) == r.word
        assert r.n_tokens == len(r.tokens.split("|"))
    assert merges == {("a", "b"), ("ab", "c")}
    toks = {r.word: r.tokens for r in out}
    assert toks["abc"] == "abc" and toks["abd"] == "ab|d"


# --- store-plan CLI: priced compaction pre-flight ------------------------------


def test_cli_store_plan_label_and_shards(spark, tmp_path, capsys):
    """`store-plan` prices a fold from the file census alone (no Spark
    session inside the command) — exit 0 = skip, 3 = fold advised —
    and reports the selective fold set."""
    import json

    from go_fish_spark.cli import main
    from go_fish_spark.sources import sharding
    from go_fish_spark.streaming import labelstore as ls

    labels = str(tmp_path / "labels")
    for b in range(6):
        ls.append_label_patch(
            spark.createDataFrame(
                [(i, i) for i in range(8)], "id long, component long"
            ),
            labels, batch_id=b, n_shards=2,
        )
    assert main(["store-plan", "label", labels,
                 "--file-cutoff", "3.0", "--min-files", "2"]) == 3
    plan = json.loads(capsys.readouterr().out)
    assert plan["action"] == "compact" and plan["shards_to_fold"]

    ls.compact_label_store(spark, labels, n_shards=2)
    assert main(["store-plan", "label", labels,
                 "--file-cutoff", "3.0", "--min-files", "2"]) == 0
    assert json.loads(capsys.readouterr().out)["action"] == "skip"

    corpus = str(tmp_path / "corpus")
    sharding.write_sharded(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(20)], "doc_id long, text string"
        ),
        corpus, id_col="doc_id", n_shards=4,
    )
    assert main(["store-plan", "shards", corpus,
                 "--file-cutoff", "2.0", "--min-files", "2"]) == 0
    assert json.loads(capsys.readouterr().out)["read_amp"] == 1.0


# --- r11 Next #7: choose_ann build-cost amortization ---------------------------


def test_choose_ann_amortize_over_flips_decision(spark, tmp_path):
    """At a fixed corpus and budget, a one-shot search (amortize_over=1)
    charges the full IVF build and busts the budget, while a declared
    multi-batch horizon amortizes it back under — and a durable store
    (coded=) makes the build SUNK regardless."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 300)
    q = df.filter("vec_id < 20")
    quant = sim.fit_quantizer_det(df, "vec_id", "embedding", 16)
    rec = {"ivf_probe": 0.9}

    base = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=10**12,
        measured_recall=rec, quantizer=quant,
    )
    ivf = base["disciplines"]["ivf_probe"]
    brute = base["disciplines"]["brute_force"]
    budget = ivf["cost"] + ivf["build_cost"] // 100 + 1
    assert brute["cost"] > budget  # brute can never fit this budget

    # one-shot: full build charged -> nothing fits
    p1 = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=budget,
        measured_recall=rec, quantizer=quant, amortize_over=1,
    )
    assert p1["action"] == "over_budget"
    assert (
        p1["disciplines"]["ivf_probe"]["amortized_cost"]
        == ivf["cost"] + ivf["build_cost"]
    )

    # a 200-batch horizon amortizes the build under the same budget
    p2 = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=budget,
        measured_recall=rec, quantizer=quant, amortize_over=200,
    )
    assert p2["action"] == "proceed" and p2["chosen"] == "ivf_probe"

    # default (no horizon declared): build uncharged, as before
    p3 = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=budget,
        measured_recall=rec, quantizer=quant,
    )
    assert p3["action"] == "proceed" and p3["chosen"] == "ivf_probe"
    assert (
        p3["disciplines"]["ivf_probe"]["amortized_cost"] == ivf["cost"]
    )

    # durable store: the IVF build is sunk even at amortize_over=1
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 16, 4, 16)
    store = str(tmp_path / "ann")
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 0, gen=1
    )
    p4 = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=budget,
        measured_recall=rec, quantizer=quant, amortize_over=1,
        coded=annstore.read_ann_store(spark, store),
    )
    assert p4["action"] == "proceed" and p4["chosen"] == "ivf_probe"


# --- r11 Next #6: the full BPE merge loop --------------------------------------


def test_bpe_train_merges_compose_and_recount(spark):
    """The loop recounts pairs on the FOLDED vocab: after merging
    (a, b) → 'ab', the next iteration can pick ('ab', c) — the
    composed-symbol behavior one-shot pair tables can't produce; and
    the greedy merge is non-overlapping ([a,a,a] folds to [aa, a])."""
    from go_fish_spark.operators.ngrams import bpe_train

    # 'abc' dominant → merge 1 = (a,b) [ties to lexicographic least
    # among count-10 pairs (a,b) and (b,c)], merge 2 = (ab,c)
    df = spark.createDataFrame(
        [("abc " * 10).strip()], "string"
    ).toDF("text")
    got = [tuple(r) for r in bpe_train(df, "text", n_merges=2).collect()]
    assert got == [(1, "a", "b", 10), (2, "ab", "c", 10)]

    # overlap: 'aaa' ×6 — (a,a) counts 12 (overlapping positions), the
    # merge is greedy non-overlapping, so iteration 2 sees [aa, a]
    # and picks (aa, a) with count 6
    df2 = spark.createDataFrame(
        [("aaa " * 6).strip()], "string"
    ).toDF("text")
    got2 = [tuple(r) for r in bpe_train(df2, "text", n_merges=2).collect()]
    assert got2 == [(1, "a", "a", 12), (2, "aa", "a", 6)]

    # early stop: single-char vocab has no pairs after 1 merge
    df3 = spark.createDataFrame([("ab ab c")], "string").toDF("text")
    got3 = [tuple(r) for r in bpe_train(df3, "text", n_merges=5).collect()]
    assert got3 == [(1, "a", "b", 2)]


# --- r11 Next #2: the store kernel backs all three stores ---------------------


def test_shard_compaction_plan_prices_from_file_census(spark, tmp_path):
    """The sharded-corpus layout now runs the same priced compaction
    decision as the label/ANN stores (storekernel.walk_parquet_files):
    fragmented shard dirs price 'compact', a fresh one-file-per-shard
    rewrite prices 'skip' at read_amp 1.0."""
    from go_fish_spark.sources import sharding

    path = str(tmp_path / "corpus")
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    sharding.write_sharded(df, path, id_col="doc_id", n_shards=4)
    plan = sharding.shard_compaction_plan(path, file_cutoff=2.0, min_files=4)
    assert plan["action"] == "skip" and plan["read_amp"] == 1.0
    # appends fragment the shard dirs
    for _ in range(3):
        sharding.write_sharded(
            df, path, id_col="doc_id", n_shards=4, mode="append"
        )
    plan2 = sharding.shard_compaction_plan(path, file_cutoff=2.0, min_files=4)
    assert plan2["action"] == "compact" and plan2["read_amp"] >= 2.0
    assert plan2["n_live_shards"] == 4
    sharding.compact_shards(spark, path)
    plan3 = sharding.shard_compaction_plan(path, file_cutoff=2.0, min_files=4)
    assert plan3["action"] == "skip" and plan3["read_amp"] == 1.0


def test_ann_refit_generation_stamped_at_covered(spark, tmp_path):
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 60)
    store = str(tmp_path / "ann")
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 5, gen=1
    )
    annstore.refit_ann_store(spark, store, df, n_cells=8, m=4, ksub=16)
    doc = annstore.load_ann_manifest(store)
    gen = spark.read.parquet(annstore._cells_path(store, doc["gen"]))
    assert gen.agg(F.max("_batch_id")).collect()[0][0] == 5
