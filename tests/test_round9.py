"""Round-9 hardening tests: bounded/fingerprinted session caches with
explicit release (r8 verdict Next #1 + ADVICE), cross-engine waterfill
floor semantics (ADVICE), and the audit-sink orphan grace window
(ADVICE — the sweep test itself lives in test_round8).
"""

from __future__ import annotations

import os

import pytest

# Round-close suite (store/maintenance-stream lifecycles); excluded from the bounded default
# run the driver's pytest window can hold (r14 verdict Next #3b) -
# scripts/close_round.py forces it back on with `-o addopts=`.
pytestmark = pytest.mark.slow


from tests.conftest import SF_SMALL


def _write_docs(path: str, rows) -> None:
    """Write a tiny documents.parquet with the testdata schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "documents.parquet"))


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),
    (3, "completely different text about spark sql engines here"),
]


def test_session_cache_lru_bound_unpersists(spark, tmp_path, monkeypatch):
    """Beyond _SESSION_CACHE_MAX live entries the LRU evicts AND
    unpersists — a long-lived multi-corpus service cannot accumulate
    persisted frames without bound."""
    from go_fish_spark.queries.extensions import _shared

    monkeypatch.setattr(_shared, "_SESSION_CACHE_MAX", 2)
    _shared._SIG_FRAMES.clear()
    frames = []
    for i in range(3):
        d = str(tmp_path / f"corpus{i}")
        _write_docs(d, DOCS)
        frames.append(_shared.shared_doc_sigs(spark, d))
    assert len(_shared._SIG_FRAMES) == 2
    # the first (LRU) frame was unpersisted on eviction
    assert not frames[0].storageLevel.useMemory
    assert frames[2].storageLevel.useMemory
    _shared.release_session_caches()


def test_session_cache_fingerprint_invalidation(spark, tmp_path):
    """Regenerating the data at the SAME path within one session is a
    cache MISS (the key carries the file fingerprint), so consumers
    never silently read stale frames."""
    from go_fish_spark.queries.extensions import _shared

    _shared.release_session_caches()
    d = str(tmp_path / "corpus")
    _write_docs(d, DOCS)
    f1 = _shared.shared_doc_sigs(spark, d)
    assert f1.count() == 3
    # same path, new data (and force a new mtime stamp)
    _write_docs(d, DOCS + [(4, "a fourth document appended after regen")])
    p = os.path.join(d, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))
    f2 = _shared.shared_doc_sigs(spark, d)
    assert f2 is not f1
    assert f2.count() == 4
    _shared.release_session_caches()


def test_release_session_caches_clears_all_three(spark):
    """release_session_caches() empties the signature, pair, and audit
    caches and unpersists their frames (the audit pass included — no
    reliance on GC)."""
    from go_fish_spark.queries.extensions import _shared

    sig = _shared.shared_doc_sigs(spark, SF_SMALL)
    pairs = _shared.shared_jaccard_pairs(spark, SF_SMALL)
    audit = _shared.shared_dedup_audit(spark, SF_SMALL)
    assert audit.components.count() > 0
    assert len(_shared._SIG_FRAMES) == 1
    assert len(_shared._PAIR_FRAMES) == 1
    assert len(_shared._AUDIT_PASSES) == 1
    _shared.release_session_caches()
    assert len(_shared._SIG_FRAMES) == 0
    assert len(_shared._PAIR_FRAMES) == 0
    assert len(_shared._AUDIT_PASSES) == 0
    assert not sig.storageLevel.useMemory
    assert not pairs.storageLevel.useMemory
    # a later call refits cleanly
    assert _shared.shared_doc_sigs(spark, SF_SMALL).count() > 0
    _shared.release_session_caches()


def test_waterfill_floor_semantics_cross_engine(spark, duck):
    """ADVICE fix: fractional weight sums are FLOORED (not
    truncate-vs-round engine-dependent) on both arms — capacities agree
    between Spark and DuckDB for non-integer weights."""
    from go_fish_spark.operators.sampling import (
        duck_waterfill_sql,
        waterfill_allocation,
    )

    rows = [("a", 2.6), ("a", 2.9), ("b", 0.7), ("c", 9.9)]
    df = spark.createDataFrame(rows, "src string, w double")
    got = {
        r["src"]: (r["available"], r["allocated"])
        for r in waterfill_allocation(df, "src", "w", budget=7).collect()
    }
    duck.execute(
        "CREATE OR REPLACE VIEW wtest AS SELECT * FROM (VALUES "
        + ", ".join(f"('{s}', {w})" for s, w in rows)
        + ") AS t(src, w)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            duck_waterfill_sql("wtest", "src", "w", budget=7)
        ).fetchall()
    }
    assert got == want
    # floor semantics explicitly: sum(a)=5.5→5, b=0.7→0, c=9.9→9
    assert got["a"][0] == 5 and got["b"][0] == 0 and got["c"][0] == 9
    # max-min fairness at B=7 over caps (0, 5, 9): b takes 0, level
    # splits 7 across a and c → 4/3 with the remainder to the first
    # unsaturated group in (cap, group) order
    assert sum(v[1] for v in got.values()) == 7


def test_quantile_norm_oracle_single_window(spark, duck):
    """ADVICE fix: the oracle SQL evaluates percent_rank ONCE; values
    still match the Spark arm."""
    from go_fish_spark.operators.sampling import (
        duck_quantile_norm_sql,
        per_group_quantile_norm,
    )

    rows = [(i, "s" if i % 2 else "t", float(i * 7 % 11)) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, src string, score double")
    got = sorted(
        (r["id"], r["pct_rank"], r["keep"])
        for r in per_group_quantile_norm(
            df, "src", "score", "id", keep_quantile=0.5
        ).collect()
    )
    duck.execute(
        "CREATE OR REPLACE VIEW qtest AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{s}', {v})" for i, s, v in rows)
        + ") AS t(id, src, score)"
    )
    sql = duck_quantile_norm_sql("qtest", "src", "score", "id", 0.5)
    assert sql.lower().count("percent_rank") == 1
    want = sorted(
        (r[0], r[3], r[4]) for r in duck.execute(sql).fetchall()
    )
    assert got == want


def test_incremental_audit_equals_full_recompute(spark):
    """Parity (r8 verdict Next #2 done-condition): the incremental merge
    over (history labels + store-probed delta pairs) reproduces the full
    CC recompute over the mutated corpus row-for-row."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup
    from go_fish_spark.operators.audit import incremental_audit_merge
    from go_fish_spark.operators.graph import connected_components

    docs = table(spark, SF_SMALL, "documents")
    is_new = F.col("doc_id") % 7 == 0
    hist, delta = docs.filter(~is_new), docs.filter(is_new)
    old_comp = connected_components(
        hist.select("doc_id"),
        dedup.minhash_lsh_pairs(
            hist, "doc_id", "text", threshold=0.35, portable=True
        ),
        id_col="doc_id",
    )
    inc = incremental_audit_merge(
        old_comp,
        delta.select("doc_id"),
        dedup.delta_minhash_pairs(
            delta,
            dedup.sketch_store(hist, "doc_id", "text", portable=True),
            "doc_id", "text", threshold=0.35, portable=True,
        ),
        id_col="doc_id",
    )
    full = connected_components(
        docs.select("doc_id"),
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.35, portable=True
        ),
        id_col="doc_id",
    )
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )
    dedup.release_caches()


def test_multikey_snm_superset_and_recall_lift(spark):
    """x119: the multi-key candidate union contains the single-key
    pass's pairs (prefix is one of the keys), and on a head-salted
    corpus the reversed/token-sorted passes recover pairs prefix
    blocking misses entirely."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    base = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    salted = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("zz"), (F.col("doc_id") % 97).cast("string"),
            F.lit("salt "), F.col("text"),
        ).alias("text"),
    )
    corpus = base.unionByName(salted)
    single = {
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs(
            corpus, "doc_id", "text", window=3, threshold=0.3,
            keys=("prefix",),
        ).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs(
            corpus, "doc_id", "text", window=3, threshold=0.3,
            keys=dedup._SNM_KEYS,
        ).collect()
    }
    assert single <= multi
    # every doc's head-salted twin is a true near-dup pair the prefix
    # key largely misses; the added keys must find strictly more
    twins_found = {
        p for p in multi if p[1] - p[0] == 1_000_000
    }
    twins_single = {
        p for p in single if p[1] - p[0] == 1_000_000
    }
    assert len(twins_found) > 2 * max(len(twins_single), 1)
    dedup.release_caches()


def test_salt_plan_decisions_and_parity(spark):
    """Next #4: the salting decision reads the key histogram — a
    hub-heavy synthetic salts with n_salt scaled to the hot key, a
    uniform key space keeps the DIRECT one-exchange plan (no _salt
    stage anywhere in it) — and both physical shapes return identical
    results."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.aggregates import (
        auto_salted_agg,
        salt_plan,
    )

    # hub-heavy: key 'hub' holds 5000 rows, 50 cold keys hold 10 each
    hub = spark.range(5000).select(
        F.lit("hub").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(500).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    df = hub.unionByName(cold)
    p = salt_plan(df, ["k"], partial_budget=1000, max_salt=64)
    assert p["action"] == "salt"
    assert p["n_salt"] == 5  # ceil(5000/1000)
    assert p["max_group"] == 5000 and p["n_keys"] == 51
    # uniform: nothing exceeds the budget -> direct
    pu = salt_plan(cold, ["k"], partial_budget=1000)
    assert pu["action"] == "direct" and pu["n_salt"] == 1
    aggs = {
        "n": ("count", F.lit(1)),
        "s": ("sum", "v"),
        "mn": ("min", "v"),
        "mx": ("max", "v"),
    }
    direct = auto_salted_agg(cold, ["k"], aggs, partial_budget=1000)
    assert "_salt" not in direct._jdf.queryExecution().executedPlan().toString()
    salted = auto_salted_agg(df, ["k"], aggs, partial_budget=1000)
    assert "_salt" in salted._jdf.queryExecution().executedPlan().toString()
    # parity: the salted physical rewrite is bitwise-equal to direct
    want = sorted(
        map(tuple, df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        ).collect())
    )
    assert sorted(map(tuple, salted.collect())) == want


def test_choose_blocking_three_corpus_shapes(spark):
    """Next #5 done-condition: the planner picks differently on (a) a
    clean corpus with an affordable exact index, (b) a hot-shingle
    corpus whose exact co-occurrence blows the budget, and (c) a
    tight-budget corpus where only the measured sorted-neighborhood
    bound fits."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.dedup import choose_blocking, release_caches

    # (a) clean / skew-free: 60 distinct docs, light shingle sharing —
    # exact index affordable, recall contract 1.0 forces it
    clean = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha"), (F.col("id") * 7 % 13).cast("string"),
            F.lit("beta"), (F.col("id") * 11 % 17).cast("string"),
            F.lit("gamma"), (F.col("id") * 3 % 19).cast("string"),
            F.lit("delta"), F.col("id").cast("string"),
        ).alias("text"),
    )
    p = choose_blocking(
        clean, "doc_id", "text", min_recall=1.0, pair_budget=100_000
    )
    assert p["action"] == "proceed" and p["chosen"] == "exact_index"
    assert p["disciplines"]["exact_index"]["cost"] <= 100_000
    # minhash can never satisfy recall=1.0
    assert not p["disciplines"]["minhash_bands"]["eligible"]

    # (b) hot-shingle: every doc shares a boilerplate run -> the shared
    # shingles contribute n*(n-1)/2 each; exact blows a budget the band
    # buckets (distinct signatures) still fit; S-curve at t=0.5,
    # r=4, b=16 is 1-(1-1/16)^16 ~ 0.644
    hot = spark.range(200).select(
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
    p = choose_blocking(
        hot, "doc_id", "text", min_recall=0.6, pair_budget=30_000,
        threshold=0.5,
    )
    assert p["disciplines"]["exact_index"]["cost"] > 30_000
    assert p["action"] == "proceed" and p["chosen"] == "minhash_bands"

    # (c) tight budget: only SNM's n*window*keys arithmetic bound fits,
    # and it is eligible only because a measured recall is supplied
    p_no = choose_blocking(
        hot, "doc_id", "text", min_recall=0.9, pair_budget=2_000,
    )
    assert p_no["action"] in ("no_discipline", "over_budget")
    p = choose_blocking(
        hot, "doc_id", "text", min_recall=0.9, pair_budget=2_000,
        measured_recall={"sorted_neighborhood": 0.93},
    )
    assert p["action"] == "proceed" and p["chosen"] == "sorted_neighborhood"
    assert p["disciplines"]["sorted_neighborhood"]["cost"] == 200 * 3 * 3
    release_caches()


def test_cli_choose_blocking(tmp_path, spark):
    """choose-blocking prints the decision JSON and exits 0 on
    proceed / 1 otherwise."""
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
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    plan = json.loads(proc.stdout)
    assert plan["action"] == "proceed" and plan["chosen"] == "exact_index"
    # an unmeetable budget exits non-zero
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "choose-blocking",
         corpus, "--min-recall", "1.0", "--pair-budget", "0",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 1
    assert json.loads(proc.stdout)["action"] == "over_budget"


def test_signature_store_stream_restart_and_parity(spark, tmp_path):
    """Next #6 done-condition: the streaming signature store survives a
    RESTART (checkpointed offsets — batch 2 is processed exactly once by
    a NEW query), an appended batch lands incrementally, an edited doc
    supersedes its old signature (latest-wins), and the final store
    matches the full sketch_store recompute row-for-row."""
    import pyspark.sql.types as T

    from go_fish_spark.operators.dedup import sketch_store
    from go_fish_spark.streaming.sigstore import (
        read_signature_store,
        signature_store_stream,
    )

    src = str(tmp_path / "incoming")
    store = str(tmp_path / "sigstore")
    cp = str(tmp_path / "cp")
    os.makedirs(src)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    b1 = [(1, "the quick brown fox jumps over the lazy dog"),
          (2, "a completely different second document body here")]
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = signature_store_stream(stream, store, cp)
    q.awaitTermination(120)

    # restart: append batch 2 (one NEW doc + one EDIT of doc 2), new query
    b2 = [(3, "third document arriving in the next crawl batch"),
          (2, "the second document after an edit changed its text")]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = signature_store_stream(stream2, store, cp)
    q2.awaitTermination(120)

    got = {
        r["doc_id"]: tuple(r["_sig"])
        for r in read_signature_store(spark, store).collect()
    }
    current = {1: b1[0][1], 2: b2[1][1], 3: b2[0][1]}
    want = {
        r["_id"]: tuple(r["_sig"])
        for r in sketch_store(
            spark.createDataFrame(
                [(i, t) for i, t in current.items()], schema
            ),
            "doc_id", "text",
        ).collect()
    }
    assert got == want  # incremental store ≡ full recompute; edit superseded


def test_recurring_crawl_demo_runs(spark):
    """examples/recurring_crawl_demo.py must keep working as the
    composed round-9 loop (sigstore -> delta probe -> incremental
    merge ≡ full recompute)."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "recurring_crawl_demo",
        os.path.join(repo, "examples/recurring_crawl_demo.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    import tempfile

    work = tempfile.mkdtemp(prefix="crawl_demo_test_")
    try:
        n_clusters = mod.run_demo(spark, SF_SMALL, work)
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    assert n_clusters > 0


def test_cluster_split_has_zero_leakage(spark):
    """x121's construction guarantee: no near-dup pair straddles the
    train/eval fence (the x45 audit finds nothing), because both sides
    of every pair share a component and the split keys on it."""
    from go_fish_spark.queries import REGISTRY
    from go_fish_spark.queries.extensions._shared import (
        release_session_caches,
        shared_jaccard_pairs,
    )

    out = REGISTRY["x121_cluster_split"].fn(spark, SF_SMALL)
    splits = {r["doc_id"]: r["split"] for r in out.collect()}
    pairs = shared_jaccard_pairs(spark, SF_SMALL).collect()
    assert pairs, "corpus should contain near-dup pairs"
    straddling = [
        (p["id_a"], p["id_b"])
        for p in pairs
        if splits[p["id_a"]] != splits[p["id_b"]]
    ]
    assert straddling == []
    release_session_caches()


def _lev(a: str, b: str) -> int:
    """Reference Levenshtein (pure-python DP) for expected values."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_verified_pairs_semantics(spark):
    """x123: exact dup scores lev=0/sim=1, a small in-place edit scores
    its exact distance, a pair whose length gap exceeds max_dist is
    pruned by the in-join prefilter, and every reported distance equals
    the reference DP."""
    from go_fish_spark.operators import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumped over the lazy dog"),
        # same 20-char sort prefix as 1-3 but 60+ chars longer: the
        # |len gap| > max_dist prefilter must drop its pairs before
        # any levenshtein evaluates
        (4, "the quick brown fox " + "padding " * 12 + "tail"),
        (5, "zzz wholly unrelated text about engines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.edit_verified_pairs(
        df, "doc_id", "text", window=4, key_len=20, max_dist=10
    ).collect()
    got = {(r.id_a, r.id_b): (r.lev, r.sim) for r in out}
    texts = dict(rows)
    for (a, b), (lev, sim) in got.items():
        assert lev == _lev(texts[a], texts[b])
        mx = max(len(texts[a]), len(texts[b]))
        assert sim == round(1.0 - lev / mx, 6)
    assert got[(1, 2)][0] == 0 and got[(1, 2)][1] == 1.0
    # jumps -> jumped: substitute s->e + insert d
    assert got[(1, 3)][0] == 2 and got[(2, 3)][0] == 2
    assert not any(4 in p for p in got), "length prefilter must prune doc 4"
    assert not any(5 in p for p in got), "unrelated text exceeds max_dist"
    dedup.release_caches()


def test_dup_span_profile_merges_overlapping_windows(spark):
    """x124: a 10-token run shared by two docs yields ONE maximal span
    of exactly 10 tokens in each (the three overlapping 8-gram hits
    merge), a doc sharing nothing reports zeros, and within-doc
    repetition alone does NOT count as duplication."""
    from go_fish_spark.operators import dedup

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    rows = [
        (1, "u1 u2 " + shared + " u3 u4"),          # 14 tokens, run at 3-12
        (2, shared + " v1 v2 v3"),                   # 13 tokens, run at 1-10
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),   # nothing shared
        (4, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),  # self-repeat
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.dup_span_profile(
        df, "doc_id", "text", k=8).collect()}
    assert out[1].n_tokens == 14 and out[2].n_tokens == 13
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 10
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 10
    assert out[1].dup_frac == round(10 / 14, 6)
    assert out[2].dup_frac == round(10 / 13, 6)
    assert out[3].n_dup_spans == 0 and out[3].dup_tokens == 0
    assert out[4].n_dup_spans == 0, "within-doc repeats are x22's signal"
    # sub-k docs must not fabricate phantom windows (the sequence(1,0)
    # descending pitfall)
    tiny = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    t = {r.doc_id: r for r in dedup.dup_span_profile(
        tiny, "doc_id", "text", k=8).collect()}
    assert t[1].n_dup_spans == 0 and t[1].dup_tokens == 0


def test_moore_lewis_ranks_in_domain_vocabulary(spark):
    """x122: docs written in the in-domain slice's vocabulary outrank
    general-corpus docs; a smoothed score exists for every doc (even
    tokens unseen in-domain), and the mean-lr identity holds for a
    single-token doc."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.ngrams import moore_lewis_score

    rows = [
        (1, "alpha beta gamma alpha beta", "seed"),
        (2, "alpha gamma beta beta alpha", "seed"),
        (3, "alpha beta gamma beta", "web"),    # in-domain-looking
        (4, "delta epsilon zeta delta eta", "web"),
        (5, "epsilon zeta eta delta zeta", "web"),
        (6, "gamma", "web"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.doc_id: r for r in moore_lewis_score(
        df, "doc_id", "text", F.col("source") == "seed").collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[1].in_domain and not out[3].in_domain
    # in-domain-vocabulary doc 3 must outrank general docs 4/5
    assert out[3].ml_score > out[4].ml_score
    assert out[3].ml_score > out[5].ml_score
    # single-token doc: score == that token's lr, computable by hand
    import math

    v = len({t for _, tx, _ in rows for t in tx.split()})
    c_in = sum(tx.split().count("gamma") for _, tx, s in rows if s == "seed")
    c_all = sum(tx.split().count("gamma") for _, tx, _ in rows)
    n_in = sum(len(tx.split()) for _, tx, s in rows if s == "seed")
    n_all = sum(len(tx.split()) for _, tx, _ in rows)
    lr = round(
        math.log((c_in + 0.5) / (n_in + 0.5 * v))
        - math.log((c_all + 0.5) / (n_all + 0.5 * v)),
        12,
    )
    assert out[6].ml_score == round(lr, 9)


def test_centroid_silhouette_separates_clusters(spark):
    """x125: two tight, well-separated label clusters score a mean
    silhouette near 1; collapsing them onto one point drives the score
    to ~0 (a == b is impossible; entangled labels -> b barely above a)."""
    import random

    from go_fish_spark.operators.similarity import centroid_silhouette

    rng = random.Random(7)

    def jit(base):
        return [v + rng.uniform(-0.02, 0.02) for v in base]

    rows = [(i, 0, jit([1.0, 0.0, 0.0, 0.0])) for i in range(20)]
    rows += [(100 + i, 1, jit([0.0, 1.0, 0.0, 0.0])) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    df = df.selectExpr(
        "vec_id", "label", "CAST(embedding AS ARRAY<FLOAT>) AS embedding"
    )
    out = {r.label: r for r in centroid_silhouette(
        df, "vec_id", "label", "embedding", 4).collect()}
    assert out[0].n == 20 and out[1].n == 20
    assert out[0].mean_silhouette > 0.9
    assert out[1].mean_silhouette > 0.9
    # entangled: both labels drawn from the SAME blob
    rows2 = [(i, i % 2, jit([0.5, 0.5, 0.0, 0.0])) for i in range(40)]
    df2 = spark.createDataFrame(rows2, ["vec_id", "label", "embedding"])
    df2 = df2.selectExpr(
        "vec_id", "label", "CAST(embedding AS ARRAY<FLOAT>) AS embedding"
    )
    out2 = {r.label: r for r in centroid_silhouette(
        df2, "vec_id", "label", "embedding", 4).collect()}
    assert abs(out2[0].mean_silhouette) < 0.3
    assert abs(out2[1].mean_silhouette) < 0.3


def test_hard_negative_topk_label_constraint(spark):
    """x127: every mined negative carries a different label than its
    query, ranks follow cos desc with vec_id tie-break, and the row
    count per query is min(k, |other-label corpus|)."""
    import random

    from go_fish_spark.operators.similarity import hard_negative_topk

    rng = random.Random(3)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    df = df.selectExpr(
        "vec_id", "label", "CAST(embedding AS ARRAY<FLOAT>) AS embedding"
    )
    out = hard_negative_topk(
        df, df.filter("vec_id < 3"), k=5
    ).collect()
    by_q = {}
    for r in out:
        assert r.neg_label != r.query_label
        by_q.setdefault(r.query_id, []).append(r)
    for q, lst in by_q.items():
        lst.sort(key=lambda r: r.rank)
        assert len(lst) == 5
        cos_seq = [r.cos for r in lst]
        assert cos_seq == sorted(cos_seq, reverse=True)


def test_pack_purity_histogram_accounting(spark):
    """x128: the histogram accounts for every pack and every token; an
    all-one-source corpus lands entirely in (n_sources=1, bin 9)."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.chunking import (
        pack_documents,
        pack_purity_profile,
    )

    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(40)),
         "a" if i % 4 else "b")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    hist = pack_purity_profile(
        df, "doc_id", "text", "source", capacity=100, n_shards=4
    ).collect()
    packs = pack_documents(df, "doc_id", "text", capacity=100, n_shards=4)
    n_packs = packs.select("shard", "pack_id").distinct().count()
    total_tokens = 60 * 40
    assert sum(r.n_packs for r in hist) == n_packs
    assert sum(r.tok_total for r in hist) == total_tokens
    assert all(0 <= r.purity_bin <= 9 for r in hist)
    mono = df.withColumn("source", F.lit("only"))
    h1 = pack_purity_profile(
        mono, "doc_id", "text", "source", capacity=100, n_shards=4
    ).collect()
    assert len(h1) == 1
    assert h1[0].n_sources == 1 and h1[0].purity_bin == 9


def test_zipf_fit_slope_on_synthetic_power_law(spark):
    """x129: an exact 1/rank frequency corpus fits slope ≈ −1 with
    R² ≈ 1; a uniform-frequency corpus fits slope 0 (every token the
    same count) with R² = 0."""
    from go_fish_spark.operators.profile import zipf_fit

    zipf_tokens = []
    for rank in range(1, 51):
        zipf_tokens += [f"w{rank:03d}"] * (600 // rank)
    uni_tokens = [f"u{i:03d}" for i in range(50)] * 12
    df = spark.createDataFrame(
        [(1, " ".join(zipf_tokens), "zipf"), (2, " ".join(uni_tokens), "flat")],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in zipf_fit(df, "source", "text", 50).collect()}
    assert out["zipf"].n_terms == 50 and out["flat"].n_terms == 50
    assert -1.1 < out["zipf"].slope < -0.9
    assert out["zipf"].r2 > 0.99
    assert abs(out["flat"].slope) < 1e-9
    assert out["flat"].r2 == 0.0


def test_robust_scale_median_mad_goldens(spark):
    """x130: hand-checkable median/MAD/z on a 5-value group; a constant
    group yields MAD 0 and NULL z for every member."""
    from go_fish_spark.operators.sampling import robust_scale

    rows = [(i + 1, "g", v) for i, v in enumerate([1, 2, 3, 4, 100])]
    rows += [(10 + i, "const", 7) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = {r.doc_id: r for r in robust_scale(
        df, "source", "doc_id", "n_chars").collect()}
    assert out[3].med == 3.0 and out[3].mad == 1.0
    assert out[3].robust_z == 0.0
    assert out[5].robust_z == round(97 / 1.4826, 9)
    assert out[1].robust_z == round(-2 / 1.4826, 9)
    for i in range(10, 14):
        assert out[i].mad == 0.0 and out[i].robust_z is None


def test_distinct_ngram_diversity_flags_template_collapse(spark):
    """x132: a mode-collapsed (single repeated template) source scores
    far lower distinct-1/2 than a fully diverse one; an all-single-token
    group reports NULL distinct_2."""
    from go_fish_spark.operators.ngrams import distinct_ngram_diversity

    template = "the weather today is nice and sunny again"
    rows = [(i, template, "collapsed") for i in range(10)]
    rows += [
        (100 + i, " ".join(f"u{i}_{j}" for j in range(8)), "diverse")
        for i in range(10)
    ]
    rows += [(200, "solo", "tiny"), (201, "loner", "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in distinct_ngram_diversity(
        df, "source", "text").collect()}
    c, d, t = out["collapsed"], out["diverse"], out["tiny"]
    assert c.n_tokens == 80 and c.n_types == 8
    assert d.distinct_1 == 1.0 and d.distinct_2 == 1.0
    assert c.distinct_1 == round(8 / 80, 9)
    assert c.distinct_2 == round(7 / 70, 9)
    assert c.distinct_2 < d.distinct_2
    assert t.n_bigrams == 0 and t.distinct_2 is None


def test_code_likeness_separates_code_from_prose(spark):
    """x133: a code snippet scores far above prose, counts are exact,
    and the empty doc is guarded (no divide-by-zero)."""
    from pyspark.sql import functions as F

    from go_fish_spark.functions import text as tx

    code = "def f(x): return (x + 1) * g[0]; // if x == null { x = 0; }"
    prose = "the quick brown fox jumps over the lazy dog and runs away"
    df = spark.createDataFrame(
        [(1, code), (2, prose), (3, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        tx.code_symbol_count("text").alias("sym"),
        tx.code_keyword_hits("text").alias("kw"),
        tx.code_likeness("text").alias("score"),
    ).collect()}
    assert out[1].sym == sum(code.count(c) for c in tx.CODE_SYMBOLS)
    assert out[1].kw == len(
        set(code.split()) & set(tx.CODE_KEYWORDS)
    )
    assert out[2].sym == 0 and out[2].kw == 0 and out[2].score == 0.0
    assert out[3].score == 0.0
    assert out[1].score > 0.8 > 0.2 > out[2].score


def test_hill_tail_index_pareto_vs_light(spark):
    """x134: on exact Pareto(α) order statistics the estimator matches
    the hand-computed H (same round-12/decimal arithmetic), heavy tails
    score lower α than light tails, and degenerate groups are guarded
    (k' = n−1 truncation; NULL for single-value groups)."""
    import math
    from decimal import Decimal

    from go_fish_spark.operators.profile import hill_tail_index

    alpha = 1.5
    n = 60
    heavy = [round(1000 * (n / i) ** (1 / alpha)) for i in range(1, n + 1)]
    light = [1000 - 5 * i for i in range(n)]
    rows = [(i, "heavy", v) for i, v in enumerate(heavy)]
    rows += [(1000 + i, "light", v) for i, v in enumerate(light)]
    rows += [(2000, "single", 7)]
    rows += [(3000, "pair", 100), (3001, "pair", 10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = {r.source: r for r in hill_tail_index(
        df, "source", "n_chars", k=20).collect()}
    # hand-compute H for the heavy group exactly as the operator does
    xs = sorted((float(v) for v in heavy), reverse=True)
    terms = [round(math.log(xs[i] / xs[20]), 12) for i in range(20)]
    s = sum(Decimal(repr(t)) for t in terms)
    h = float(s) / 20
    assert out["heavy"].hill_h == round(h, 9)
    assert out["heavy"].hill_alpha == round(1 / h, 9)
    assert 1.2 < out["heavy"].hill_alpha < 1.9  # near the true 1.5
    assert out["light"].hill_alpha > out["heavy"].hill_alpha
    assert out["single"].k_used == 0 and out["single"].hill_alpha is None
    assert out["pair"].k_used == 1
    assert out["pair"].hill_h == round(
        round(math.log(100 / 10), 12), 9
    )


def test_shared_history_labels_cached_and_released(spark):
    """r9: the day-1 label frame joins the session-cache family — same
    object on re-use within a session, cleared + unpersisted by
    release_session_caches(), and row-identical to a direct recompute."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup as d
    from go_fish_spark.operators.graph import connected_components
    from go_fish_spark.queries.extensions import _shared

    _shared.release_session_caches()
    f1 = _shared.shared_history_labels(spark, SF_SMALL, threshold=0.35)
    f2 = _shared.shared_history_labels(spark, SF_SMALL, threshold=0.35)
    assert f1 is f2
    assert len(_shared._LABEL_FRAMES) == 1
    hist = table(spark, SF_SMALL, "documents").filter(
        ~(F.col("doc_id") % 7 == 0)
    )
    pairs = d.minhash_lsh_pairs(
        hist, "doc_id", "text", threshold=0.35, portable=True
    )
    want = sorted(
        (r["id"], r["component"])
        for r in connected_components(
            hist.select("doc_id"), pairs, id_col="doc_id"
        ).collect()
    )
    got = sorted((r["id"], r["component"]) for r in f1.collect())
    assert got == want
    _shared.release_session_caches()
    assert len(_shared._LABEL_FRAMES) == 0
    assert not f1.storageLevel.useMemory
    d.release_caches()


def test_cli_profile_corpus(tmp_path, spark):
    """profile-corpus emits one JSON data card with every audit section
    populated and internally consistent. Subprocess like the other CLI
    tests — the command owns (and stops) its Spark session."""
    import json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "card.json")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "profile-corpus",
         f"{SF_SMALL}/documents.parquet",
         "--hill-k", "10", "--zipf-top-n", "50", "--out", out,
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    card = json.load(open(out))
    assert set(card) == {
        "totals", "sources", "zipf", "diversity", "length_tail"
    }
    assert card["totals"]["n_docs"] > 0
    srcs = {s["source"] for s in card["sources"]}
    assert srcs == {z["source"] for z in card["zipf"]}
    assert srcs == {d["source"] for d in card["diversity"]}
    assert abs(sum(s["doc_share"] for s in card["sources"]) - 1.0) < 1e-3
    assert sum(s["n_docs"] for s in card["sources"]) == card["totals"]["n_docs"]
    for z in card["zipf"]:
        assert z["slope"] < 0  # natural-ish text


def test_robust_scale_fit_apply_parity_and_stream(spark, tmp_path):
    """The fit/apply split reproduces robust_scale exactly on the
    fitting corpus, scores a live micro-batch stream with the frozen
    stats (pure per-row arithmetic — no state), and passes unknown
    groups through with NULL z."""
    import os

    import pyspark.sql.types as T

    from go_fish_spark.operators.sampling import (
        apply_robust_scale,
        robust_scale,
        robust_scale_stats,
    )

    rows = [(i, "a" if i % 2 else "b", float(3 * i % 17)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars double")
    stats = robust_scale_stats(df, "source", "n_chars")
    got = sorted(
        tuple(r) for r in apply_robust_scale(
            df, stats, "source", "doc_id", "n_chars").collect()
    )
    want = sorted(tuple(r) for r in robust_scale(
        df, "source", "doc_id", "n_chars").collect())
    assert got == want
    # streaming arm: frozen stats score a file-source micro-batch
    src = str(tmp_path / "in"); os.makedirs(src)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.DoubleType()),
    ])
    spark.createDataFrame(
        [(100, "a", 5.0), (101, "zz", 7.0)], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    scored = apply_robust_scale(stream, stats, "source", "doc_id", "n_chars")
    assert scored.isStreaming
    q = (scored.writeStream.format("memory").queryName("rs_stream")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    out = {r.doc_id: r for r in spark.sql("SELECT * FROM rs_stream").collect()}
    batch = {r.doc_id: r for r in apply_robust_scale(
        spark.read.parquet(src), stats, "source", "doc_id", "n_chars"
    ).collect()}
    assert out[100].robust_z == batch[100].robust_z
    assert out[101].robust_z is None and out[101].med is None


def test_score_auc_exact_rank_arithmetic(spark):
    """x135: hand-checkable AUCs — perfect separation = 1.0, inverted
    = 0.0, ties share average ranks (the 0.5-contribution rule), and
    one-class groups report NULL."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.profile import score_auc

    rows = [
        # perfect: all positives above all negatives
        ("sep", 0.9, True), ("sep", 0.8, True),
        ("sep", 0.2, False), ("sep", 0.1, False),
        # inverted
        ("inv", 0.9, False), ("inv", 0.1, True),
        # one tie across classes: AUC = (1 pair won + 0.5 tie)/2
        ("tie", 0.5, True), ("tie", 0.5, False), ("tie", 0.1, False),
        # single class
        ("mono", 0.7, True), ("mono", 0.3, True),
    ]
    df = spark.createDataFrame(rows, ["source", "s", "y"])
    out = {r.source: r for r in score_auc(
        df, "source", F.col("s"), F.col("y")).collect()}
    assert out["sep"].auc == 1.0
    assert out["inv"].auc == 0.0
    assert out["tie"].auc == 0.75  # (1 + 0.5) / (1*2)
    assert out["mono"].auc is None
    assert out["sep"].n == 4 and out["sep"].n_pos == 2


def test_top_p_token_mass_nucleus_semantics(spark):
    """x136: the kept prefix always covers >= p of the group's tokens,
    is minimal (dropping its last doc goes under p), follows score-desc
    order, and a single-giant-doc group keeps the giant."""
    from go_fish_spark.operators.sampling import top_p_token_mass

    rows = [
        (1, "a", 1.0, "t " * 50), (2, "a", 0.9, "t " * 30),
        (3, "a", 0.8, "t " * 20),
        (10, "g", 1.0, "x " * 100), (11, "g", 0.9, "x"),
    ]
    df = spark.createDataFrame(
        [(i, s, q, t.strip()) for i, s, q, t in rows],
        ["doc_id", "source", "q", "text"],
    )
    out = {r.doc_id: r for r in top_p_token_mass(
        df, "source", "q", "doc_id", "text", p=0.6).collect()}
    # group a: total 100, target 60 -> doc1 (50) kept, doc2 crosses
    # (cum_before 50 < 60 -> kept), doc3 (cum_before 80) dropped
    assert out[1].keep and out[2].keep and not out[3].keep
    kept_mass = sum(out[i].n_tokens for i in (1, 2))
    assert kept_mass >= 0.6 * 100
    assert kept_mass - out[2].n_tokens < 0.6 * 100  # minimal prefix
    # group g: the giant covers everything; the tail doc is dropped
    assert out[10].keep and not out[11].keep


def test_incremental_merge_changed_emit(spark):
    """emit='changed' returns exactly the upsert set: the batch plus
    relabeled old members; applying it as a patch over the old table
    reproduces emit='full'."""
    from go_fish_spark.operators.audit import incremental_audit_merge

    old = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (20, 20)],
        "id long, component long",
    )
    delta = spark.createDataFrame([(30,), (31,)], "id long")
    pairs = spark.createDataFrame([(2, 30), (30, 11)], "id_a long, id_b long")
    full = {
        r["id"]: r["component"]
        for r in incremental_audit_merge(old, delta, pairs).collect()
    }
    changed = {
        r["id"]: r["component"]
        for r in incremental_audit_merge(
            old, delta, pairs, emit="changed"
        ).collect()
    }
    # the upsert set: batch docs 30/31 + relabeled members of component 10
    assert changed == {10: 1, 11: 1, 30: 1, 31: 31}
    patched = {r["id"]: r["component"] for r in old.collect()}
    patched.update(changed)
    assert patched == full
    import pytest

    with pytest.raises(ValueError):
        incremental_audit_merge(old, delta, pairs, emit="nope")


def test_ks_drift_goldens(spark):
    """x137: identical distributions score KS = 0; disjoint supports
    score 1; a hand-computed shifted case matches; the grid evaluates
    gaps at values a group lacks (the sup can land there)."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.profile import ks_drift

    rows = []
    # 'same' and 'ref' share one distribution -> ks('same') vs rest
    # includes 'far', so compare a controlled pair instead:
    # ref: values {1,2}x5 each; shift: {2,3}x5 each; far: {9}x10
    rows += [("ref", v) for v in [1.0] * 5 + [2.0] * 5]
    rows += [("shift", v) for v in [2.0] * 5 + [3.0] * 5]
    df2 = spark.createDataFrame(rows, ["source", "s"])
    out2 = {r.source: r for r in ks_drift(df2, "source", "s").collect()}
    # ref vs shift: F_ref(1)=.5, F_shift(1)=0 -> gap .5; at 2: 1 vs .5
    assert out2["ref"].ks == 0.5 and out2["shift"].ks == 0.5
    df3 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 9.0), ("b", 8.0)], ["source", "s"]
    )
    out3 = {r.source: r for r in ks_drift(df3, "source", "s").collect()}
    assert out3["a"].ks == 1.0 and out3["b"].ks == 1.0
    # a group that IS the corpus -> NULL
    df1 = spark.createDataFrame([("only", 1.0), ("only", 2.0)], ["source", "s"])
    assert ks_drift(df1, "source", "s").collect()[0].ks is None


def test_embedding_spectrum_known_structures(spark):
    """x138: rank-1 data puts ~all variance in one direction
    (top1_share → 1, effective_rank → 1); isotropic data spreads it
    (top1_share small, effective_rank near dim); a constant corpus has
    zero variance (None shares) and centroid_share = 1."""
    import random

    from go_fish_spark.operators.profile import embedding_spectrum_audit

    rng = random.Random(11)
    dim = 8
    direction = [1.0, -1.0, 0.5, 0.0, 0.25, -0.5, 0.75, -0.25]

    def mk(rows):
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        return df.selectExpr(
            "vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding"
        )

    scales = [rng.gauss(0, 1) for _ in range(50)]
    rank1 = mk([
        (i, [scales[i] * d for d in direction]) for i in range(50)
    ])
    m1 = embedding_spectrum_audit(rank1, "embedding", dim)
    assert m1["top1_share"] > 0.999
    assert m1["effective_rank"] < 1.2
    iso = mk([
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(300)
    ])
    m2 = embedding_spectrum_audit(iso, "embedding", dim)
    assert m2["top1_share"] < 0.35
    assert m2["effective_rank"] > 6.0
    assert m2["centroid_share"] < 0.1
    const = mk([(i, direction) for i in range(10)])
    m3 = embedding_spectrum_audit(const, "embedding", dim)
    assert m3["top1_share"] is None and m3["total_var"] == 0.0
    assert m3["centroid_share"] == 1.0
