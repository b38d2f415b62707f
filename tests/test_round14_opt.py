"""Round-14 OPTIMIZATION tests: the footer-statistics fast paths in the
store kernel must be row-for-row equivalent to the Spark scan arms they
replace, and the single-action spectrum sums must equal the two-action
form's. Each test drives both arms over the same on-disk store and
compares outcomes exactly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_fish_spark.streaming import storekernel as sk


def _mk_store(spark, tmp_path, n_shards=4):
    """Three stamped sharded appends over ids 0..59 (the kernel append
    shape: constant _batch_id per file, shard partition dirs)."""
    from go_fish_spark.sources.sharding import with_shard

    store = os.path.join(str(tmp_path), "store")
    for b in range(3):
        df = (
            spark.range(b * 20, b * 20 + 20)
            .select(
                F.col("id").cast("long").alias("id"),
                (F.col("id") * 10 + b).cast("long").alias("val"),
            )
        )
        (
            with_shard(df, "id", n_shards)
            .withColumn("_batch_id", F.lit(b))
            .repartition("shard")
            .write.mode("append")
            .partitionBy("shard")
            .parquet(store)
        )
    return store


def test_file_footer_batch_reads_constant_stamp(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    seen = set()
    for shard, f in sk._key_dir_files(store, "shard"):
        b, ok = sk._file_footer_batch(f)
        assert ok and b is not None
        seen.add(b)
    assert seen == {0, 1, 2}


def _scan_arm_prune(spark, path, covered, key_col, covered_by_key):
    """Force the original Spark scan arm by making the footer arm
    decline (monkeypatch-free: call with a transient stats-breaker is
    fragile, so temporarily swap the footer fn)."""
    orig = sk._prune_covered_files_footer
    sk._prune_covered_files_footer = lambda *a, **k: None
    try:
        return sk.prune_covered_files(
            spark, path, covered, key_col=key_col,
            covered_by_key=covered_by_key,
        )
    finally:
        sk._prune_covered_files_footer = orig


def _surviving(path):
    out = []
    for dirpath, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), path)
                )
    return sorted(out)


@pytest.mark.parametrize("covered_by_key", [None, {"0": 1, "1": 0}])
def test_footer_prune_matches_scan(spark, tmp_path, covered_by_key):
    a = _mk_store(spark, tmp_path / "a")
    b = _mk_store(spark, tmp_path / "b")
    # same file population in both clones (writes are deterministic in
    # content; names differ — compare by (shard dir, footer batch))
    na = sk.prune_covered_files(
        spark, a, 0, key_col="shard", covered_by_key=covered_by_key
    )
    nb = _scan_arm_prune(spark, b, 0, "shard", covered_by_key)
    assert na == nb

    def keyed(path):
        return sorted(
            (os.path.dirname(rel), sk._file_footer_batch(
                os.path.join(path, rel))[0])
            for rel in _surviving(path)
        )

    assert keyed(a) == keyed(b)


def test_footer_prune_falls_back_for_data_column_key(spark, tmp_path):
    # key_col that is a real DATA column (non-partition): the scan arm's
    # uniqueness guard must still raise — the footer arm must decline.
    p = os.path.join(str(tmp_path), "flatkey")
    (
        spark.range(10)
        .select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("k"),
            F.lit(0).cast("long").alias("_batch_id"),
        )
        .coalesce(1)
        .write.parquet(p)
    )
    with pytest.raises(ValueError, match="not\\s+constant|refusing to prune"):
        sk.prune_covered_files(
            spark, p, 5, key_col="k", covered_by_key={"0": 5}
        )


def _scan_covered(spark, store, man, committed, sel, n_shards=4):
    cut = (
        F.col("_batch_id") <= int(committed) if committed is not None else None
    )
    live = sk.live_keyed_rows(spark, store, extra_filter=cut)
    if live is None:
        return None
    if sel is not None:
        live = live.filter(F.col("shard").isin(sorted(sel)))
    return live.agg(F.max("_batch_id").alias("m")).collect()[0]["m"]


@pytest.mark.parametrize(
    "committed,sel",
    [(None, None), (1, None), (None, [0, 1]), (2, [0])],
)
def test_covered_from_footers_matches_scan(spark, tmp_path, committed, sel):
    store = _mk_store(spark, tmp_path)
    man = sk.read_store_manifest(store)
    assert man is None
    fast, ok = sk._covered_from_footers(store, man, committed, sel)
    assert ok
    assert fast == _scan_covered(spark, store, man, committed, sel)


def test_covered_from_footers_after_fold(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    # selective fold of shards 0-1, then one more append — the footer
    # covered must honor the per-shard cut map exactly like the scan
    n = sk.compact_keyed_store(
        spark, store, key_cols=["id"], shard_key="id", n_shards=4,
        shards=[0, 1],
    )
    assert n > 0
    from go_fish_spark.sources.sharding import with_shard

    (
        with_shard(
            spark.range(100, 110).select(
                F.col("id").cast("long").alias("id"),
                F.lit(7).cast("long").alias("val"),
            ),
            "id", 4,
        )
        .withColumn("_batch_id", F.lit(5))
        .repartition("shard")
        .write.mode("append")
        .partitionBy("shard")
        .parquet(store)
    )
    man = sk.read_store_manifest(store)
    for committed, sel in [(None, None), (5, [0, 1, 2]), (None, [1])]:
        fast, ok = sk._covered_from_footers(store, man, committed, sel)
        assert ok
        assert fast == _scan_covered(spark, store, man, committed, sel)


def test_compact_keyed_store_footer_fold_roundtrip(spark, tmp_path):
    """End-to-end: a fold on the footer fast path reads back exactly the
    latest-wins rows (the x163-family invariant at unit scale)."""
    store = _mk_store(spark, tmp_path)
    sk.compact_keyed_store(
        spark, store, key_cols=["id"], shard_key="id", n_shards=4
    )
    man = sk.read_store_manifest(store)
    assert man is not None and man["covered_max_batch"] == 2
    live = sk.live_keyed_rows(spark, store)
    rows = {
        r["id"]: r["val"]
        for r in sk.latest_wins(
            live, ["id"], [F.col("val").asc()], ["id", "val"]
        ).collect()
    }
    assert rows == {i: i * 10 + (i // 20) for i in range(60)}


def test_shared_fits_cached_and_identical(spark):
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import similarity
    from go_fish_spark.queries.extensions._shared import (
        release_session_caches,
        shared_ivfpq,
        shared_quantizer,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "embeddings.parquet")):
        pytest.skip("testdata missing")
    release_session_caches()
    q1 = shared_quantizer(spark, sf, 4)
    q2 = shared_quantizer(spark, sf, 4)
    assert q1 is q2  # session-cached: same fit object
    direct = similarity.fit_quantizer_det(
        table(spark, sf, "embeddings"), "vec_id", "embedding", 4
    )
    import numpy as np

    assert np.array_equal(q1._centers, direct._centers)
    c1, p1 = shared_ivfpq(spark, sf, n_cells=4, m=4, ksub=4)
    c2, p2 = shared_ivfpq(spark, sf, n_cells=4, m=4, ksub=4)
    assert c1 is c2 and p1 is p2
    release_session_caches()
    q3 = shared_quantizer(spark, sf, 4)
    assert q3 is not q1 and np.array_equal(q3._centers, q1._centers)


def test_spectrum_single_action_matches_duck(spark):
    """The merged one-action sum pipeline still matches the oracle-arm
    DuckDB sums → same metrics (the x138 cross-engine contract)."""
    from go_fish_spark.operators.profile import (
        _spectrum_metrics,
        duck_spectrum_sums,
        embedding_spectrum_audit,
    )

    sf = "/root/testdata/sf0.001"
    path = os.path.join(sf, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip("testdata missing")
    from go_fish_spark.catalog import table

    dim = 64
    m_spark = embedding_spectrum_audit(
        table(spark, sf, "embeddings"), "embedding", dim,
        id_col="vec_id", max_fit=200,
    )
    n, sx, sxx = duck_spectrum_sums(
        path, "embedding", dim, id_col="vec_id", max_fit=200
    )
    m_duck = _spectrum_metrics(n, sx, sxx, dim)
    assert m_spark == m_duck


def _snm_multikey_reference(df, id_col, text_col, window, key_len,
                            threshold, k, keys):
    """The pre-r14 multi-key SNM shape: one full rank pipeline PER key,
    candidate union, cross-pass dedupe, one verification join — kept
    here as the equivalence reference for the single-rank rewrite."""
    from go_fish_spark.operators.dedup import (
        _persist,
        _snm_key_expr,
        word_shingles,
    )
    from go_fish_spark.operators.sampling import value_bucketed_rank

    d = df.sparkSession.range(1, window + 1).select(
        F.col("id").alias("_d")
    )
    shingles = _persist(
        df.select(
            F.col(id_col).alias("_id"),
            word_shingles(text_col, k).alias("_sh"),
        )
    )
    cand = None
    for kind in keys:
        base = df.select(
            F.col(id_col).alias("_id"),
            _snm_key_expr(text_col, kind, key_len).alias("_key"),
        )
        ranked = value_bucketed_rank(
            base, F.substring("_key", 1, 1), ["_key", "_id"], out="_r"
        ).select("_id", "_r")
        a = ranked.select(
            F.col("_id").alias("_ida"), F.col("_r").alias("_ra")
        ).crossJoin(F.broadcast(d))
        b = ranked.select(
            F.col("_id").alias("_idb"), F.col("_r").alias("_rb")
        )
        p = a.join(b, F.col("_ra") + F.col("_d") == F.col("_rb")).select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        cand = p if cand is None else cand.unionByName(p)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    inter = F.size(F.array_intersect("_sha", "_shb"))
    denom = F.size("_sha") + F.size("_shb") - inter
    jac = F.when(denom > 0, inter / denom)
    return (
        cand.join(
            shingles.select(
                F.col("_id").alias("id_a"), F.col("_sh").alias("_sha")
            ),
            "id_a",
        )
        .join(
            shingles.select(
                F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")
            ),
            "id_b",
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(
            (F.col("jaccard") >= threshold) & F.col("jaccard").isNotNull()
        )
        .orderBy("id_a", "id_b")
    )


def test_snm_single_rank_matches_per_kind_loop(spark):
    """The r14 single-rank multi-key SNM must produce EXACTLY the
    per-kind loop's verified pairs — including on rows with NULL/empty/
    colliding sort keys and sub-k-token texts (NULL-jaccard drops)."""
    from go_fish_spark.operators.dedup import (
        _SNM_KEYS,
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "zeta epsilon delta gamma beta alpha"),
        (4, "gamma beta alpha delta zeta epsilon"),
        (5, ""),                       # empty text → empty key
        (6, "   "),                    # whitespace → empty key
        (7, None),                     # NULL text → NULL key
        (8, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (9, "short doc"),              # sub-k tokens → empty shingles
        (10, "short doc"),
        (11, "omega psi chi phi upsilon tau"),
        (12, "tau upsilon phi chi psi omega"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted_neighborhood_pairs(
        df, "doc_id", "text", window=3, key_len=10, threshold=0.2,
        keys=_SNM_KEYS,
    ).collect()
    want = _snm_multikey_reference(
        df, "doc_id", "text", window=3, key_len=10, threshold=0.2,
        k=3, keys=_SNM_KEYS,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0  # the corpus must actually exercise the path


def test_snm_single_rank_matches_on_corpus(spark):
    """Same equivalence over the real sf0.001 documents corpus at the
    x119 parameters."""
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("testdata missing")
    from go_fish_spark.catalog import table
    from go_fish_spark.operators.dedup import (
        _SNM_KEYS,
        sorted_neighborhood_pairs,
    )

    docs = table(spark, sf, "documents")
    got = sorted_neighborhood_pairs(
        docs, "doc_id", "text", window=3, key_len=20, threshold=0.3,
        keys=_SNM_KEYS,
    ).collect()
    want = _snm_multikey_reference(
        docs, "doc_id", "text", window=3, key_len=20, threshold=0.3,
        k=3, keys=_SNM_KEYS,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0


def test_blocking_cost_stats_matches_inline_pricing(spark):
    """choose_blocking(stats=blocking_cost_stats(...)) must equal the
    inline-priced plan exactly (same costs, same decision), and the
    sigs-fed histogram must equal the text-path histogram."""
    from go_fish_spark.operators.dedup import (
        blocking_cost_stats,
        choose_blocking,
        minhash_signature,
    )

    rows = [(i, f"alpha beta gamma doc {i} {'dup' if i % 3 == 0 else i}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    inline = choose_blocking(
        df, "doc_id", "text", min_recall=0.2, pair_budget=10**6,
        threshold=0.35, portable=True,
    )
    stats = blocking_cost_stats(df, "text", portable=True)
    pre = choose_blocking(
        df, "doc_id", "text", min_recall=0.2, pair_budget=10**6,
        threshold=0.35, portable=True, stats=stats,
    )
    assert inline == pre
    sigs = df.select(
        F.col("doc_id").alias("_id"),
        minhash_signature("text", 64, 3, 42, True).alias("_sig"),
    )
    stats_sigs = blocking_cost_stats(df, "text", portable=True, sigs=sigs)
    assert stats_sigs == stats


def test_shared_blocking_stats_cached(spark):
    """shared_blocking_stats returns the SAME dict object within a
    session (one pricing job) and refits after release."""
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("testdata missing")
    from go_fish_spark.queries.extensions._shared import (
        release_session_caches,
        shared_blocking_stats,
    )

    release_session_caches()
    s1 = shared_blocking_stats(spark, sf, portable=True)
    s2 = shared_blocking_stats(spark, sf, portable=True)
    assert s1 is s2
    release_session_caches()
    s3 = shared_blocking_stats(spark, sf, portable=True)
    assert s3 is not s1 and s3 == s1


def test_split_leakage_shared_pairs_matches_inline(spark):
    """split_leakage(pairs=<precomputed>) must equal the inline-pair
    form row for row (the x45 shared-frame contract)."""
    from go_fish_spark.operators.decontam import split_leakage
    from go_fish_spark.operators.dedup import ngram_jaccard_pairs
    from go_fish_spark.operators.sampling import split_assign

    rows = [
        (i, "alpha beta gamma delta epsilon " + ("dup" if i % 4 == 0 else str(i)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    split = split_assign("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    inline = split_leakage(
        df, "doc_id", "text", split, k=3, threshold=0.3
    ).orderBy("id_a", "id_b").collect()
    pre = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.3)
    shared = split_leakage(
        df, "doc_id", "text", split, k=3, threshold=0.3, pairs=pre
    ).orderBy("id_a", "id_b").collect()
    assert [tuple(r) for r in shared] == [tuple(r) for r in inline]
    assert len(inline) > 0


def test_shared_containment_pairs_cached_and_equal(spark):
    """shared_containment_pairs serves ONE persisted frame per session
    and equals the direct containment_pairs output exactly."""
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("testdata missing")
    from go_fish_spark.catalog import table
    from go_fish_spark.operators.dedup import containment_pairs
    from go_fish_spark.queries.extensions._shared import (
        release_session_caches,
        shared_containment_pairs,
    )

    release_session_caches()
    f1 = shared_containment_pairs(spark, sf, k=3, threshold=0.6)
    f2 = shared_containment_pairs(spark, sf, k=3, threshold=0.6)
    assert f1 is f2
    got = sorted(tuple(r) for r in f1.collect())
    want = sorted(
        tuple(r)
        for r in containment_pairs(
            table(spark, sf, "documents"), "doc_id", "text",
            k=3, threshold=0.6,
        ).collect()
    )
    assert got == want and len(want) > 0
    release_session_caches()


def _mmr_reference(emb, id_col, vec_col, query_id, top_n, k, lam):
    """The pre-r14 MMR shape: each greedy argmax as an in-plan
    round-9 / orderBy / limit(1) collect over the persisted candidate
    and pair frames — kept here as the equivalence reference for the
    driver-side greedy loop."""
    from go_fish_spark.functions.vectors import cosine
    from go_fish_spark.operators.dedup import _persist

    qv = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv")
    )
    cand = _persist(
        emb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            cosine(vec_col, "_qv").alias("_sim_q"),
        )
        .orderBy(F.col("_sim_q").desc(), "_id")
        .limit(int(top_n))
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = _persist(
        a.join(b, F.col("a._id") != F.col("b._id")).select(
            F.col("a._id").alias("_pa"),
            F.col("b._id").alias("_pb"),
            cosine("a._v", "b._v").alias("_sim"),
        )
    )
    lam_f, one_minus = float(lam), 1.0 - float(lam)
    selected, out = [], []
    for rank in range(1, int(k) + 1):
        if not selected:
            pick = cand.select(
                "_id", (F.lit(lam_f) * F.col("_sim_q")).alias("_score")
            )
        else:
            msel = (
                pairs.filter(F.col("_pb").isin(selected))
                .groupBy("_pa")
                .agg(F.max("_sim").alias("_msim"))
            )
            pick = (
                cand.filter(~F.col("_id").isin(selected))
                .join(msel, cand["_id"] == msel["_pa"])
                .select(
                    "_id",
                    (
                        F.lit(lam_f) * F.col("_sim_q")
                        - F.lit(one_minus) * F.col("_msim")
                    ).alias("_score"),
                )
            )
        rows = (
            pick.select("_id", F.round("_score", 9).alias("_score"))
            .orderBy(F.col("_score").desc(), "_id")
            .limit(1)
            .collect()
        )
        if not rows:
            break
        selected.append(rows[0]._id)
        out.append((rank, rows[0]._id, float(rows[0]._score)))
    id_type = emb.schema[id_col].dataType.simpleString()
    return emb.sparkSession.createDataFrame(
        out, f"rank int, {id_col} {id_type}, mmr_score double"
    )


def test_mmr_driver_loop_matches_spark_loop_synthetic(spark):
    """The r14 driver-side MMR greedy loop must match the in-plan
    argmax loop bit-for-bit — including on negative similarities, exact
    duplicate vectors (score ties -> lower id), and k > available
    candidates (early stop)."""
    from go_fish_spark.operators.retrieval import mmr_diversify

    rows = [
        (0, [1.0, 0.0, 0.0]),    # query
        (1, [1.0, 0.0, 0.0]),    # identical to query
        (2, [1.0, 0.0, 0.0]),    # tie with 1 -> lower id first
        (3, [0.0, 1.0, 0.0]),    # orthogonal
        (4, [-1.0, 0.0, 0.0]),   # negative sim to query
        (5, [0.6, 0.8, 0.0]),
        (6, [0.6, -0.8, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_diversify(
        df, "vec_id", "embedding", query_id=0, top_n=6, k=10, lam=0.7
    ).collect()
    want = _mmr_reference(
        df, "vec_id", "embedding", query_id=0, top_n=6, k=10, lam=0.7
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) == 6  # early stop: only 6 candidates for k=10


def test_mmr_driver_loop_matches_spark_loop_corpus(spark):
    """Same equivalence over the real sf0.001 embeddings at the x102
    parameters."""
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "embeddings.parquet")):
        pytest.skip("testdata missing")
    from go_fish_spark.catalog import table
    from go_fish_spark.operators.retrieval import mmr_diversify

    emb = table(spark, sf, "embeddings")
    got = mmr_diversify(
        emb, "vec_id", "embedding", query_id=0, top_n=20, k=8, lam=0.7
    ).collect()
    want = _mmr_reference(
        emb, "vec_id", "embedding", query_id=0, top_n=20, k=8, lam=0.7
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) == 8


def test_mmr_round9_matches_spark_round(spark):
    """The driver loop's HALF_UP round must equal Spark's Round(double,
    9) on a value grid that straddles .5 boundaries at the 9th digit
    and negative values (HALF_UP = away from zero in both engines)."""
    import math

    vals = [
        0.1234567885, -0.1234567885, 0.9999999995, -0.9999999995,
        1.0000000005, 0.0000000005, -0.0000000005, 0.1234567884999,
        0.7 * 0.99999999, -0.3 * 0.333333333, 2.5e-9, -2.5e-9,
        1e-10, -1e-10, 0.0, 1.0, -1.0, 0.123456789,
        math.nextafter(0.1234567885, 0), math.nextafter(0.1234567885, 1),
    ]
    df = spark.createDataFrame(
        [(v,) for v in vals], "x double"
    ).select(F.round("x", 9).alias("r"))
    spark_rounded = [r.r for r in df.collect()]

    from decimal import ROUND_HALF_UP, Decimal

    def _round9(x):
        if x != x or x in (float("inf"), float("-inf")):
            return x
        return float(
            Decimal(repr(x)).quantize(
                Decimal("1E-9"), rounding=ROUND_HALF_UP
            )
        )

    assert spark_rounded == [_round9(v) for v in vals]


def test_kmv_persisted_distinct_matches_unpersisted(spark):
    """kmv_distinct_audit's persisted distinct frame (one explode +
    distinct exchange shared by both arms) must not change a single
    output row vs the unpersisted two-branch shape."""
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("testdata missing")
    from pyspark.sql import Window
    from go_fish_spark.catalog import table
    from go_fish_spark.functions.text import word_shingles
    from go_fish_spark.operators.profile import kmv_distinct_audit

    docs = table(spark, sf, "documents")
    got = kmv_distinct_audit(
        docs, "source", "text", k_shingle=3, k_min=16
    ).orderBy("source").collect()

    # unpersisted reference: the same frames, no shared cache
    sh = docs.select(
        F.col("source").alias("_g"),
        F.explode(word_shingles("text", 3)).alias("_s"),
    ).distinct()
    h = F.conv(F.substring(F.md5("_s"), 1, 8), 16, 10).cast("bigint")
    hashed = sh.select("_g", "_s", h.alias("_h"))
    counts = hashed.groupBy("_g").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("_g").orderBy("_h", "_s")
    kth = (
        hashed.select("_g", "_h", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= 16)
        .groupBy("_g")
        .agg(F.max("_h").alias("_hk"), F.count(F.lit(1)).alias("_nk"))
    )
    est = F.when(
        F.col("_nk") < 16, F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(15)) * F.lit(float(2**32)) / F.col("_hk").cast("double")
    )
    want = (
        counts.join(kth, "_g")
        .select(
            F.col("_g").alias("source"),
            "n_exact",
            F.round(est, 3).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("source")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0


def test_grouped_value_bucketed_rank_matches_per_group_loop(spark):
    """grouped_value_bucketed_rank must equal value_bucketed_rank run
    independently per group — including on tied order keys, NULL bucket
    values, and groups of different sizes (ranks dense 1..n_group)."""
    from go_fish_spark.operators.sampling import (
        grouped_value_bucketed_rank,
        value_bucketed_rank,
    )

    rows = [
        # (group, id, val) — val drives both bucket and order
        ("a", 1, 10), ("a", 2, 10), ("a", 3, 25), ("a", 4, None),
        ("b", 5, 7), ("b", 6, 3), ("b", 7, 3), ("b", 8, 99), ("b", 9, 0),
        ("c", 10, 42),
    ]
    df = spark.createDataFrame(rows, "g string, id long, val int")
    bucket = F.floor(F.col("val") / 10)
    order = [F.col("val"), F.col("id")]
    got = {
        (r.g, r.id): r.rk
        for r in grouped_value_bucketed_rank(
            df, "g", bucket, order, out="rk"
        ).collect()
    }
    want = {}
    for g in ("a", "b", "c"):
        for r in value_bucketed_rank(
            df.filter(F.col("g") == g), bucket, order, out="rk"
        ).collect():
            want[(r.g, r.id)] = r.rk
    assert got == want
    assert sorted(v for (g, _), v in got.items() if g == "b") == [1, 2, 3, 4, 5]


def test_covered_from_footers_declines_on_invisible_store(spark, tmp_path):
    """_covered_from_footers must DECLINE (ok=False -> scan arm) when
    its Python-side walk sees no data files: the caller only invokes it
    after Spark read a non-None live frame, so an empty walk means the
    path does not resolve to the same tree for the JVM and Python (the
    relative-path case) — trusting it silently no-op'ed the fold."""
    covered, ok = sk._covered_from_footers(
        os.path.join(str(tmp_path), "never_written"), None, None, None
    )
    assert (covered, ok) == (None, False)


def test_covered_from_footers_still_fast_on_real_store(spark, tmp_path):
    """The decline guard must not break the fast path on a store whose
    files ARE visible: footer arm still answers (max batch, True)."""
    store = _mk_store(spark, tmp_path)
    covered, ok = sk._covered_from_footers(store, None, None, None)
    assert (covered, ok) == (2, True)


def _turnover_reference(old_df, new_df, group_col, old_sigs, new_sigs):
    """The pre-r14 group_sketch_turnover shape: one (group, position)
    min-aggregation PER SIDE, inner-joined on (group, position) — kept
    as the equivalence reference for the fused single-exchange form."""
    from go_fish_spark.operators.dedup import _P31

    def sketch(pre, side):
        return (
            pre.select(F.col(group_col).alias("_g"), "_sig")
            .select("_g", F.posexplode("_sig").alias("_p", "_v"))
            .groupBy("_g", "_p")
            .agg(F.min("_v").alias(f"_m_{side}"))
        )

    o, n = sketch(old_sigs, "o"), sketch(new_sigs, "n")
    agree = F.sum(F.when(F.col("_m_o") == F.col("_m_n"), 1).otherwise(0))
    empty = (F.min("_m_o") == _P31) | (F.min("_m_n") == _P31)
    est = F.when(empty, F.lit(None).cast("double")).otherwise(
        agree / F.lit(64.0)
    )
    return (
        o.join(n, ["_g", "_p"])
        .groupBy(F.col("_g").alias(group_col))
        .agg(est.alias("est_overlap"), (F.lit(1.0) - est).alias("turnover"))
    )


def test_group_sketch_turnover_fused_matches_join(spark):
    """The fused union + conditional-min turnover must equal the
    two-aggregation + join reference row for row, including the
    one-sided-group omission and the empty-union-set NULL arms."""
    from go_fish_spark.operators.dedup import (
        group_sketch_turnover,
        minhash_signature,
    )

    rows = (
        # srcA in both snapshots, mixed content
        [(i, "srcA", f"alpha beta gamma delta {i % 3}") for i in range(12)]
        # srcB only in OLD (doc_id % 2 == 0 rows below filter to old only)
        + [(100 + i, "srcB", f"epsilon zeta eta theta {i}") for i in range(4)]
        # srcC in both but all sub-k-token (empty union shingle set)
        + [(200 + i, "srcC", "one two") for i in range(6)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    old_df = df.filter((F.col("doc_id") % 2 == 0) | (F.col("source") == "srcB"))
    new_df = df.filter((F.col("doc_id") % 2 == 1) & (F.col("source") != "srcB"))

    def sigs(d):
        return d.select(
            "source",
            minhash_signature("text", 64, 3, 42, portable=True).alias("_sig"),
        )

    got = group_sketch_turnover(
        old_df, new_df, "source", "text", portable=True,
        old_sig_frame=sigs(old_df), new_sig_frame=sigs(new_df),
    ).orderBy("source").collect()
    want = _turnover_reference(
        old_df, new_df, "source", sigs(old_df), sigs(new_df)
    ).orderBy("source").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    srcs = [r.source for r in got]
    assert "srcA" in srcs and "srcC" in srcs and "srcB" not in srcs
    assert [r.est_overlap for r in got if r.source == "srcC"] == [None]


def _lsh_sweep_reference(df, id_col, text_col, dup_threshold=0.5,
                         min_jaccard=0.2):
    """The pre-r14 lsh_plan_sweep shape: posexplode the signatures, join
    per position, per-(pair, plan, band) min then per-pair max — kept as
    the equivalence reference for the array-slice collision form."""
    from go_fish_spark.operators.dedup import (
        minhash_signature,
        ngram_jaccard_pairs,
    )

    n_hashes = 64
    plans = [(2 ** j, n_hashes // 2 ** j) for j in range(6, -1, -1)]
    spark_ = df.sparkSession
    plans_df = spark_.createDataFrame(
        [
            (b, r, round((1.0 / b) ** (1.0 / r), 9) if b > 1 else 1.0)
            for b, r in plans
        ],
        "bands int, rows_per_band int, s_threshold double",
    )
    pairs = ngram_jaccard_pairs(df, id_col, text_col, k=3,
                                threshold=min_jaccard)
    per_doc = df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(text_col, 64, 3, 42, portable=True).alias("_sig"),
    )
    m = per_doc.select("_id", F.posexplode("_sig").alias("_p", "_v"))
    a, b = m.alias("a"), m.alias("b")
    pa = (
        pairs.join(a, pairs["id_a"] == F.col("a._id"))
        .join(b, (pairs["id_b"] == F.col("b._id"))
              & (F.col("a._p") == F.col("b._p")))
        .select(
            "id_a", "id_b", "jaccard", F.col("a._p").alias("_p"),
            F.when(F.col("a._v") == F.col("b._v"), 1).otherwise(0)
            .alias("_agree"),
        )
    )
    pb = pa.join(F.broadcast(plans_df)).withColumn(
        "_band", F.expr("_p div rows_per_band"))
    band_agree = pb.groupBy(
        "id_a", "id_b", "jaccard", "bands", "rows_per_band", "s_threshold",
        "_band").agg(F.min("_agree").alias("_ba"))
    collide = band_agree.groupBy(
        "id_a", "id_b", "jaccard", "bands", "rows_per_band", "s_threshold"
    ).agg(F.max("_ba").alias("_c"))
    is_dup = F.col("jaccard") >= dup_threshold
    n_dup = F.sum(F.when(is_dup, 1).otherwise(0))
    n_weak = F.sum(F.when(is_dup, 0).otherwise(1))
    dup_caught = F.sum(F.when(is_dup, F.col("_c")).otherwise(0))
    weak_caught = F.sum(F.when(is_dup, 0).otherwise(F.col("_c")))
    return (
        collide.groupBy("bands", "rows_per_band", "s_threshold")
        .agg(
            n_dup.cast("bigint").alias("n_dup_pairs"),
            dup_caught.cast("bigint").alias("n_dup_caught"),
            n_weak.cast("bigint").alias("n_weak_pairs"),
            weak_caught.cast("bigint").alias("n_weak_caught"),
            F.when(n_dup > 0, F.round(
                dup_caught.cast("double") / n_dup.cast("double"), 9)
            ).alias("recall"),
            F.when(n_weak > 0, F.round(
                weak_caught.cast("double") / n_weak.cast("double"), 9)
            ).alias("weak_catch_rate"),
        )
        .orderBy(F.col("bands").desc())
    )


def test_lsh_plan_sweep_arrayside_matches_exploded(spark):
    """The array-slice band-collision sweep must equal the exploded
    per-position pipeline row for row on a corpus with real near-dup,
    weak and edited pairs."""
    from go_fish_spark.operators.dedup import lsh_plan_sweep

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = []
    for i in range(24):
        words = base.split()
        if i % 3 == 1:
            words[i % len(words)] = f"tweak{i}"       # near-dup of base
        if i % 3 == 2:
            words = words[: 6] + [f"tail{i} w{i} x{i} y{i} z{i}"]  # weak
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = lsh_plan_sweep(
        df, "doc_id", "text", k=3, min_jaccard=0.2, dup_threshold=0.5,
        portable=True,
    ).collect()
    want = _lsh_sweep_reference(df, "doc_id", "text").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 7 and any(r.n_dup_pairs > 0 for r in got)
    assert any(r.n_weak_pairs > 0 for r in got)


def test_unigram_logprob_total_from_freq_matches_term_total(spark):
    """unigram_logprob's corpus total now aggregates the freq frame;
    it must equal the direct doc-token-pair total (exact integers) and
    the scores must be unchanged vs an inline reference computing the
    total from the term frame."""
    from go_fish_spark.functions.text import tokens
    from go_fish_spark.operators.ngrams import unigram_logprob

    rows = [(i, f"aa bb cc dd {'aa ' * (i % 4)}ee{i % 5}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = unigram_logprob(df, "doc_id", "text").orderBy("doc_id").collect()

    term = df.select(
        F.col("doc_id").alias("_id"), F.explode(tokens("text")).alias("token")
    )
    g = term.groupBy("_id", "token").agg(F.count(F.lit(1)).alias("_c"))
    freq = g.groupBy("token").agg(F.sum("_c").alias("cnt"))
    total = g.agg(F.sum("_c").alias("n_total"))
    logp = F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double"))
    want = (
        g.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.round(
                F.sum(logp.cast("decimal(27,18)")
                      * F.col("_c").cast("decimal(10,0)")).cast("double")
                / F.sum("_c"), 9,
            ).alias("avg_logprob"),
        )
        .select(F.col("_id").alias("doc_id"), "n_tokens", "avg_logprob")
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 40


def test_source_span_overlap_fused_matches_distinct_first(spark):
    """source_span_overlap without the pre-dedup distinct must equal the
    distinct-first reference row for row (collect_set IS the dedup),
    including hot boilerplate spans shared by many docs per group."""
    from go_fish_spark.functions.text import word_shingles
    from go_fish_spark.operators.ngrams import source_span_overlap

    boiler = "all rights reserved contact us terms of service apply now today"
    rows = []
    for i in range(40):
        src = f"s{i % 5}"
        body = f"article {i} body text with unique tail {i} " + (
            boiler if i % 2 == 0 else f"other filler words {i} go here now"
        )
        rows.append((i, src, body))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(
        tuple(r)
        for r in source_span_overlap(df, "source", "text", k=8).collect()
    )
    d = (
        df.select("source", F.explode(word_shingles("text", 8)).alias("_s"))
        .select(F.md5("_s").alias("dg"), "source")
        .distinct()
    )
    want = sorted(
        tuple(r)
        for r in (
            d.alias("a")
            .join(
                d.alias("b"),
                (F.col("a.dg") == F.col("b.dg"))
                & (F.col("a.source") < F.col("b.source")),
            )
            .groupBy(
                F.col("a.source").alias("source_a"),
                F.col("b.source").alias("source_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_shared"))
        ).collect()
    )
    assert got == want and len(want) > 0
