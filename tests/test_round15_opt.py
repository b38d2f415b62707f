"""Round-15 optimization equivalence tests.

Every rewrite in optimization round 2 keeps the old shape as a test
reference and asserts row-identical output (the frozen equivalence
discipline): the bootstrap-probe short-circuit, the observed-metric CC
convergence, and the later round-15 items each pin here.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


# ---------------------------------------------------------------------------
# read_parquet_if_exists: Python-side short-circuit for provably-empty
# stores (the ExecutionListenerBus stderr-trace fix)


class _ExplodingReader:
    """Stands in for spark.read: any call proves the probe went to the
    JVM when the Python-side listing should already have answered."""

    def __getattr__(self, name):  # pragma: no cover - failure path
        raise AssertionError(
            "spark.read was invoked for a provably-empty store"
        )


class _FakeSpark:
    read = _ExplodingReader()


def test_probe_missing_and_empty_paths_short_circuit(tmp_path):
    from go_fish_spark.streaming.storekernel import read_parquet_if_exists

    missing = str(tmp_path / "never_created")
    assert read_parquet_if_exists(_FakeSpark(), missing) is None

    empty = tmp_path / "empty_store"
    empty.mkdir()
    assert read_parquet_if_exists(_FakeSpark(), str(empty)) is None

    # hidden/metadata-only trees are still provably empty: a crashed
    # first append leaves only _temporary/, which no reader ever sees
    hidden = tmp_path / "hidden_only"
    (hidden / "_temporary" / "0").mkdir(parents=True)
    (hidden / "_temporary" / "0" / "part-0.parquet").write_bytes(b"x")
    (hidden / "_SUCCESS").write_bytes(b"")
    assert read_parquet_if_exists(_FakeSpark(), str(hidden)) is None


def test_probe_declines_on_visible_or_unprovable_paths(tmp_path):
    from go_fish_spark.streaming.storekernel import _probe_no_visible_files

    # a visible data file (flat or inside a shard dir) → must read
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "part-0.parquet").write_bytes(b"x")
    assert not _probe_no_visible_files(str(flat))

    sharded = tmp_path / "sharded"
    (sharded / "shard=3").mkdir(parents=True)
    (sharded / "shard=3" / "part-0.parquet").write_bytes(b"x")
    assert not _probe_no_visible_files(str(sharded))

    # parquet summary files can seed schema inference → must read
    summary = tmp_path / "summary"
    summary.mkdir()
    (summary / "_common_metadata").write_bytes(b"x")
    assert not _probe_no_visible_files(str(summary))

    # relative paths are unprovable (JVM/Python CWDs may diverge — the
    # r14 footer-walk regression class): always defer to the JVM
    assert not _probe_no_visible_files("some_relative_store")

    # a concrete file path defers to the reader
    f = tmp_path / "single.parquet"
    f.write_bytes(b"x")
    assert not _probe_no_visible_files(str(f))


def test_read_parquet_if_exists_still_reads_real_store(spark, tmp_path):
    from go_fish_spark.streaming.storekernel import read_parquet_if_exists

    p = str(tmp_path / "real")
    spark.range(10).write.parquet(p)
    df = read_parquet_if_exists(spark, p)
    assert df is not None and df.count() == 10


def test_probe_follows_symlinked_data_dirs(spark, tmp_path):
    """Data behind a symlinked shard directory is committed data: the
    probe must not call the store provably empty, and the read returns
    the rows the JVM reader sees through the link."""
    from go_fish_spark.streaming.storekernel import (
        _probe_no_visible_files,
        read_parquet_if_exists,
    )

    real = str(tmp_path / "elsewhere" / "shard=0")
    spark.range(5).write.parquet(real)
    store = tmp_path / "store"
    store.mkdir()
    os.symlink(real, store / "shard=0")
    assert not _probe_no_visible_files(str(store))
    df = read_parquet_if_exists(spark, str(store))
    assert df is not None and df.count() == 5


# ---------------------------------------------------------------------------
# connected_components: the convergence sum rides the checkpoint action
# as an observed metric — output must be identical to a from-scratch
# min-reachable-id computation on every graph shape


def _expected_components(n_ids, edges):
    """Python union-find reference."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((i, find(i)) for i in parent)


@pytest.mark.parametrize(
    "edges",
    [
        [],
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7), (10, 11)],
        [(i, i + 1) for i in range(60)],  # chain → pointer jumping path
        [(0, i) for i in range(1, 15)],  # star
    ],
)
def test_cc_observed_sum_matches_union_find(spark, edges):
    from go_fish_spark.operators.graph import connected_components

    ids = list(range(20)) if len(edges) < 30 else list(range(61))
    nodes = spark.createDataFrame([(i,) for i in ids], ["id"])
    e = spark.createDataFrame(edges or [], "id_a long, id_b long")
    got = sorted(
        tuple(r) for r in connected_components(nodes, e).collect()
    )
    assert got == _expected_components(ids, edges)


def test_cc_string_ids_changed_count_path(spark):
    from go_fish_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["id"])
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    got = sorted(tuple(r) for r in connected_components(nodes, edges).collect())
    assert got == [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")]


# ---------------------------------------------------------------------------
# group_sketch_overlap: array-side union sketch + zip_with agreement
# (the x94/x100 treatment) vs the posexploded per-position join kept
# here as the reference implementation


def _group_sketch_overlap_exploded_reference(sigs, n_hashes):
    """The pre-r15 shape: posexplode → (group, position) min → per-
    position self-join → per-pair aggregation."""
    from go_fish_spark.operators.dedup import _P31

    m = (
        sigs.select("_g", F.posexplode("_sig").alias("_p", "_v"))
        .groupBy("_g", "_p")
        .agg(F.min("_v").alias("_m"))
    )
    a, b = m.alias("a"), m.alias("b")
    agree = F.sum(F.when(F.col("a._m") == F.col("b._m"), 1).otherwise(0))
    return (
        a.join(
            b,
            (F.col("a._p") == F.col("b._p")) & (F.col("a._g") < F.col("b._g")),
        )
        .groupBy(F.col("a._g").alias("g_a"), F.col("b._g").alias("g_b"))
        .agg(
            F.when(
                (F.min("a._m") == _P31) | (F.min("b._m") == _P31),
                F.lit(None).cast("double"),
            )
            .otherwise(agree / F.lit(float(n_hashes)))
            .alias("est_overlap")
        )
    )


def test_group_sketch_overlap_arrayside_matches_exploded(spark):
    """Corpus arm at sf0.001 (real shingle overlap across sources) plus
    a synthetic arm with sub-k-token docs so the all-sentinel → NULL
    path is exercised on both shapes."""
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    docs = table(spark, SF_SMALL, "documents")
    got = sorted(
        tuple(r)
        for r in dedup.group_sketch_overlap(
            docs, "source", "text", portable=True
        ).collect()
    )
    sigs = docs.select(
        F.col("source").alias("_g"),
        dedup.minhash_signature("text", 64, 3, 42, portable=True).alias(
            "_sig"
        ),
    )
    want = sorted(
        tuple(r)
        for r in _group_sketch_overlap_exploded_reference(sigs, 64).collect()
    )
    assert got == want and len(got) > 0

    # synthetic: one group entirely sub-k-token (empty union set → NULL
    # est_overlap on every pair touching it), duplicate texts across two
    # groups (perfect overlap), and a disjoint-content group
    rows = [
        ("empty", "a b"),
        ("empty", "x"),
        ("dupA", "the quick brown fox jumps over the lazy dog tonight"),
        ("dupB", "the quick brown fox jumps over the lazy dog tonight"),
        ("other", "completely different words forming another document body"),
    ]
    sdf = spark.createDataFrame(rows, ["g", "text"])
    got2 = sorted(
        tuple(r)
        for r in dedup.group_sketch_overlap(
            sdf, "g", "text", n_hashes=16, portable=True
        ).collect()
    )
    sigs2 = sdf.select(
        F.col("g").alias("_g"),
        dedup.minhash_signature("text", 16, 3, 42, portable=True).alias(
            "_sig"
        ),
    )
    want2 = sorted(
        tuple(r)
        for r in _group_sketch_overlap_exploded_reference(sigs2, 16).collect()
    )
    assert got2 == want2
    by_pair = {(a, b): o for a, b, o in got2}
    assert by_pair[("dupA", "dupB")] == 1.0
    assert by_pair[("dupA", "empty")] is None


def test_group_sketch_overlap_rejects_mismatched_sig_frame(spark):
    """A sig_frame fitted with more positions than ``n_hashes`` fails
    the query instead of being silently truncated; matching and NULL
    signatures pass."""
    from go_fish_spark.operators import dedup

    def overlap(sig_rows):
        sf = spark.createDataFrame(sig_rows, "g string, _sig array<bigint>")
        return dedup.group_sketch_overlap(
            None, "g", "text", n_hashes=4, sig_frame=sf
        ).collect()

    ok = overlap([("a", [1, 2, 3, 4]), ("b", [1, 2, 3, 9]), ("b", None)])
    assert [tuple(r) for r in ok] == [("a", "b", 0.75)]
    with pytest.raises(Exception, match="n_hashes"):
        overlap([("a", [1, 2, 3, 4]), ("b", [1, 2, 3, 4, 5, 6])])


# ---------------------------------------------------------------------------
# x175 sweep fit sharing: sample + residual-PQ models ride the session
# fit family — sweep table must be byte-identical to the direct call


def test_pq_sweep_shared_fits_byte_identical(spark):
    import numpy as np

    from go_fish_spark.catalog import table
    import go_fish_spark.operators.similarity as sim
    from go_fish_spark.queries.extensions import _shared as sh

    emb = table(spark, SF_SMALL, "embeddings")
    plain = [
        tuple(r)
        for r in sim.pq_plan_sweep(
            emb, emb.filter(F.col("vec_id") < 8), 64
        ).collect()
    ]
    shared_rows = [tuple(r) for r in sh.shared_pq_sweep(spark, SF_SMALL)]
    assert plain == shared_rows and len(plain) == 6

    # the shared fits themselves equal the direct deterministic fits
    q_direct = sim.fit_quantizer_det(emb, "vec_id", "embedding", 16)
    q_shared = sh.shared_quantizer(spark, SF_SMALL, 16)
    assert np.array_equal(q_direct._centers, q_shared._centers)
    c_d, p_d = sim.fit_ivfpq_det(emb, "vec_id", "embedding", 16, 8, 16)
    c_s, p_s = sh.shared_ivfpq(spark, SF_SMALL, 16, 8, 16)
    assert np.array_equal(c_d._centers, c_s._centers)
    assert all(
        np.array_equal(a._centers, b._centers)
        for a, b in zip(p_d.books, p_s.books)
    )


def test_cc_on_corpus_matches_oracle_shape(spark):
    """x18's exact-duplicate component labels at sf0.001: CC over the
    md5-equality pair graph must equal the window-min one-shot labels."""
    from go_fish_spark.catalog import table
    from go_fish_spark.operators.graph import connected_components
    from pyspark.sql import Window

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", F.md5("text").alias("_h")
    )
    d2 = docs.select(
        F.col("doc_id").alias("_id2"), F.col("_h").alias("_h2")
    )
    pairs = (
        docs.join(d2, docs["_h"] == d2["_h2"])
        .filter(F.col("doc_id") < F.col("_id2"))
        .select(
            F.col("doc_id").alias("id_a"), F.col("_id2").alias("id_b")
        )
        .distinct()
    )
    got = sorted(
        tuple(r)
        for r in connected_components(
            docs.select(F.col("doc_id").alias("id")), pairs
        ).collect()
    )
    w = Window.partitionBy("_h")
    want = sorted(
        tuple(r)
        for r in docs.select(
            F.col("doc_id").alias("id"),
            F.min("doc_id").over(w).alias("component"),
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# cosine_pre: per-row precomputed norms in the pair-scan family must be
# bit-identical to the per-pair cosine (the r15 pair-compute rewrite)


def test_cosine_pre_bit_identical_on_corpus(spark):
    """UNROUNDED cosine values from the old per-pair expression and the
    prenormed fast path must match exactly (IEEE-identical doubles) on
    the real embedding corpus, including the self-join shape x05/x37
    use. exceptAll compares doubles by exact bits, so a single ulp of
    drift fails."""
    from go_fish_spark.catalog import table
    from go_fish_spark.functions import vectors

    emb = table(spark, SF_SMALL, "embeddings")
    left = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        vectors.norm("embedding").alias("_na"),
    )
    right = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        vectors.norm("embedding").alias("_nb"),
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    old = pairs.select(
        "id_a", "id_b", vectors.cosine("va", "vb").alias("c")
    )
    new = pairs.select(
        "id_a", "id_b", vectors.cosine_pre("va", "vb", "_na", "_nb").alias("c")
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_cosine_pre_null_and_zero_vector_semantics(spark):
    """NULL vectors and all-zero vectors must behave identically in both
    forms: NULL propagates to a NULL cosine, and a zero-norm divisor
    raises the same ANSI divide-by-zero in BOTH shapes — the pair scans
    rely on the same outcomes."""
    from go_fish_spark.functions import vectors

    def pair_frame(rows):
        df = spark.createDataFrame(rows, "id int, v array<double>")
        a = df.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            vectors.norm("v").alias("_na"),
        )
        b = df.select(
            F.col("id").alias("id_b"),
            F.col("v").alias("vb"),
            vectors.norm("v").alias("_nb"),
        )
        return a.join(b, F.col("id_a") < F.col("id_b"))

    # NULL vector: both forms yield NULL for its pairs, equal elsewhere.
    p = pair_frame([(1, [1.0, 2.0]), (3, None), (4, [-1.0, 0.5])])
    both = p.select(
        "id_a",
        "id_b",
        vectors.cosine("va", "vb").alias("old"),
        vectors.cosine_pre("va", "vb", "_na", "_nb").alias("new"),
    ).collect()
    assert len(both) == 3
    for r in both:
        if r.old is None:
            assert r.new is None
        else:
            assert r.old == r.new
    assert sum(1 for r in both if r.old is None) == 2

    # Zero vector: norm 0 divisor — ANSI divide-by-zero in BOTH forms.
    pz = pair_frame([(1, [1.0, 2.0]), (2, [0.0, 0.0])])
    for expr in (
        vectors.cosine("va", "vb"),
        vectors.cosine_pre("va", "vb", "_na", "_nb"),
    ):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            pz.select(expr.alias("c")).collect()


def test_pair_scan_operators_match_old_expression(spark):
    """The rewritten pair scans (x05 embedding_dup_pairs, x37
    lsh_bucketed_dup_pairs, x06 brute_force_topk) still produce the
    exact rows the per-pair cosine produced: reference pipelines built
    here with vectors.cosine, compared row-for-row."""
    from pyspark.sql import Window

    from go_fish_spark.catalog import table
    from go_fish_spark.functions import vectors
    from go_fish_spark.operators import dedup, similarity

    emb = table(spark, SF_SMALL, "embeddings")

    # x05 reference: original embedding_dup_pairs shape
    left = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    right = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    ref_cos = vectors.cosine("va", "vb")
    ref05 = (
        left.join(right, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", ref_cos)
        .filter(F.col("cos") >= 0.45)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
    got05 = dedup.embedding_dup_pairs(emb, "vec_id", "embedding", threshold=0.45)
    assert got05.exceptAll(ref05).count() == 0
    assert ref05.exceptAll(got05).count() == 0

    # x37 reference: original lsh_bucketed_dup_pairs shape
    planes = similarity.hyperplanes(64, 6, 42)
    bk = similarity.bucket_key("embedding", planes)
    l2 = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), bk.alias("_bk")
    )
    r2 = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), bk.alias("_bk2")
    )
    ref37 = (
        l2.join(r2, (F.col("_bk") == F.col("_bk2")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos", vectors.cosine("va", "vb"))
        .filter(F.col("cos") >= 0.45)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
    got37 = dedup.lsh_bucketed_dup_pairs(
        emb, "vec_id", "embedding", dim=64, threshold=0.45, n_planes=6, seed=42
    )
    assert got37.exceptAll(ref37).count() == 0
    assert ref37.exceptAll(got37).count() == 0

    # x06 reference: original brute_force_topk shape
    queries = emb.filter(F.col("vec_id") < 5)
    q = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    c = emb.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("cv"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", vectors.cosine("cv", "qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    ref06 = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "vec_id", F.round("cos", 6).alias("cos"))
    )
    got06 = similarity.brute_force_topk(emb, queries, k=10)
    assert got06.exceptAll(ref06).count() == 0
    assert ref06.exceptAll(got06).count() == 0
