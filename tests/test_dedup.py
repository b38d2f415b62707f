"""Sketch-based dedup ops (MinHash-LSH, SimHash): recall/precision against
the exact n-gram-Jaccard pairs (oracle-verified in test_correctness). Since
r04 the registered arms are hash-oracled too (`portable` token hashes /
deterministic quantizer fits mirrored into DuckDB); the recall contracts
below run against those registered arms, and dedicated tests keep the
xxhash/BLAS fast arms covered."""

from __future__ import annotations

import os

import pytest

from conftest import SF_SMALL

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


@pytest.fixture(scope="module")
def exact_pairs(spark):
    from go_fish_spark.queries import REGISTRY

    rows = REGISTRY["x04_dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    return {(r.id_a, r.id_b): r.jaccard for r in rows}


def test_minhash_recall(spark, exact_pairs):
    from go_fish_spark.queries import REGISTRY

    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["x02_dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    }
    # Every strongly-similar pair (exact jaccard >= 0.5) must be found.
    strong = {p for p, j in exact_pairs.items() if j >= 0.5}
    missed = strong - got
    assert not missed, f"minhash missed strong pairs: {missed}"
    # Precision: pairs the sketch claims should mostly be genuinely similar.
    if got:
        true_hits = {p for p in got if p in exact_pairs}
        assert len(true_hits) / len(got) >= 0.5, (
            f"minhash precision too low: {len(true_hits)}/{len(got)}"
        )


def test_minhash_default_arm_recall(spark, exact_pairs):
    """The xxhash64 fast arm (portable=False — no longer the registered
    query) keeps the same recall contract as the portable arm."""
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            table(spark, SF_DIR, "documents"), "doc_id", "text", threshold=0.35
        ).collect()
    }
    strong = {p for p, j in exact_pairs.items() if j >= 0.5}
    assert strong <= got, f"default-arm minhash missed: {strong - got}"


def test_simhash_default_arm_finds_pairs(spark):
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    got = dedup.simhash_pairs(
        table(spark, SF_DIR, "documents"), "doc_id", "text"
    ).collect()
    assert got and all(r.hamming <= 3 for r in got)


def test_simhash_finds_near_dups(spark, exact_pairs):
    """SimHash hashes the distinct-token SET (unigram features), so its
    near-dup notion is bag-of-words similarity — order-insensitive, unlike
    the shingle jaccard of x04. Judge it against token-set jaccard."""
    from go_fish_spark.queries import REGISTRY
    from go_fish_spark.catalog import table
    import pyspark.sql.functions as F

    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["x03_dedup_simhash"].fn(spark, SF_DIR).collect()
    }
    assert got, "simhash found no pairs at all"
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in table(spark, SF_DIR, "documents").collect()
    }

    def setjac(a, b):
        return len(docs[a] & docs[b]) / len(docs[a] | docs[b])

    import random
    import statistics

    reported = statistics.median(setjac(a, b) for a, b in got)
    rng = random.Random(7)
    ids = list(docs)
    baseline = statistics.median(
        setjac(*rng.sample(ids, 2)) for _ in range(2000)
    )
    # The synthetic corpus has a tiny vocabulary (random pairs already share
    # ~0.65 set-jaccard), so judge enrichment, not an absolute threshold.
    assert reported >= baseline + 0.15, (
        f"simhash pairs not enriched: median {reported:.3f} vs baseline {baseline:.3f}"
    )


def test_x13_ann_lsh_registered_and_deterministic(spark):
    from go_fish_spark.queries import REGISTRY

    a = REGISTRY["x13_ann_lsh"].fn(spark, SF_DIR).collect()
    b = REGISTRY["x13_ann_lsh"].fn(spark, SF_DIR).collect()
    assert a == b  # fixed hyperplane seed → reproducible
    assert all(r.rank >= 1 for r in a)


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with 4/16 probed cells must recover a solid fraction of the
    true cosine top-k (cells hold ~1/16 of the corpus; 4 probes cover the
    likeliest neighborhoods)."""
    from go_fish_spark.operators import similarity
    from go_fish_spark.catalog import table
    import pyspark.sql.functions as F

    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, queries, dim=64, k=5, n_cells=8, n_probe=3).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.3, f"IVF recall too low: {recall}"


def test_ivf_topk_sampled_fit_and_derived_schema(spark):
    """The quantizer fit must stay bounded (train_cap forces the sampled
    path here) and the probe schema must follow the input dtypes — string
    ids and double embeddings round-trip unchanged."""
    from go_fish_spark.operators import similarity
    from go_fish_spark.catalog import table
    import pyspark.sql.functions as F

    emb = (
        table(spark, SF_DIR, "embeddings")
        .select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    queries = emb.filter(F.col("vec_id").isin("v0", "v1"))
    out = similarity.ivf_topk(
        emb, queries, dim=64, k=3, n_cells=4, n_probe=2, train_cap=50
    )
    rows = out.collect()
    assert {r.query_id for r in rows} == {"v0", "v1"}
    assert all(isinstance(r.vec_id, str) for r in rows)
    assert dict(out.dtypes)["query_id"] == "string"


def test_ivf_topk_corpus_scale_query_set(spark):
    """The whole corpus runs as the query set: probe routing is
    relational (no driver collect, no query cap), and every query gets
    at most k rows."""
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import similarity
    import pyspark.sql.functions as F

    emb = table(spark, SF_DIR, "embeddings")
    big = similarity.ivf_topk(emb, emb, dim=64, k=5, n_cells=8, n_probe=3)
    per_query = big.groupBy("query_id").agg(F.max("rank").alias("r")).collect()
    assert per_query
    assert max(r.r for r in per_query) <= 5


def test_ann_kernels_ties_short_lists_and_probe_routing(spark):
    """The shared ANN kernels on one hand fixture: _topk breaks equal
    scores by vec_id, keeps every candidate when k exceeds them, and cuts
    descending cosine and ascending ADC the same way; _nearest_cells
    breaks equal cell distances by cell id and probes every cell when
    n_probe >= n_cells."""
    from go_fish_spark.operators import similarity
    from go_fish_spark.operators.similarity import (
        Quantizer, _adc_scored, _nearest_cells, _topk,
    )

    # query 1: vec 30 and 10 tie at cos 0.9, vec 20 is lower; query 2
    # has one candidate
    scored = spark.createDataFrame(
        [(1, 30, 0.9), (1, 10, 0.9), (1, 20, 0.5), (2, 10, 0.1234567)],
        "query_id long, vec_id long, cos double",
    )
    top = _topk(scored, "cos", 2).orderBy("query_id", "rank")
    assert [tuple(r) for r in top.collect()] == [
        (1, 1, 10, 0.9), (1, 2, 30, 0.9), (2, 1, 10, 0.123457),
    ]

    # ascending ADC through the real scorer: codes index per-query
    # distance tables; vec 7 is the query itself and drops out
    coded = spark.createDataFrame(
        [(5, [0, 1]), (6, [1, 0]), (7, [0, 0]), (8, [1, 1])],
        "vec_id long, codes array<int>",
    )
    q = spark.createDataFrame(
        [(7, [[1.0, 2.0], [1.0, 2.0]])], "query_id long, dt array<array<double>>"
    )
    adc = _topk(_adc_scored(coded, q), "adist", 5, ascending=True)
    assert [tuple(r) for r in adc.orderBy("rank").collect()] == [
        (7, 1, 5, 3.0), (7, 2, 6, 3.0), (7, 3, 8, 4.0),
    ]

    # cells 0 and 2 sit at the same distance from the query, cell 1 is
    # farther: the tie goes to the lower cell id
    quant = Quantizer([[1.0, 0.0], [3.0, 0.0], [-1.0, 0.0]])
    queries = spark.createDataFrame([(1, [0.0, 0.0])], "id long, v array<double>")
    probe = _nearest_cells(queries, quant, 1, "id", "v")
    assert [(r.cell, r._rn) for r in probe.collect()] == [(0, 1)]
    every = _nearest_cells(queries, quant, 5, "id", "v").orderBy("_rn")
    assert [(r.cell, r._rn) for r in every.collect()] == [(0, 1), (2, 2), (1, 3)]

    # brute force over the same kernels: k beyond the corpus keeps all
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    bf = similarity.brute_force_topk(corpus, corpus.filter("vec_id = 1"), k=10)
    assert [(r.rank, r.vec_id) for r in bf.orderBy("rank").collect()] == [
        (1, 2), (2, 3),
    ]


def test_lsh_topk_matches_brute_force_mostly(spark):
    from go_fish_spark.operators import similarity
    from go_fish_spark.catalog import table
    import pyspark.sql.functions as F

    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(emb, queries, dim=64, k=5, n_planes=4).collect()
    # LSH with 4 planes keeps ~1/16 of the corpus per bucket; it should
    # still recover a nontrivial fraction of the true top-5.
    brute_set = {(r.query_id, r.vec_id) for r in brute}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    assert len(brute_set & approx_set) >= 1
    # And every LSH result must rank by true cosine (spot determinism).
    assert approx == sorted(approx, key=lambda r: (r.query_id, r.rank))


def test_connected_components_chain_and_singleton(spark):
    """A 4-node chain (needs multiple propagation rounds), a 2-node pair,
    and a singleton all resolve to min-id components."""
    from go_fish_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (6, 5)], "id_a long, id_b long"
    )
    out = {
        r.id: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_connected_components_nonconvergence_raises(spark):
    from go_fish_spark.operators.graph import connected_components
    import pytest

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame([(4, 3), (3, 2), (2, 1)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iter=1)


def test_connected_components_adversarial_long_chain(spark):
    """A 200-node PATH graph has diameter 199: plain min-label propagation
    would need ~200 rounds — far past max_iter — so this converging within
    the default 25 is direct evidence the pointer-jumping (path-halving)
    rounds deliver their O(log diameter) bound."""
    from go_fish_spark.operators.graph import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert out == {i: 0 for i in range(n)}


def test_connected_components_string_ids(spark):
    """String ids can't use the decimal-sum convergence check (the cast
    yields NULL sums and None==None would exit after round 1 with wrong
    components); the changed-count fallback must still converge to the
    lexicographic-min label."""
    from go_fish_spark.operators.graph import connected_components

    nodes = spark.createDataFrame(
        [("d",), ("c",), ("b",), ("a",), ("x",), ("y",), ("solo",)],
        "id string",
    )
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
        "id_a string, id_b string",
    )
    out = {
        r.id: r.component for r in connected_components(nodes, edges).collect()
    }
    assert out == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "solo": "solo",
    }


def test_connected_components_edge_endpoint_not_in_nodes(spark):
    """Edges referencing ids absent from `nodes` must not break the
    fixed-row-set convergence invariant: endpoints are seeded into the
    label frame at round 0 and resolve like any other node."""
    from go_fish_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame(
        [(2, 3), (3, 4)], "id_a long, id_b long"  # 3 and 4 not in nodes
    )
    out = {
        r.id: r.component for r in connected_components(nodes, edges).collect()
    }
    assert out == {1: 1, 2: 2, 3: 2, 4: 2}


def test_tfidf_scores_rare_terms_higher(spark):
    from go_fish_spark.operators.tfidf import tf_idf

    docs = spark.createDataFrame(
        [(1, "common rare common"), (2, "common common"), (3, "common only")],
        "doc_id long, text string",
    )
    rows = {(r.id, r.token): r for r in tf_idf(docs, "doc_id", "text").collect()}
    # 'common' appears in every doc -> lowest idf; 'rare' in one doc
    assert rows[(1, "rare")].idf > rows[(1, "common")].idf
    assert rows[(1, "common")].tf == 2 and rows[(1, "common")].df == 3
    # top-1: doc 3's distinctive term wins; in doc 1 tf=2 of 'common'
    # (2 × idf 1.0) outweighs 'rare' (1 × idf ln2+1 ≈ 1.69)
    top = {r.id: r.token for r in tf_idf(docs, top_k=1).collect()}
    assert top[3] == "only" and top[1] == "common"


def test_semantic_dedup_precision_and_recall(spark):
    """semantic_dedup_pairs emits EXACT cosines, so every emitted pair must
    appear in the exact x05 baseline with the identical cosine (precision
    1.0 by construction). Recall is regime-dependent, so it is asserted in
    two parts: (a) on the sf fixture, whose 7 ground-truth pairs are
    BORDERLINE similarities (cos just over 0.45 between otherwise-random
    vectors — co-location is probabilistic for any coarse quantizer), a
    noise-aware floor; (b) on a constructed corpus with genuine near-twin
    duplicates (cos > 0.99 — the regime dedup exists for), perfect
    recall: tight duplicates always share a cell."""
    from go_fish_spark.queries import REGISTRY

    exact = {
        (r.id_a, r.id_b): r.cos
        for r in REGISTRY["x05_dedup_embedding"].fn(spark, SF_DIR).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos
        for r in REGISTRY["x26_dedup_semantic"].fn(spark, SF_DIR).collect()
    }
    assert got, "semantic dedup found no pairs"
    for p, c in got.items():
        assert p in exact and abs(exact[p] - c) < 1e-9, f"false pair {p}"
    recall = len(got) / len(exact)
    assert recall >= 0.25, f"semantic dedup recall too low: {recall}"

    # (b) near-twin regime: 50 base vectors, each with one 0.1%-perturbed
    # twin → 50 known pairs at cos ≈ 1; every one must be recovered.
    import numpy as np

    from go_fish_spark.operators import dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(50, 16))
    twins = base + 0.001 * rng.normal(size=base.shape)
    rows = [
        (i, [float(x) for x in v]) for i, v in enumerate(np.vstack([base, twins]))
    ]
    tdf = spark.createDataFrame(rows, "id long, embedding array<double>")
    tgot = {
        (r.id_a, r.id_b)
        for r in dedup.semantic_dedup_pairs(
            tdf, "id", "embedding", threshold=0.99, n_cells=8
        ).collect()
    }
    expected = {(i, i + 50) for i in range(50)}
    assert expected <= tgot, f"missing twin pairs: {sorted(expected - tgot)[:5]}"


def test_semantic_expr_equals_blas_given_same_quantizer(spark):
    """The oracle-checkable expression arm (semantic_dedup_pairs_expr) and
    the BLAS applyInPandas scale arm must emit the same pairs with the
    same (round-6) cosines when handed the same quantizer — the expr arm
    is the correctness contract, the BLAS arm is the dense-cell fast
    path."""
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup, similarity

    emb = table(spark, SF_DIR, "embeddings")
    q = similarity.fit_quantizer_det(emb, "vec_id", "embedding", 8)
    expr = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.semantic_dedup_pairs_expr(
            emb, q, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    # BLAS arm with the same quantizer: inject by monkeypatching the fit
    # is unnecessary — semantic_dedup_pairs re-fits, so instead score the
    # expr arm's assignment with the BLAS assign column and compare cells,
    # then compare pair sets via the x05 exact baseline restricted to
    # shared cells.
    cells_expr = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", q.assign_expr_col("embedding").alias("cell")
        ).collect()
    }
    cells_blas = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", q.assign_col("embedding").alias("cell")
        ).collect()
    }
    assert cells_expr == cells_blas, "expr/BLAS assignment diverged"
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    expected = {
        p: c for p, c in exact.items() if cells_expr[p[0]] == cells_expr[p[1]]
    }
    assert expr == expected


def test_fit_quantizer_det_is_engine_independent(spark):
    """fit_quantizer_det's centroids must be reproducible from the same
    parquet by a non-Spark engine (the oracle re-fits them via DuckDB) —
    byte-identical, not approximately equal."""
    import duckdb
    import numpy as np

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import similarity

    emb = table(spark, SF_DIR, "embeddings")
    q = similarity.fit_quantizer_det(emb, "vec_id", "embedding", 8)
    con = duckdb.connect()
    vs = con.execute(
        f"SELECT CAST(embedding AS DOUBLE[]) AS v FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) "
        "LIMIT 100000"
    ).df()["v"]
    X = np.stack(vs.to_numpy()).astype(np.float64)
    centers2 = similarity._kmeans_fit(X, 8, 42)
    assert np.array_equal(q._centers, centers2)


def test_ivf_topk_expr_recall_vs_brute_force(spark):
    """The oracle-checkable IVF arm keeps the recall contract of the
    pandas-UDF arms."""
    import pyspark.sql.functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import similarity

    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    q = similarity.fit_quantizer_det(emb, "vec_id", "embedding", 8)
    brute = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk_expr(emb, queries, q, k=5, n_probe=3).collect()
    }
    assert len(brute & ivf) / len(brute) >= 0.3


def test_semantic_dedup_cell_cap_survives_adversarial_skew(spark):
    """Quantizer-skew guard (VERDICT r02 #6): a corpus where ~80% of rows
    form one tight blob routes almost everything into a single KMeans cell
    — without a cap that is one hot O(n²) task at scale. With
    max_cell_size set, the secondary re-split (plus salt fallback) must
    bound every scoring group, and precision must stay 1.0 (emitted
    cosines are exact regardless of the grouping)."""
    import numpy as np

    from go_fish_spark.operators import dedup

    rng = np.random.default_rng(7)
    dim, n_blob, n_rest = 16, 800, 200
    center = rng.normal(size=dim)
    blob = center + 0.01 * rng.normal(size=(n_blob, dim))
    rest = rng.normal(size=(n_rest, dim))
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([blob, rest]))
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    cap = 100
    pairs = dedup.semantic_dedup_pairs(
        df, "id", "embedding", threshold=0.99, n_cells=4, max_cell_size=cap
    )
    # The scoring groups are the capped cells; reproduce the capped
    # assignment and assert the bound the applyInPandas tasks would see.
    from pyspark.sql import functions as F

    from go_fish_spark.operators import similarity

    model = similarity.fit_quantizer(df, "embedding", 4, 100_000, 42)
    assigned = df.select(
        F.col("id").alias("_id"),
        F.col("embedding").alias("_v"),
        model.assign_col("embedding").alias("_cell"),
    )
    raw_max = max(
        r["n"]
        for r in assigned.groupBy("_cell").agg(F.count("*").alias("n")).collect()
    )
    assert raw_max > cap, "fixture not adversarial — blob did not skew a cell"
    capped = dedup._cap_cells(assigned, "_v", cap, 100_000, 42)
    sizes = [
        r["n"]
        for r in capped.groupBy("_cell").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes) <= cap, f"cell cap violated: max={max(sizes)}"

    # Precision 1.0: every emitted pair is in the exact baseline with the
    # identical cosine (the cap only changes WHICH pairs are examined).
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.embedding_dup_pairs(
            df, "id", "embedding", threshold=0.99
        ).collect()
    }
    got = {(r.id_a, r.id_b): r.cos for r in pairs.collect()}
    assert got, "capped semantic dedup found no pairs"
    for p, c in got.items():
        assert p in exact and abs(exact[p] - c) < 1e-9, f"false pair {p}"
    # PAIR recall is structurally bounded by the cap here (an 800-row
    # all-pairs blob capped at 100-row groups can cover at most
    # ~8·C(100,2)/C(800,2) ≈ 12% of pairs) — that loss is the documented
    # price of the hard cap. What must survive for dedup is per-ROW
    # coverage: every blob row still links into the duplicate graph.
    linked = {i for p in got for i in p}
    blob_ids = set(range(n_blob))
    coverage = len(linked & blob_ids) / n_blob
    assert coverage >= 0.95, f"blob rows escaping dedup: coverage={coverage}"


def test_passage_dedup_removes_cross_document_boilerplate(spark):
    """Two documents share a boilerplate span; the earlier (doc, pos)
    occurrence survives, the later one is stripped, and unique prose is
    untouched. Within-document repeats dedup too."""
    from go_fish_spark.operators import dedup

    span = " ".join(f"b{i}" for i in range(20))          # one exact span
    uniq1 = " ".join(f"u{i}" for i in range(20))
    uniq2 = " ".join(f"v{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{span} {uniq1}"),              # first occurrence of span
            (2, f"{uniq2} {span}"),              # later copy -> stripped
            (3, f"{span} {span}"),               # within-doc repeat (later than doc 1)
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_spans, r.n_kept, r.text_dedup)
        for r in dedup.passage_dedup(docs, "doc_id", "text").collect()
    }
    assert out[1] == (2, 2, f"{span} {uniq1}")
    assert out[2] == (2, 1, uniq2)
    assert out[3] == (2, 0, "")


def test_lsh_bucketed_pairs_subset_of_exact_with_twin_recall(spark):
    """x37's emitted pairs must be a subset of the exact x05 baseline with
    identical cosines (precision 1.0 — bucketing only prunes which pairs
    are examined), and near-identical twins (sign-identical dots) must be
    fully recalled."""
    import numpy as np

    from go_fish_spark.operators import dedup

    rng = np.random.default_rng(23)
    base = rng.normal(size=(40, 16))
    twins = base + 0.001 * rng.normal(size=base.shape)
    rows = [
        (i, [float(x) for x in v]) for i, v in enumerate(np.vstack([base, twins]))
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.embedding_dup_pairs(df, "id", "embedding", 0.99).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.lsh_bucketed_dup_pairs(
            df, "id", "embedding", dim=16, threshold=0.99, n_planes=4
        ).collect()
    }
    for p, c in got.items():
        assert p in exact and abs(exact[p] - c) < 1e-9, f"false pair {p}"
    missing_twins = {(i, i + 40) for i in range(40)} - set(got)
    # a 0.1% perturbation flips a sign only if a dot sits within ~1e-3 of
    # zero; allow at most a couple of boundary flips out of 40
    assert len(missing_twins) <= 2, f"twin pairs lost to buckets: {missing_twins}"


def test_pq_adc_recall_vs_brute_force(spark):
    """x44's operator: ADC over PQ codes (4×16 codebooks, 16-dim blocks)
    must retrieve same-cluster vectors on a corpus with real cluster
    structure. (The sf testdata embeddings are near-random — exact-L2
    recall@5 is only ~0.27 even for a numpy reference PQ, measured — so
    the retrieval contract is asserted on constructed well-separated
    clusters; engine-vs-oracle equivalence on the sf corpus is x44 in
    test_correctness.)"""
    import numpy as np
    from go_fish_spark.operators import similarity

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((5, 64)) * 10.0
    rows = [
        (int(c * 20 + i), (centers[c] + rng.standard_normal(64) * 0.1).tolist(), c)
        for c in range(5)
        for i in range(20)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    pq = similarity.fit_pq_det(emb, "vec_id", "embedding", m=4, ksub=16)
    queries = emb.filter(emb.vec_id.isin(0, 20, 40, 60, 80))
    top = similarity.adc_topk(emb, queries, pq, k=5).collect()
    same = sum(r.vec_id // 20 == r.query_id // 20 for r in top) / len(top)
    assert same >= 0.9, f"ADC top-5 not cluster-faithful: {same:.3f}"


def test_pq_codes_shape_and_determinism(spark):
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import similarity

    emb = table(spark, SF_DIR, "embeddings")
    pq = similarity.fit_pq_det(emb, "vec_id", "embedding", m=4, ksub=16)
    rows = emb.select("vec_id", pq.codes_col("embedding").alias("codes")).collect()
    assert all(len(r.codes) == 4 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    again = emb.select("vec_id", pq.codes_col("embedding").alias("codes")).collect()
    assert sorted(map(tuple, ((r.vec_id, tuple(r.codes)) for r in rows))) == \
        sorted(map(tuple, ((r.vec_id, tuple(r.codes)) for r in again)))


def test_ivfpq_cluster_retrieval_and_arrow_agreement(spark):
    """x47's operator: IVF-PQ (coarse routing + residual codes + ADC)
    retrieves same-cluster vectors on structured data, and the production
    Arrow encoder emits the same (cell, codes) as the oracle-checkable
    expression arm on the sf corpus."""
    import numpy as np
    import pyspark.sql.functions as F
    from go_fish_spark.catalog import table
    from go_fish_spark.operators import similarity

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((5, 64)) * 10.0
    rows = [
        (int(c * 20 + i), (centers[c] + rng.standard_normal(64) * 0.1).tolist())
        for c in range(5)
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse, pq = similarity.fit_ivfpq_det(
        emb, "vec_id", "embedding", n_cells=8, m=4, ksub=16
    )
    queries = emb.filter(emb.vec_id.isin(0, 20, 40, 60, 80))
    top = similarity.ivfpq_topk_expr(
        emb, queries, coarse, pq, k=5, n_probe=2
    ).collect()
    same = sum(r.vec_id // 20 == r.query_id // 20 for r in top) / len(top)
    assert same >= 0.9, f"IVF-PQ top-5 not cluster-faithful: {same:.3f}"

    # Arrow encoder ≡ expression encoder on the sf corpus
    sf_emb = table(spark, SF_DIR, "embeddings")
    coarse2, pq2 = similarity.fit_ivfpq_det(
        sf_emb, "vec_id", "embedding", n_cells=16, m=4, ksub=16
    )
    cl = similarity._centers_lit(coarse2._centers)
    asg = sf_emb.select(
        "vec_id",
        F.col("embedding").alias("_v"),
        coarse2.assign_expr_col("embedding").alias("cell"),
    )
    res = F.zip_with(
        F.col("_v").cast("array<double>"),
        F.element_at(cl, F.col("cell") + 1),
        lambda x, y: x - y,
    )
    expr_codes = {
        r.vec_id: (r.cell, tuple(r.codes))
        for r in asg.select("vec_id", "cell", res.alias("_rv"))
        .select("vec_id", "cell", pq2.codes_col("_rv").alias("codes"))
        .collect()
    }
    arrow_codes = {
        r.vec_id: (r.cell, tuple(r.codes))
        for r in similarity.ivfpq_encode_arrow(sf_emb, coarse2, pq2).collect()
    }
    assert expr_codes == arrow_codes


def test_quantizer_string_path_quotes_odd_column_names(spark):
    """The single-parse SQL fast path receives a column NAME (the F.col
    convention) — names that are not plain identifiers must be quoted,
    not spliced as raw SQL text."""
    import numpy as np

    from go_fish_spark.operators.similarity import ProductQuantizer, Quantizer

    q = Quantizer(np.array([[0.0, 0.0], [1.0, 1.0]]))
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.9, 0.8])],
        "vec_id long, `my vec` array<double>",
    )
    got = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id", q.assign_expr_col("my vec").alias("cell")
        ).collect()
    }
    assert got == {1: 0, 2: 1}
    pq = ProductQuantizer([np.array([[0.0], [1.0]]), np.array([[0.0], [1.0]])])
    codes = {
        r.vec_id: list(r.codes)
        for r in df.select(
            "vec_id", pq.codes_col("my vec").alias("codes")
        ).collect()
    }
    assert codes == {1: [0, 0], 2: [1, 1]}


def test_dedup_audit_shares_one_cc_run(spark, monkeypatch):
    """Round-5 verdict item: the shared audit pass (operators/audit.py)
    must run connected_components exactly ONCE and feed both consumers
    (canonical selection + size histogram) from the same materialized
    label frame — and each product must equal its standalone
    computation."""
    from go_fish_spark.operators import audit as audit_mod
    from go_fish_spark.operators import graph as graph_mod
    from go_fish_spark.functions import text as tx

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # dup of 1
            (3, "alpha beta gamma delta epsilon eta"),    # near-dup of 1
            (4, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    calls = {"n": 0}
    real_cc = graph_mod.connected_components

    def counting_cc(*a, **kw):
        calls["n"] += 1
        return real_cc(*a, **kw)

    monkeypatch.setattr(audit_mod, "connected_components", counting_cc)
    audit = audit_mod.dedup_audit(
        docs, "doc_id", "text", tx.quality_score("text")
    )
    canon = sorted(tuple(r) for r in audit.canonical.collect())
    hist = sorted(tuple(r) for r in audit.histogram.collect())
    assert calls["n"] == 1
    # the two consumers agree with independent derivations
    comp = {r.id: r.component for r in audit.components.collect()}
    assert comp[1] == comp[2] == comp[3] == 1 and comp[4] == 4
    assert [(r[0], r[2]) for r in canon] == [(1, 3), (4, 1)]
    assert hist == [(1, 1, 1), (2, 1, 3)]
    # both downstream plans scan the checkpointed RDD, not the CC lineage
    for frame in (audit.canonical, audit.histogram):
        assert "ExistingRDD" in frame._jdf.queryExecution().executedPlan().toString()


def _bridge_case():
    """Batch doc 30 pairs with members of TWO old components (1 and 10)
    and merges them to the global min label; component 20 is untouched;
    batch doc 31 has no pairs and becomes a singleton."""
    old = [(1, 1), (2, 1), (10, 10), (11, 10), (20, 20)]
    return old, [30, 31], [(2, 30), (30, 11)], {
        1: 1, 2: 1, 10: 1, 11: 1, 20: 20, 30: 1, 31: 31
    }


def _chain_case():
    """A 30-hop chain through shuffled batch ids hanging off old
    component {0, 1}: the iterative CC's 25 rounds did not converge on
    it; the union-find has no round budget."""
    import random

    perm = list(range(2, 32))
    random.Random(30).shuffle(perm)
    chain = [1] + perm
    pairs = [(min(a, b), max(a, b)) for a, b in zip(chain, chain[1:])]
    full = {i: 0 for i in range(32)}
    full[40] = 40
    return [(0, 0), (1, 0), (40, 40)], perm, pairs, full


@pytest.mark.parametrize("emit", ["full", "changed"])
@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("case", [_bridge_case, _chain_case], ids=["bridge", "chain"])
def test_incremental_audit_merge_bridges_components(
    spark, monkeypatch, case, id_type, emit
):
    """The merge solves the reduced graph on the driver, never through
    connected_components, and returns min-reachable-id labels: the full
    table for emit='full', and for emit='changed' exactly the batch plus
    the old members whose label moved."""
    from go_fish_spark.operators import audit as audit_mod

    def no_cc(*a, **kw):
        raise AssertionError("the merge must not run iterative CC")

    monkeypatch.setattr(audit_mod, "connected_components", no_cc)
    key = (lambda i: f"d{i:03d}") if id_type == "string" else (lambda i: i)
    old_rows, delta_rows, pair_rows, full = case()
    old = spark.createDataFrame(
        [(key(i), key(c)) for i, c in old_rows],
        f"id {id_type}, component {id_type}",
    )
    delta = spark.createDataFrame([(key(i),) for i in delta_rows], f"id {id_type}")
    pairs = spark.createDataFrame(
        [(key(a), key(b)) for a, b in pair_rows], f"id_a {id_type}, id_b {id_type}"
    )
    old_label = dict(old_rows)
    want = {
        key(i): key(c)
        for i, c in full.items()
        if emit == "full" or i in delta_rows or old_label[i] != c
    }
    out = audit_mod.incremental_audit_merge(old, delta, pairs, emit=emit)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == want
    assert out.count() == len(want)
    assert out.schema.simpleString() == old.schema.simpleString()


def test_minhash_error_audit_bounds_and_duplicates(spark):
    """Sketch-accuracy audit (x75's engine): exact duplicates estimate
    J=1 with ZERO error; every |error| is bounded by 1; the histogram
    counts each candidate pair once."""
    from go_fish_spark.operators.dedup import (
        minhash_error_audit,
        minhash_lsh_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                        # exact dup of 1 → err 0
            (3, base + " extra tokens here"), # near dup
            (4, "totally different words in this one entirely now yes"),
        ],
        "doc_id long, text string",
    )
    out = minhash_error_audit(docs, "doc_id", "text", threshold=0.2).collect()
    n_pairs = sum(r.n_pairs for r in out)
    cand = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.2, portable=True
    ).count()
    assert n_pairs == cand and n_pairs >= 2
    assert all(0 <= r.err_bin <= 20 for r in out)
    assert all(r.max_abs_err <= 1.0 for r in out)
    # the exact-dup pair lands in bin 0 with (near-)zero error
    bin0 = [r for r in out if r.err_bin == 0]
    assert bin0 and bin0[0].n_pairs >= 1


def test_incremental_near_dedup_statuses_and_kept_invariant(spark):
    """x77 golden: identical-to-history → dup_of_history; identical to a
    smaller-id batch mate → dup_in_batch; unique → kept. Invariant: among
    kept docs no verified pair exists at the same threshold. History is
    consumed ONLY through its sketch_store (no text column in the store
    at all)."""
    from go_fish_spark.operators import dedup

    hist = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (101, "completely unrelated historical text goes right here"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (5, "the quick brown fox jumps over the lazy dog today"),
            (10, "brand new content alpha beta gamma delta epsilon zeta"),
            (11, "brand new content alpha beta gamma delta epsilon zeta"),
            (20, "another singleton document with its own unique words"),
        ],
        "doc_id long, text string",
    )
    store = dedup.sketch_store(hist, "doc_id", "text", portable=True)
    assert set(store.columns) == {"_id", "_sig"}  # history text never stored
    out = {
        r.doc_id: r.status
        for r in dedup.incremental_near_dedup(
            batch, store, "doc_id", "text", portable=True
        ).collect()
    }
    assert out == {
        5: "dup_of_history",
        10: "kept",
        11: "dup_in_batch",
        20: "kept",
    }

    kept_ids = [i for i, s in out.items() if s == "kept"]
    import pyspark.sql.functions as F

    kept_pairs = dedup.minhash_lsh_pairs(
        batch.filter(F.col("doc_id").isin(kept_ids)),
        "doc_id",
        "text",
        portable=True,
    )
    assert kept_pairs.count() == 0

    # layout invariance (the md5/Horner hashes are partition-independent)
    out2 = {
        r.doc_id: r.status
        for r in dedup.incremental_near_dedup(
            batch.repartition(5), store.repartition(3), "doc_id", "text",
            portable=True,
        ).collect()
    }
    assert out2 == out


def test_delta_minhash_pairs_cover_full_pairs(spark):
    """pairs(all) = pairs(hist x hist) ∪ delta_minhash_pairs — the union
    law incremental_audit_merge relies on (pairwise estimator, so the
    split cannot change any pair's verdict)."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    docs = table(spark, SF_SMALL, "documents")
    is_new = F.col("doc_id") % 7 == 0
    hist, delta = docs.filter(~is_new), docs.filter(is_new)
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.35, portable=True
        ).collect()
    }
    hh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            hist, "doc_id", "text", threshold=0.35, portable=True
        ).collect()
    }
    dp = {
        (r["id_a"], r["id_b"])
        for r in dedup.delta_minhash_pairs(
            delta,
            dedup.sketch_store(hist, "doc_id", "text", portable=True),
            "doc_id", "text", threshold=0.35, portable=True,
        ).collect()
    }
    assert hh | dp == full
    assert hh.isdisjoint(dp)
    dedup.release_caches()


def test_delta_probe_ignores_duplicate_store_rows(spark):
    """A store holding every row twice (a replayed append) gives the
    same delta pairs and per-doc statuses as the store with each row
    once: the probe reduces its verified hits by key, so the store is
    read without a dedup."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    docs = table(spark, SF_SMALL, "documents")
    is_new = F.col("doc_id") % 7 == 0
    hist, delta = docs.filter(~is_new), docs.filter(is_new)
    store = dedup.sketch_store(hist, "doc_id", "text", portable=True)
    doubled = store.unionByName(store)

    def pairs(s):
        return sorted(
            map(tuple, dedup.delta_minhash_pairs(
                delta, s, "doc_id", "text", threshold=0.35, portable=True,
            ).collect())
        )

    def statuses(s):
        return sorted(
            map(tuple, dedup.incremental_near_dedup(
                delta, s, "doc_id", "text", threshold=0.35, portable=True,
            ).collect())
        )

    once = pairs(store)
    assert once and len({(a, b) for a, b, _ in once}) == len(once)
    assert pairs(doubled) == once
    st = statuses(store)
    assert "dup_of_history" in {s for _, s in st}
    assert statuses(doubled) == st
    dedup.release_caches()


def test_delta_probe_chunks_batches_past_the_broadcast_budget(
    spark, monkeypatch
):
    """A batch whose broadcast relations would pass the probe's budget
    is split into _id-hash chunks, each streaming the store once; the
    pairs and statuses equal those of the one-chunk probe."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators import dedup

    docs = table(spark, SF_SMALL, "documents")
    is_new = F.col("doc_id") % 7 == 0
    hist, delta = docs.filter(~is_new), docs.filter(is_new)
    store = dedup.sketch_store(hist, "doc_id", "text", portable=True)

    def probe():
        pairs = dedup.delta_minhash_pairs(
            delta, store, "doc_id", "text", threshold=0.35, portable=True,
        )
        statuses = dedup.incremental_near_dedup(
            delta, store, "doc_id", "text", threshold=0.35, portable=True,
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        return (
            sorted(map(tuple, pairs.collect())),
            sorted(map(tuple, statuses.collect())),
            plan.count("BroadcastHashJoin"),
        )

    pairs, statuses, joins = probe()
    assert pairs and joins == 2
    n = delta.count()
    per_doc = 16 * dedup._SLIM_ROW_BYTES + 64 * dedup._SIG_HASH_BYTES
    monkeypatch.setattr(
        dedup, "_PROBE_BROADCAST_BYTES", per_doc * -(-n // 3)
    )
    assert dedup._probe_chunks(n, 64, 16) == 3
    assert probe() == (pairs, statuses, 6)
    dedup.release_caches()


def test_ann_recall_audit_golden(spark):
    """x79's audit op on constructed top-k frames: per-query hit
    counting, zero-recall queries retained, rows beyond rank k ignored
    (a deeper truth list audits a shallower index)."""
    from go_fish_spark.operators.similarity import ann_recall_audit

    truth = spark.createDataFrame(
        # q1: true top-2 = {10, 11}; rank-3 row must be ignored at k=2
        [(1, 1, 10), (1, 2, 11), (1, 3, 12),
         (2, 1, 20), (2, 2, 21),
         (3, 1, 30), (3, 2, 31)],
        "query_id long, rank int, vec_id long",
    )
    approx = spark.createDataFrame(
        # q1 finds one of two; q2 finds both (order differs — irrelevant);
        # q3 finds none of its true set
        [(1, 1, 10), (1, 2, 99),
         (2, 1, 21), (2, 2, 20),
         (3, 1, 98), (3, 2, 97)],
        "query_id long, rank int, vec_id long",
    )
    out = {
        r.query_id: (r.n_true, r.n_hit, r.recall)
        for r in ann_recall_audit(truth, approx, k=2).collect()
    }
    assert out == {
        1: (2, 1, 0.5),
        2: (2, 2, 1.0),
        3: (2, 0, 0.0),
    }


def test_corpus_diff_statuses(spark):
    """x80 golden: all four statuses, including the NULL-text sentinel
    (null↔null is unchanged, null↔text is changed) and layout
    invariance."""
    from go_fish_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (4, None), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, None), (5, "now text"), (6, "fresh")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.status for r in corpus_diff(old, new, "doc_id", "text").collect()
    }
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "changed",
        6: "added",
    }
    out2 = {
        r.doc_id: r.status
        for r in corpus_diff(
            old.repartition(4), new.repartition(3), "doc_id", "text"
        ).collect()
    }
    assert out2 == out


def test_containment_pairs_asymmetric_golden(spark):
    """x82: a short quote inside a long doc scores high containment in
    the quote→host direction only, while Jaccard misses the pair
    entirely at the same bar."""
    from go_fish_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    host = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    quote = "delta epsilon zeta eta theta"  # 5 tokens → 3 shingles, all in host
    other = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, host), (2, quote), (3, other)], "doc_id long, text string"
    )
    out = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert out == {(2, 1): 1.0}  # directed: quote ⊂ host only
    # symmetric Jaccard at the same bar sees nothing: |∩|=3, |∪|=18
    assert (
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8).count() == 0
    )
    # direction flips with the threshold: host→quote is 3/18
    both = {
        (r.id_a, r.id_b): round(r.containment, 6)
        for r in containment_pairs(df, "doc_id", "text", threshold=0.1).collect()
    }
    assert both[(1, 2)] == round(3 / 18, 6) and both[(2, 1)] == 1.0


def test_cell_balanced_sample_covers_cells(spark):
    """x85: every non-empty quantizer cell contributes ≤ 10 vectors, the
    selection is layout-invariant (md5 order is a pure function of
    ids), and cells with ≥ 10 members contribute exactly 10."""
    from conftest import SF_SMALL

    from go_fish_spark.queries import REGISTRY

    out = REGISTRY["x85_cell_balanced_sample"].fn(spark, SF_SMALL).collect()
    per_cell = {}
    for r in out:
        per_cell.setdefault(r.cell, []).append(r.vec_id)
    assert per_cell and all(len(v) <= 10 for v in per_cell.values())
    out2 = REGISTRY["x85_cell_balanced_sample"].fn(spark, SF_SMALL).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_group_sketch_overlap_mergeability(spark):
    """x87 invariants: (a) identical groups estimate 1.0 and disjoint
    vocabularies estimate ~0; (b) the group sketch is the position-wise
    MIN of member signatures (MinHash mergeability), so adding an
    empty-shingle doc (sentinel signature) never changes a non-empty
    group's estimates."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators.dedup import group_sketch_overlap

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    df = spark.createDataFrame(
        [("a", t1), ("a", t2), ("b", t1), ("b", t2), ("c", t1), ("d", t2)],
        "g string, text string",
    )
    out = {
        (r.g_a, r.g_b): r.est_overlap
        for r in group_sketch_overlap(df, "g", "text", portable=True).collect()
    }
    assert out[("a", "b")] == 1.0      # identical union sets
    assert out[("c", "d")] <= 0.1      # disjoint vocabularies
    assert out[("a", "c")] < 1.0       # strict subset → strictly below 1

    # empty docs are neutral: sentinel signatures never win a min
    df2 = df.unionByName(
        spark.createDataFrame([("a", "xy")], "g string, text string")
    )  # 2 tokens < k=3 → empty shingle set
    out2 = {
        (r.g_a, r.g_b): r.est_overlap
        for r in group_sketch_overlap(df2, "g", "text", portable=True).collect()
    }
    assert out2 == out


def test_jaccard_threshold_sweep_bands(spark):
    """x90: exact dups land in the top band (J=1 folds into
    1−band_width), partial overlaps in their floor band, pairs below
    the floor absent; band totals equal the thresholded pair count."""
    import pytest

    from go_fish_spark.operators.dedup import (
        jaccard_threshold_sweep,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # J=1 with 1
            (3, "alpha beta gamma delta nine ten"),       # partial vs 1/2
            (4, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.band_lo: r.n_pairs
        for r in jaccard_threshold_sweep(
            df, "doc_id", "text", band_width=0.25, min_jaccard=0.1
        ).collect()
    }
    # J(1,2)=1.0 → top band 0.75; J(1,3)=J(2,3)=2/6≈0.33 → band 0.25
    assert out == {0.25: 2, 0.75: 1}
    assert sum(out.values()) == ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.1
    ).count()
    with pytest.raises(ValueError, match="band_width"):
        jaccard_threshold_sweep(df, "doc_id", "text", band_width=0.0)


def test_group_sketch_turnover_bounds(spark):
    """x94: identical snapshots → turnover 0; full content rotation →
    turnover ~1; groups missing from either side omitted."""
    from go_fish_spark.operators.dedup import group_sketch_turnover

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    old = spark.createDataFrame(
        [("stable", t1), ("rotated", t1), ("gone", t1)],
        "source string, text string",
    )
    new = spark.createDataFrame(
        [("stable", t1), ("rotated", t2), ("fresh", t2)],
        "source string, text string",
    )
    out = {
        r.source: (r.est_overlap, r.turnover)
        for r in group_sketch_turnover(
            old, new, "source", "text", portable=True
        ).collect()
    }
    assert set(out) == {"stable", "rotated"}  # one-sided groups omitted
    assert out["stable"] == (1.0, 0.0)
    assert out["rotated"][1] >= 0.9  # disjoint vocab → near-total turnover


def test_jaccard_threshold_sweep_exact_band_boundaries(spark):
    """Round-6 ADVICE regression: a pair whose exact Jaccard sits ON a
    band edge must land in the band whose lower edge it is. band_width
    values like 0.05 are binary-inexact, so naive floor(J/width) puts
    J=0.15 (3/20) into the 0.10 band and J=0.70 (7/10) into 0.65; the
    round-9-then-floor banding keeps the documented contract."""
    from go_fish_spark.operators.dedup import jaccard_threshold_sweep

    def doc(prefix, n_extra, run):
        return " ".join(f"{prefix}{i}" for i in range(n_extra)) + " " + run

    run = "c1 c2 c3 c4 c5"  # 3 shared interior 3-shingles
    # |A|=10, |B|=13 shingles, inter=3 → union 20, J = 3/20 = 0.15
    df = spark.createDataFrame(
        [(1, doc("a", 7, run)), (2, doc("b", 10, run))],
        "doc_id long, text string",
    )
    out = {
        r.band_lo: r.n_pairs
        for r in jaccard_threshold_sweep(
            df, "doc_id", "text", band_width=0.05, min_jaccard=0.1
        ).collect()
    }
    assert out == {0.15: 1}

    run2 = "c1 c2 c3 c4 c5 c6 c7 c8 c9"  # 7 shared interior shingles
    # |A|=8, |B|=9 shingles, inter=7 → union 10, J = 7/10 = 0.70
    df2 = spark.createDataFrame(
        [(1, doc("a", 1, run2)), (2, doc("b", 2, run2))],
        "doc_id long, text string",
    )
    out2 = {
        r.band_lo: r.n_pairs
        for r in jaccard_threshold_sweep(
            df2, "doc_id", "text", band_width=0.05, min_jaccard=0.1
        ).collect()
    }
    assert out2 == {0.7: 1}


def test_group_sketch_overlap_all_sentinel_groups_null(spark):
    """Round-6 ADVICE regression: a group made entirely of sub-k-token
    docs has an EMPTY union shingle set — its pairs must report NULL
    est_overlap, never the 1.0 that two agreeing all-sentinel sketches
    would produce. Non-empty pairs are unaffected."""
    from go_fish_spark.operators.dedup import (
        group_sketch_overlap,
        group_sketch_turnover,
    )

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [("a", t), ("b", t), ("e1", "xy"), ("e2", "pq")],
        "g string, text string",
    )  # e1/e2: 2 tokens < k=3 → empty shingle sets
    out = {
        (r.g_a, r.g_b): r.est_overlap
        for r in group_sketch_overlap(df, "g", "text", portable=True).collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("e1", "e2")] is None          # empty vs empty: NOT 1.0
    assert out[("a", "e1")] is None           # empty vs non-empty
    assert out[("b", "e2")] is None

    # turnover inherits the same exclusion
    old = spark.createDataFrame(
        [("s", t), ("empty", "xy")], "source string, text string"
    )
    new = spark.createDataFrame(
        [("s", t), ("empty", "pq")], "source string, text string"
    )
    t_out = {
        r.source: (r.est_overlap, r.turnover)
        for r in group_sketch_turnover(
            old, new, "source", "text", portable=True
        ).collect()
    }
    assert t_out["s"] == (1.0, 0.0)
    assert t_out["empty"] == (None, None)


def test_sketch_screen_relational_equals_expression_arm(spark):
    """x93's relational batch arm (sketch_screen_matches) must produce
    exactly the per-row expression arm's (id, n_matches) output — same
    sketches, same floor, same flagged set — including near-dups the
    banding path could miss and short docs (sentinel signatures pass)."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators.dedup import (
        fit_blocklist_sketches,
        neardup_hits_expr,
        sketch_screen_matches,
    )

    block = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"),
         (101, "pack my box with five dozen liquor jugs right now"),
         (102, "xy")],
        "doc_id long, text string",
    )
    sketches = fit_blocklist_sketches(block, "text", portable=True)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog yesterday"),
        (3, "completely unrelated words in this document here now"),
        (4, "ab"),
        (5, "pack my box with five dozen liquor jugs right here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    n = neardup_hits_expr("text", sketches, threshold=0.5, portable=True)
    expr_out = {
        (r.doc_id, r.n_matches)
        for r in df.select("doc_id", n.alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .collect()
    }
    rel_out = {
        (r.doc_id, r.n_matches)
        for r in sketch_screen_matches(
            df, "doc_id", "text", sketches, threshold=0.5, portable=True
        ).collect()
    }
    assert rel_out == expr_out and expr_out  # non-empty, identical

    # empty blocklist: both arms flag nothing
    assert sketch_screen_matches(
        df, "doc_id", "text", [], threshold=0.5, portable=True
    ).count() == 0


def test_blocked_pairs_kernel_rows_and_naming(spark):
    """The blocked-pair kernel: one row per pair and SHARED key (the
    co-occurrence rows callers count), id_a < id_b, keyless rows never
    pair, carried columns named <c>_a/<c>_b; the zero-key arm is every
    id_a < id_b pair. The join-back attaches per-doc columns the same
    way, and the guarded Jaccard is NULL on two empty sets."""
    from pyspark.sql import functions as F

    from go_fish_spark.operators.dedup import (
        _blocked_pairs,
        _join_back,
        _shingle_jaccard,
    )

    rows = spark.createDataFrame(
        [
            (1, "x", "c1"), (2, "x", "c2"), (3, "x", "c3"),  # x: 3 docs
            (1, "y", "c1"), (2, "y", "c2"),  # (1, 2) also shares y
            (4, None, "c4"),                 # keyless doc
            (5, "z", "c5"),                  # key nobody shares
        ],
        "_id long, k string, c string",
    )
    out = _blocked_pairs(rows, ("k",), ("c",))
    assert out.columns == ["id_a", "id_b", "c_a", "c_b"]
    assert sorted(map(tuple, out.collect())) == [
        (1, 2, "c1", "c2"), (1, 2, "c1", "c2"),
        (1, 3, "c1", "c3"), (2, 3, "c2", "c3"),
    ]
    per_pair = {
        (r.id_a, r.id_b): r.n
        for r in _blocked_pairs(rows, ("k",))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_pair == {(1, 2): 2, (1, 3): 1, (2, 3): 1}

    docs = rows.select("_id", "c").distinct()
    cross = _blocked_pairs(docs, carry=("c",))
    assert cross.columns == ["id_a", "id_b", "c_a", "c_b"]
    assert sorted((r.id_a, r.id_b) for r in cross.collect()) == [
        (a, b) for a in range(1, 6) for b in range(a + 1, 6)
    ]
    assert all(r.c_a == f"c{r.id_a}" and r.c_b == f"c{r.id_b}"
               for r in cross.collect())

    sets = spark.createDataFrame(
        [(1, ["p", "q"]), (2, ["q", "r"]), (3, []), (4, [])],
        "_id long, _sh array<string>",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    back = _join_back(pairs, sets, ("_sh",))
    assert set(back.columns) == {"id_a", "id_b", "_sh_a", "_sh_b"}
    jac = {
        (r.id_a, r.id_b): r.j
        for r in back.select(
            "id_a", "id_b", _shingle_jaccard().alias("j")
        ).collect()
    }
    assert jac == {(1, 2): 1 / 3, (3, 4): None}


def test_minhash_sub_k_docs_never_pair(spark, duck):
    """Documents with fewer than k tokens have no shingles: their
    all-sentinel signatures get no bands, so they never pair with each
    other at est_jaccard 1.0 — in both arms and in the DuckDB mirror —
    the x75 audit does not divide by zero on them, and the delta
    probe's union law holds with them in the batch and in the store."""
    import pandas as pd
    from pyspark.sql import functions as F

    from go_fish_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "hello"), (2, "goodbye world"), (5, "ok"), (8, "two words"),
        (10, base), (11, base), (12, base + " lambda"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    duck.register("subk_docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sub_k = {1, 2, 5, 8}

    def ids(pairs):
        return {(r[0], r[1]) for r in pairs}

    for portable in (True, False):
        got = dedup.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.35, portable=portable
        ).collect()
        assert (10, 11) in ids(got)
        assert not {i for p in ids(got) for i in p} & sub_k, got
    spark_rows = sorted(map(tuple, dedup.minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.35, portable=True
    ).collect()))
    duck_rows = duck.execute(dedup.duck_minhash_lsh_sql(
        "subk_docs", "doc_id", "text", threshold=0.35
    )).fetchall()
    assert spark_rows == sorted(duck_rows)

    audit = sorted(map(tuple, dedup.minhash_error_audit(
        df, "doc_id", "text", threshold=0.2
    ).collect()))
    assert sum(r[1] for r in audit) == len(spark_rows)
    assert audit == sorted(duck.execute(dedup.duck_minhash_error_audit_sql(
        "subk_docs", "doc_id", "text", threshold=0.2
    )).fetchall())

    # sub-k docs on both sides of the batch/store split
    is_new = F.col("doc_id").isin(5, 8, 11)
    hist, batch = df.filter(~is_new), df.filter(is_new)

    def lsh(d):
        return ids(dedup.minhash_lsh_pairs(
            d, "doc_id", "text", threshold=0.35, portable=True
        ).collect())

    dp = ids(dedup.delta_minhash_pairs(
        batch, dedup.sketch_store(hist, "doc_id", "text", portable=True),
        "doc_id", "text", threshold=0.35, portable=True,
    ).collect())
    assert lsh(hist) | dp == lsh(df) and lsh(hist).isdisjoint(dp)
    assert dp and not {i for p in dp for i in p} & sub_k
    duck.unregister("subk_docs")
    dedup.release_caches()
