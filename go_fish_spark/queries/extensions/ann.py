"""x-series, similarity-search family: brute/LSH/IVF/PQ ANN, embedding
quantization audits, kNN & Rocchio classification, JL projection,
mutual-kNN mining."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ...catalog import table  # noqa: F401
from ...functions import text as tx  # noqa: F401
from ...functions import vectors  # noqa: F401
from ...operators import decontam, dedup, multimodal, similarity  # noqa: F401
from .. import query  # noqa: F401
from ._shared import (  # noqa: F401
    _det_centers,
    _duck_sample_X,
    _DUCK_SHINGLES,
    _EMB_DIM,
    shared_ivfpq,
    shared_pq,
    shared_quantizer,
)


@query(
    "x06_ann_cosine_topk",
    oracle=f"""
    SELECT q.vec_id AS query_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {vectors.duck_cosine('c.embedding', 'q.embedding', _EMB_DIM)} DESC,
                      c.vec_id
           ) AS rank,
           c.vec_id AS vec_id,
           round({vectors.duck_cosine('c.embedding', 'q.embedding', _EMB_DIM)}, 6) AS cos
    FROM embeddings c
    JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q ON c.vec_id != q.vec_id
    QUALIFY rank <= 10
    ORDER BY query_id, rank
    """,
)
def x06_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors: broadcast queries,
    corpus never shuffles, per-partition top-k before the merge."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries, k=10).orderBy(
        "query_id", "rank"
    )


def _x13_oracle() -> str:
    from ...operators.dedup import duck_bucket_key

    planes = similarity.hyperplanes(_EMB_DIM, 8, 42)
    bk = duck_bucket_key("embedding", planes)
    cos = vectors.duck_cosine("c.embedding", "q.embedding", _EMB_DIM)
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bk} AS bk FROM embeddings)
    SELECT q.vec_id AS query_id,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id
           ) AS rank,
           c.vec_id AS vec_id, round({cos}, 6) AS cos
    FROM b c JOIN (SELECT * FROM b WHERE vec_id < 5) q
      ON c.bk = q.bk AND c.vec_id != q.vec_id
    QUALIFY rank <= 10 ORDER BY query_id, rank
    """


@query("x13_ann_lsh", oracle=_x13_oracle())
def x13_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH ANN (the 100 TB scale path for x06: corpus
    shuffles once on an 8-bit bucket key; only bucket collisions are
    scored). The seeded literal planes make the bucket key
    deterministic, so the oracle mirrors it sign-for-sign (x37's
    duck_bucket_key) and the whole approximate search is hash-checked;
    recall vs brute force stays asserted in tests/test_dedup.py."""
    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(
        emb, queries_df, dim=_EMB_DIM, k=10, n_planes=8
    ).orderBy("query_id", "rank")


def _x15_oracle(sf_dir: str) -> str | None:
    centers = _det_centers(16, sf_dir)
    if centers is None:
        return None
    dl = similarity.duck_dist_list("embedding", centers)
    cos = vectors.duck_cosine("c.embedding", "p.qv", _EMB_DIM)
    return f"""
    WITH a AS (SELECT vec_id, embedding, dl AS _dl
               FROM (SELECT vec_id, embedding, {dl} AS dl FROM embeddings)),
    asg AS (SELECT vec_id, embedding, {similarity.duck_assign('_dl')} AS cell FROM a),
    qd AS (SELECT vec_id AS query_id, embedding AS qv, {dl} AS dl
           FROM embeddings WHERE vec_id < 5),
    pe AS (SELECT query_id, qv, CAST(unnest(range(0, 16)) AS INT) AS cell,
                  unnest(dl) AS d FROM qd),
    probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, cell,
               row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn
        FROM pe
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, c.vec_id, {cos} AS cos
      FROM asg c JOIN probe p ON c.cell = p.cell AND c.vec_id != p.query_id
    )
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank,
           vec_id, round(cos, 6) AS cos
    FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank
    """


@query("x15_ann_ivf", oracle=_x15_oracle)
def x15_ann_ivf(spark, sf_dir):
    """IVF ANN (KMeans coarse quantizer, probe 4/16 cells) — the
    inverted-file billion-vector layout, in the oracle-checkable form:
    the quantizer is fit on a hash-total-ordered sample
    (fit_quantizer_det — engine-independent, so the oracle re-fits
    byte-identical centroids from the same table), and BOTH cell
    assignment and probe routing are pure column expressions over the
    centroid literals (ivf_topk_expr) mirrored bit-for-bit by
    duck_dist_list. Recall vs brute force stays asserted in
    tests/test_dedup.py; similarity.ivf_topk runs this same route over
    a sampled (non-deterministic) quantizer fit."""
    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    q = shared_quantizer(spark, sf_dir, 16)
    return similarity.ivf_topk_expr(
        emb, queries_df, q, k=10, n_probe=4
    ).orderBy("query_id", "rank")


@query(
    "x39_embedding_quantization",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             [embedding[i]::DOUBLE for i in range(1, {_EMB_DIM + 1})] AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max([abs(v[i]) for i in range(1, {_EMB_DIM + 1})]) / 127.0
               AS scale
      FROM v
    ),
    d AS (
      SELECT vec_id, v, scale,
             [greatest(-127.0, least(127.0, floor(v[i] / scale + 0.5))) * scale
              for i in range(1, {_EMB_DIM + 1})] AS deq
      FROM s WHERE scale > 0
    )
    SELECT vec_id,
           round(list_sum([v[i] * v[i] for i in range(1, 17)])
                 / list_sum([v[i] * v[i] for i in range(1, {_EMB_DIM + 1})]),
                 6) AS energy16,
           round(list_sum([v[i] * deq[i] for i in range(1, {_EMB_DIM + 1})])
                 / (sqrt(list_sum([v[i] * v[i] for i in range(1, {_EMB_DIM + 1})]))
                    * sqrt(list_sum([deq[i] * deq[i] for i in range(1, {_EMB_DIM + 1})]))),
                 6) AS cos_int8,
           round(scale, 9) AS scale
    FROM d ORDER BY vec_id
    """,
)
def x39_embedding_quantization(spark, sf_dir):
    """Embedding post-processing audit (functions/vectors.py): per vector,
    the matryoshka energy retained by a 16-dim truncation and the cosine
    between the original and its symmetric-int8 reconstruction — the two
    numbers that decide how an embedding store serves cheaper tiers from
    one stored vector. Pure array expressions (zip_with/aggregate
    HOFs, JVM-side, map-only — at 100 TB this runs at scan speed with
    zero shuffles); the rounding inside quantization is an explicit
    floor(x+0.5) so the DuckDB mirror is bit-identical."""
    emb = table(spark, sf_dir, "embeddings")
    df = (
        emb.withColumn("_scale", vectors.quant_scale("embedding"))
        .filter(F.col("_scale") > 0)
        .withColumn(
            "_deq",
            vectors.dequantize(
                vectors.quantize_int8("embedding", F.col("_scale")),
                F.col("_scale"),
            ),
        )
    )
    return df.select(
        "vec_id",
        F.round(vectors.energy_fraction("embedding", 16), 6).alias("energy16"),
        F.round(vectors.cosine("embedding", F.col("_deq")), 6).alias("cos_int8"),
        F.round(F.col("_scale"), 9).alias("scale"),
    ).orderBy("vec_id")


def _x44_oracle(sf_dir: str) -> str | None:
    X = _duck_sample_X(sf_dir)
    if X is None:
        return None
    pq = similarity.ProductQuantizer(similarity._pq_fit(X, m=4, ksub=16, seed=42))
    codes = similarity.duck_pq_codes("embedding", pq)
    dts = similarity.duck_pq_dtables("embedding", pq)
    m = len(pq.books)
    return f"""
    WITH coded AS (SELECT vec_id, {codes} AS codes FROM embeddings),
    q AS (SELECT vec_id AS query_id, {dts} AS dt
          FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_reduce(
               [(q.dt[j])[(c.codes[j]) + 1] for j in range(1, {m + 1})],
               (a, b) -> a + b) AS adist
      FROM coded c, q WHERE c.vec_id != q.query_id
    )
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank,
           vec_id, round(adist, 6) AS adist
    FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank
    """


@query("x44_pq_adc", oracle=_x44_oracle)
def x44_pq_adc(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011): the corpus compresses
    to m=4 sub-codes (4×16-way codebooks over 16-dim blocks — the memory
    layout that fits a 100 TB embedding store in cluster RAM), each query
    precomputes its 4×16 ADC distance tables, and candidates cost 4 table
    lookups each. Codebooks are fit deterministically (fit_pq_det, the
    x15/x26 contract), codes and tables are pure column expressions over
    centroid literals, and the oracle re-derives everything from the same
    table — the full compress→search path is hash-checked. The coded
    corpus never shuffles; the query side broadcasts."""
    emb = table(spark, sf_dir, "embeddings")
    pq = shared_pq(spark, sf_dir, m=4, ksub=16)
    return similarity.adc_topk(
        emb, emb.filter(F.col("vec_id") < 5), pq, k=10
    ).orderBy("query_id", "rank")


def _x47_oracle(sf_dir: str) -> str | None:
    X = _duck_sample_X(sf_dir)
    if X is None:
        return None
    coarse = similarity._kmeans_fit(X, 16, 42)
    D = -2.0 * (X @ coarse.T) + (coarse**2).sum(axis=1)[None, :]
    R = X - coarse[D.argmin(axis=1)]
    pq = similarity.ProductQuantizer(similarity._pq_fit(R, m=4, ksub=16, seed=42))
    cl = similarity.duck_centers_lit(coarse)
    dl = similarity.duck_dist_list("embedding", coarse)
    rv = (
        f"[embedding[i]::DOUBLE - (({cl})[cell + 1])[i] "
        f"for i in range(1, {_EMB_DIM + 1})]"
    )
    codes = similarity.duck_pq_codes("rv", pq)
    dts = similarity.duck_pq_dtables("rv", pq)
    m = len(pq.books)
    return f"""
    WITH a0 AS (SELECT vec_id, embedding, {dl} AS dl FROM embeddings),
    asg AS (SELECT vec_id, embedding, {similarity.duck_assign('dl')} AS cell
            FROM a0),
    resc AS (SELECT vec_id, cell, {rv} AS rv FROM asg),
    coded AS (SELECT vec_id, cell, {codes} AS codes FROM resc),
    qd AS (SELECT vec_id AS query_id, embedding, {dl} AS dl
           FROM embeddings WHERE vec_id < 5),
    pe AS (SELECT query_id, embedding, CAST(unnest(range(0, 16)) AS INT) AS cell,
                  unnest(dl) AS d FROM qd),
    probe AS (
      SELECT query_id, embedding, cell FROM (
        SELECT query_id, embedding, cell,
               row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn
        FROM pe) WHERE rn <= 4
    ),
    pres AS (SELECT query_id, cell, {rv} AS rv FROM probe),
    pdt AS (SELECT query_id, cell, {dts} AS dt FROM pres),
    scored AS (
      SELECT p.query_id, c.vec_id,
             list_reduce(
               [(p.dt[j])[(c.codes[j]) + 1] for j in range(1, {m + 1})],
               (a, b) -> a + b) AS adist
      FROM coded c JOIN pdt p ON c.cell = p.cell AND c.vec_id != p.query_id
    )
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank,
           vec_id, round(adist, 6) AS adist
    FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank
    """


@query("x47_ivfpq", oracle=_x47_oracle)
def x47_ivfpq(spark, sf_dir):
    """IVF-PQ (Jégou et al. 2011): the full billion-vector layout — a
    16-cell coarse quantizer routes queries to 4 probed cells, the corpus
    stores residual PQ codes (4×16-way codebooks trained on cell
    residuals), and scoring is per-probed-cell residual ADC. Both models
    fit deterministically from the hash-ordered sample (fit_ivfpq_det),
    every stage is a pure column expression over centroid literals, and
    the oracle re-derives routing + codes + tables from the same table —
    the composite x15 ∘ x44 path is hash-checked end to end. Both sides
    exchange once on the cell key; raw vectors never shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    coarse, pq = shared_ivfpq(spark, sf_dir, n_cells=16, m=4, ksub=16)
    return similarity.ivfpq_topk_expr(
        emb, emb.filter(F.col("vec_id") < 5), coarse, pq, k=10, n_probe=4
    ).orderBy("query_id", "rank")


def _x51_oracle(sf_dir: str) -> str | None:
    centers = _det_centers(16, sf_dir)
    if centers is None:
        return None
    dl = similarity.duck_dist_list("embedding", centers)
    return f"""
    WITH a AS (SELECT vec_id, {dl} AS dl FROM embeddings),
    asg AS (SELECT vec_id, {similarity.duck_assign('dl')} AS cell,
                   list_min(dl) AS d2 FROM a)
    SELECT cell, count(*) AS n_vectors,
           round(CAST(sum(CAST(round(sqrt(d2), 9) AS DECIMAL(20,9))) AS DOUBLE)
                 / count(*), 6) AS mean_dist
    FROM asg GROUP BY cell ORDER BY cell
    """


@query("x51_cell_balance", oracle=_x51_oracle)
def x51_cell_balance(spark, sf_dir):
    """Quantizer cell-balance report — the health check an IVF index
    needs before serving (x15/x47's routing assumes cells are roughly
    even; a degenerate fit concentrates the corpus in few cells and turns
    probes into scans — exactly the skew x26's cell cap guards). Per
    cell: vector count and mean centroid distance (sqrt of the assignment
    minimum — no second distance pass), accumulated decimal-exact so the
    mean is partitioning-invariant. One exchange on the bounded cell
    key."""
    emb = table(spark, sf_dir, "embeddings")
    q = shared_quantizer(spark, sf_dir, 16)
    asg = emb.select(
        F.col("vec_id"), q.dist_expr_arr("embedding").alias("_dl")
    ).select(
        "vec_id",
        F.expr("CAST(array_position(_dl, array_min(_dl)) - 1 AS INT)").alias("cell"),
        F.array_min("_dl").alias("d2"),
    )
    return (
        asg.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.round(F.sqrt("d2"), 9).cast("decimal(20,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_dist"),
        )
        .orderBy("cell")
    )


@query(
    "x59_knn_classify",
    oracle=f"""
    WITH nn AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round({vectors.duck_cosine('c.embedding', 'q.embedding', _EMB_DIM)}, 6) AS cos,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {vectors.duck_cosine('c.embedding', 'q.embedding', _EMB_DIM)} DESC,
                        c.vec_id) AS rank
      FROM embeddings c
      JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q ON c.vec_id != q.vec_id
      QUALIFY rank <= 10
    ),
    votes AS (
      SELECT nn.query_id, c.label AS _nl, count(*) AS n_votes,
             max(nn.cos) AS top_cos
      FROM nn JOIN embeddings c ON nn.vec_id = c.vec_id
      GROUP BY nn.query_id, c.label
    )
    SELECT query_id, _nl AS label_pred, CAST(n_votes AS BIGINT) AS n_votes,
           round(top_cos, 6) AS top_cos
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n_votes DESC, _nl) AS r
          FROM votes)
    WHERE r = 1 ORDER BY query_id
    """,
)
def x59_knn_classify(spark, sf_dir):
    """k-NN majority-vote labeling (similarity.knn_classify): predict
    each of the first 20 vectors' labels from their 10 exact-cosine
    nearest labeled neighbors — the labeled-seed-set classifier of a
    curation pipeline. Queries broadcast against the corpus (never
    shuffled), the neighbor table broadcasts into the label join
    (map-only), and only the ≤ queries×k vote rows shuffle. Vote ties
    break to the smaller label; deterministic and hash-checked."""
    from ...operators.similarity import knn_classify

    emb = table(spark, sf_dir, "embeddings")
    return knn_classify(
        emb, emb.filter(F.col("vec_id") < 20), "vec_id", "embedding",
        "label", k=10,
    ).orderBy("query_id")


from ...operators.similarity import (  # noqa: E402
    duck_jl_project_exprs,
    hyperplanes,
    jl_project_expr,
)


_JL_PLANES = hyperplanes(_EMB_DIM, 16, seed=7)
_JL_DIMS = ", ".join(str(j) for j in range(16))
_JL_EXPRS = ", ".join(duck_jl_project_exprs("embedding", _JL_PLANES, _EMB_DIM))


@query(
    "x61_jl_projection",
    oracle=f"""
    SELECT vec_id, unnest([{_JL_DIMS}]) AS dim,
           unnest([{", ".join(f"round({e}, 6)" for e in duck_jl_project_exprs("embedding", _JL_PLANES, _EMB_DIM))}]) AS val
    FROM embeddings ORDER BY vec_id, dim
    """,
)
def x61_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64→16
    (similarity.jl_project_expr, seeded Gaussian planes): the
    dimensionality cut that shrinks every downstream embedding op's
    distance work 4× with JL-bounded distortion. Pure per-row map (zero
    shuffles, no UDF, planes are parsed literals); output exploded to
    (vec_id, dim, val) scalars for hashing."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.posexplode(jl_project_expr("embedding", _JL_PLANES)).alias(
                "dim", "_v"
            ),
        )
        .select("vec_id", "dim", F.round("_v", 6).alias("val"))
        .orderBy("vec_id", "dim")
    )


def _x64_oracle() -> str:
    from ...operators.dedup import duck_bucket_key

    planes = similarity.hyperplanes(_EMB_DIM, 8, 42)
    bk = duck_bucket_key("embedding", planes)
    cos = vectors.duck_cosine("c.embedding", "q.embedding", _EMB_DIM)
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bk} AS bk FROM embeddings),
    nn AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round({cos}, 6) AS cos,
             row_number() OVER (
               PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id) AS rank
      FROM b c JOIN b q ON c.bk = q.bk AND c.vec_id != q.vec_id
      QUALIFY rank <= 10
    )
    SELECT a.query_id AS id_a, a.vec_id AS id_b, a.cos,
           a.rank AS rank_ab, b.rank AS rank_ba
    FROM nn a JOIN nn b ON a.query_id = b.vec_id AND a.vec_id = b.query_id
    WHERE a.query_id < a.vec_id ORDER BY id_a, id_b
    """


@query("x64_mutual_knn", oracle=_x64_oracle())
def x64_mutual_knn(spark, sf_dir):
    """Mutual-kNN pairs (similarity.mutual_knn_pairs, k=10, LSH arm):
    vector pairs each in the OTHER's within-bucket cosine top-k — the
    symmetric-consistency (hubness-filtering) criterion of bitext
    mining, and a higher-precision near-dup candidate set. The bucket
    EQUI-JOIN (seeded literal planes, x13/x37's mirror) replaces the
    O(n²) all-pairs scan — candidate work ≈ n²/2^planes, held flat by
    the x37 plane-growth law — then ONE self-join of the slim neighbor
    table on the reversed key pair. The brute arm stays available as
    the labeled baseline (tests/test_curation.py checks mutuality
    against it)."""
    from ...operators.similarity import mutual_knn_pairs

    emb = table(spark, sf_dir, "embeddings")
    return mutual_knn_pairs(
        emb, "vec_id", "embedding", k=10, method="lsh", dim=_EMB_DIM,
        n_planes=8,
    ).orderBy("id_a", "id_b")


def _x65_centroids(sf_dir: str):
    """Per-label mean centroids for the ORACLE arm, re-fit from the same
    parquet through DuckDB with the SAME decimal(38,12) per-(label,dim)
    sums the Spark fit uses (fit_label_centroids) — decimal accumulation
    is exact and order-independent, so both engines produce byte-equal
    float64 centroids from float(sum)/count."""
    import os

    import duckdb

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None, None
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT label, d, sum(CAST(v AS DECIMAL(38,12))) AS s, count(*) AS n
        FROM (
          SELECT label,
                 generate_subscripts(embedding, 1) - 1 AS d,
                 unnest(embedding) AS v
          FROM read_parquet('{path}') WHERE vec_id % 5 != 0
        ) GROUP BY label, d
        """
    ).fetchall()
    import numpy as np

    labels = sorted({r[0] for r in rows})
    idx = {l: i for i, l in enumerate(labels)}
    cent = np.zeros((len(labels), _EMB_DIM), dtype=np.float64)
    for l, d, s, n in rows:
        cent[idx[l], d] = float(s) / n
    return labels, cent


def _x65_oracle(sf_dir: str) -> str | None:
    labels, cent = _x65_centroids(sf_dir)
    if labels is None:
        return None
    pred = similarity.duck_nearest_centroid_label("embedding", labels, cent)
    return f"""
    SELECT label, {pred} AS label_pred, CAST(count(*) AS BIGINT) AS n
    FROM embeddings GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("x65_nearest_centroid", oracle=_x65_oracle)
def x65_nearest_centroid(spark, sf_dir):
    """Nearest-centroid (Rocchio) classification: per-label mean vectors
    fit on the vec_id%5≠0 slice (decimal-exact, order-independent —
    fit_label_centroids), every vector classified by a PURE column
    expression over the centroid literals (nearest_centroid_label — no
    join/UDF/state, so the same expression scores a live stream), and
    the (label, label_pred) confusion matrix reported. The oracle re-fits
    byte-equal centroids from the same parquet via DuckDB's decimal sums
    — the x15/x26 cross-engine re-fit pattern."""
    from ...operators.similarity import fit_label_centroids, nearest_centroid_label

    emb = table(spark, sf_dir, "embeddings")
    labels, cent = fit_label_centroids(
        emb.filter(F.col("vec_id") % 5 != 0), "label", "embedding", _EMB_DIM
    )
    pred = nearest_centroid_label("embedding", labels, cent)
    return (
        emb.select("label", pred.alias("label_pred"))
        .groupBy("label", "label_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "label_pred")
    )


# --- x66: shared dedup-audit pass (ONE connected-components run) -----------


def _x79_oracle(sf_dir: str) -> str | None:
    """Recall audit mirror: the SAME brute-force and IVF search SQL that
    hash-check x06/x15, cut to (query_id, vec_id) at k=10, composed by
    duck_ann_recall_sql."""
    centers = _det_centers(16, sf_dir)
    if centers is None:
        return None
    cos_bf = vectors.duck_cosine("c.embedding", "q.embedding", _EMB_DIM)
    truth = f"""
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM embeddings c
      JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        ON c.vec_id != q.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {cos_bf} DESC, c.vec_id
      ) <= 10
    """
    dl = similarity.duck_dist_list("embedding", centers)
    cos_ivf = vectors.duck_cosine("c.embedding", "p.qv", _EMB_DIM)
    approx = f"""
      WITH a AS (SELECT vec_id, embedding, dl AS _dl
                 FROM (SELECT vec_id, embedding, {dl} AS dl FROM embeddings)),
      asg AS (SELECT vec_id, embedding, {similarity.duck_assign('_dl')} AS cell FROM a),
      qd AS (SELECT vec_id AS query_id, embedding AS qv, {dl} AS dl
             FROM embeddings WHERE vec_id < 5),
      pe AS (SELECT query_id, qv, CAST(unnest(range(0, 16)) AS INT) AS cell,
                    unnest(dl) AS d FROM qd),
      probe AS (
        SELECT query_id, qv, cell FROM (
          SELECT query_id, qv, cell,
                 row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn
          FROM pe
        ) WHERE rn <= 4
      ),
      scored AS (
        SELECT p.query_id, c.vec_id, {cos_ivf} AS cos
        FROM asg c JOIN probe p ON c.cell = p.cell AND c.vec_id != p.query_id
      )
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cos DESC, vec_id
               ) AS rank
        FROM scored
      ) WHERE rank <= 10
    """
    return similarity.duck_ann_recall_sql(truth, approx)


@query("x79_ann_recall_audit", oracle=_x79_oracle)
def x79_ann_recall_audit(spark, sf_dir):
    """ANN index-quality audit (similarity.ann_recall_audit): per-query
    recall@10 of the x15 IVF index (probe 4/16 cells) against the x06
    exact brute-force ground truth — the acceptance gate run before an
    approximate index is trusted for retrieval dedup or data mining.
    Both searches are the already-hash-verified arms; the audit itself
    joins two (n_queries × k)-row frames on (query_id, vec_id) and
    aggregates on the query key — bounded by the query set, never the
    corpus. Queries the index misses entirely score recall 0 (they stay
    in the report)."""
    emb = table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    truth = similarity.brute_force_topk(emb, queries_df, k=10)
    q = shared_quantizer(spark, sf_dir, 16)
    approx = similarity.ivf_topk_expr(emb, queries_df, q, k=10, n_probe=4)
    return similarity.ann_recall_audit(truth, approx, k=10).orderBy(
        "query_id"
    )


def _x85_oracle(sf_dir: str) -> str | None:
    centers = _det_centers(16, sf_dir)
    if centers is None:
        return None
    dl = similarity.duck_dist_list("embedding", centers)
    return f"""
    WITH a AS (SELECT vec_id, {dl} AS dl FROM embeddings),
    c AS (SELECT vec_id, {similarity.duck_assign('dl')} AS cell FROM a)
    SELECT cell, vec_id FROM (
      SELECT cell, vec_id,
             row_number() OVER (
               PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) AS rn
      FROM c
    ) WHERE rn <= 10 ORDER BY cell, vec_id
    """


@query("x85_cell_balanced_sample", oracle=_x85_oracle)
def x85_cell_balanced_sample(spark, sf_dir):
    """Cell-balanced eval sampling: exactly ≤10 vectors per LEARNED
    quantizer cell (fit_quantizer_det's 16 deterministic KMeans cells),
    chosen in md5-hash order — the semantic-coverage upgrade of x16's
    per-language stratified sample: an eval set drawn this way covers
    every region of embedding space instead of oversampling the dense
    head. Assignment is the pure-expression argmin over centroid
    literals (x15/x26's engine, oracle-mirrored); selection is one
    window over the bounded cell key; the md5 order makes the sample a
    pure function of ids — engine/layout/re-run invariant."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    q = shared_quantizer(spark, sf_dir, 16)
    asg = emb.select(
        "vec_id", q.assign_expr_col("embedding").alias("cell")
    )
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        asg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("cell", "vec_id")
        .orderBy("cell", "vec_id")
    )


def _x96_oracle() -> str:
    from ...operators.retrieval import duck_bm25_sql
    from .text import _BM25_TERMS

    cos = vectors.duck_cosine("c.embedding", "q.qv", _EMB_DIM)
    return f"""
    WITH bmall AS ({duck_bm25_sql("documents", "doc_id", "text", _BM25_TERMS)}),
    lexr AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS rank_lex
      FROM (SELECT doc_id, bm25 FROM bmall ORDER BY bm25 DESC, doc_id LIMIT 100)
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    semsc AS (
      SELECT c.vec_id AS doc_id, round({cos}, 6) AS cos
      FROM embeddings c CROSS JOIN q WHERE c.vec_id != 0
    ),
    semr AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
               AS rank_sem
      FROM (SELECT * FROM semsc ORDER BY cos DESC, doc_id LIMIT 100)
    )
    SELECT doc_id, rank_lex, rank_sem,
           round(coalesce(CAST(1 AS DOUBLE) / (60 + rank_lex), 0)
               + coalesce(CAST(1 AS DOUBLE) / (60 + rank_sem), 0), 9) AS rrf
    FROM lexr FULL OUTER JOIN semr USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 50
    """


@query("x96_hybrid_rrf", oracle=_x96_oracle())
def x96_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval by reciprocal-rank fusion
    (retrieval.rrf_fuse): the lexical arm (x57's BM25 over the 4-term
    query) and the semantic arm (cosine against doc 0's embedding) are
    each cut to a top-100 candidate list by TakeOrdered — per-partition
    heaps, never a corpus sort — ranked by a window over the BOUNDED
    survivors, then fused by rank (score scales never compared):
    rrf = Σ 1/(60+rank), absent-from-arm contributes 0 via the FULL
    OUTER join of two ≤ 100-row frames. Fusion cost is corpus-size-
    independent; exact-int divisions + fixed-order sum + round-9 keep
    the score hash-equal to the DuckDB mirror."""
    from ...operators.retrieval import bm25_scores, ranked_topn, rrf_fuse
    from .text import _BM25_TERMS

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = ranked_topn(
        bm25_scores(docs, "doc_id", "text", _BM25_TERMS),
        "doc_id", "bm25", 100, "rank_lex",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_q")
    )
    sem_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(vectors.cosine("embedding", "_q"), 6).alias("cos"),
        )
    )
    sem = ranked_topn(sem_scored, "doc_id", "cos", 100, "rank_sem")
    return rrf_fuse({"lex": lex, "sem": sem}, "doc_id", k=60, top_k=50)


def _x97_oracle() -> str:
    from ...operators.profile import duck_embedding_outliers_sql

    return duck_embedding_outliers_sql(
        "embeddings", "vec_id", "label", "embedding", top_k=3
    )


@query("x97_embedding_outliers", oracle=_x97_oracle())
def x97_embedding_outliers(spark, sf_dir):
    """Per-label embedding outliers (profile.embedding_outliers): the 3
    vectors farthest from their label centroid — the row-level
    mislabel/garbage drill-down beside x83's group-level dispersion.
    Centroids from ONE bounded (label × dim) exchange; the ≤ labels×dim
    centroid frame broadcasts onto the re-exploded corpus so the
    distance pass shuffles only per-(label, id) partials; per-label
    top-3 is a partitioned window. x83's decimal/round-12/round-9
    discipline keeps dist2 hash-equal to DuckDB."""
    from ...operators.profile import embedding_outliers

    emb = table(spark, sf_dir, "embeddings")
    return embedding_outliers(
        emb, "vec_id", "label", "embedding", top_k=3
    ).orderBy("label", "rank")


def _x102_oracle() -> str:
    lam, one_minus = 0.7, 1.0 - 0.7
    cos_cq = vectors.duck_cosine("c.embedding", "q.embedding", _EMB_DIM)
    cos_ab = vectors.duck_cosine("a.embedding", "b.embedding", _EMB_DIM)
    k = 8
    ctes = [
        f"""cand AS MATERIALIZED (
      SELECT c.vec_id AS _id, c.embedding, {cos_cq} AS sim_q
      FROM embeddings c,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE c.vec_id != 0
      ORDER BY sim_q DESC, c.vec_id LIMIT 20
    )""",
        f"""pairs AS MATERIALIZED (
      SELECT a._id AS pa, b._id AS pb, {cos_ab} AS sim
      FROM cand a JOIN cand b ON a._id != b._id
    )""",
        f"""s1 AS MATERIALIZED (
      SELECT _id, round(CAST({lam!r} AS DOUBLE) * sim_q, 9) AS score
      FROM cand ORDER BY score DESC, _id LIMIT 1
    )""",
        "sel1 AS MATERIALIZED (SELECT _id FROM s1)",
    ]
    for i in range(2, k + 1):
        ctes.append(f"""s{i} AS MATERIALIZED (
      SELECT c._id,
             round(CAST({lam!r} AS DOUBLE) * c.sim_q
                   - CAST({one_minus!r} AS DOUBLE) * max(p.sim), 9)
               AS score
      FROM cand c
      JOIN pairs p ON p.pa = c._id
                  AND p.pb IN (SELECT _id FROM sel{i - 1})
      WHERE c._id NOT IN (SELECT _id FROM sel{i - 1})
      GROUP BY c._id, c.sim_q
      ORDER BY score DESC, c._id LIMIT 1
    )""")
        ctes.append(
            f"sel{i} AS MATERIALIZED (SELECT _id FROM sel{i - 1} "
            f"UNION ALL SELECT _id FROM s{i})"
        )
    unions = "\n      UNION ALL ".join(
        f"SELECT {i} AS rank, _id AS vec_id, score AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT * FROM ({unions}) ORDER BY rank"
    )


@query("x102_mmr_diversify", oracle=_x102_oracle())
def x102_mmr_diversify(spark, sf_dir):
    """MMR-diversified top-8 retrieval (retrieval.mmr_diversify,
    λ=0.7, query vec_id=0 over its 20 cosine candidates): greedy
    λ·sim(query,d) − (1−λ)·max-sim-to-selected selection — the
    de-duplicating retrieval head for few-shot/RAG context picking
    (plain top-k spends the budget on one near-dup cluster; MMR spreads
    it across the neighborhood). Corpus-scale work is ONE
    broadcast-query cosine pass + TakeOrdered; the greedy loop runs k
    bounded argmaxes on the persisted 20-row candidate frame. Scores
    round-9 BEFORE each argmax in both arms, ties to the lower id, so
    the selection path is engine-exact; the oracle unrolls the 8 greedy
    steps as CTEs."""
    from ...operators.retrieval import mmr_diversify

    emb = table(spark, sf_dir, "embeddings")
    return mmr_diversify(
        emb, "vec_id", "embedding", query_id=0, top_n=20, k=8, lam=0.7
    )


@query(
    "x104_centroid_drift",
    oracle="""
    WITH o AS (
      SELECT label AS _l, generate_subscripts(embedding, 1) AS _d,
             CAST(unnest(embedding) AS DOUBLE) AS _v
      FROM embeddings WHERE vec_id % 7 != 0
    ),
    om AS (SELECT _l, _d,
             CAST(sum(CAST(_v AS DECIMAL(38,12))) AS DOUBLE) / count(*)
               AS _mo
           FROM o GROUP BY _l, _d),
    n_ AS (
      SELECT label AS _l, generate_subscripts(embedding, 1) AS _d,
             CAST(unnest(embedding) AS DOUBLE) AS _v
      FROM embeddings WHERE vec_id % 3 != 0
    ),
    nm AS (SELECT _l, _d,
             CAST(sum(CAST(_v AS DECIMAL(38,12))) AS DOUBLE) / count(*)
               AS _mn
           FROM n_ GROUP BY _l, _d),
    t AS (
      SELECT om._l,
             CAST(round(_mo * _mn, 12) AS DECIMAL(38,12)) AS _xy,
             CAST(round(_mo * _mo, 12) AS DECIMAL(38,12)) AS _xx,
             CAST(round(_mn * _mn, 12) AS DECIMAL(38,12)) AS _yy
      FROM om JOIN nm ON om._l = nm._l AND om._d = nm._d
    ),
    agg AS (
      SELECT _l,
             CASE WHEN sqrt(CAST(sum(_xx) AS DOUBLE))
                       * sqrt(CAST(sum(_yy) AS DOUBLE)) > 0 THEN
               round(CAST(sum(_xy) AS DOUBLE)
                     / (sqrt(CAST(sum(_xx) AS DOUBLE))
                        * sqrt(CAST(sum(_yy) AS DOUBLE))), 9)
             END AS centroid_cos,
             CASE WHEN sqrt(CAST(sum(_xx) AS DOUBLE))
                       * sqrt(CAST(sum(_yy) AS DOUBLE)) > 0 THEN
               round(1.0 - CAST(sum(_xy) AS DOUBLE)
                     / (sqrt(CAST(sum(_xx) AS DOUBLE))
                        * sqrt(CAST(sum(_yy) AS DOUBLE))), 9)
             END AS drift
      FROM t GROUP BY _l
    ),
    co AS (SELECT label AS _l, count(*) AS n_old FROM embeddings
           WHERE vec_id % 7 != 0 GROUP BY label),
    cn AS (SELECT label AS _l, count(*) AS n_new FROM embeddings
           WHERE vec_id % 3 != 0 GROUP BY label)
    SELECT agg._l AS label, co.n_old, cn.n_new,
           agg.centroid_cos, agg.drift
    FROM agg JOIN co ON agg._l = co._l JOIN cn ON agg._l = cn._l
    ORDER BY label
    """,
)
def x104_centroid_drift(spark, sf_dir):
    """Per-label embedding-centroid drift between snapshots
    (similarity.group_centroid_drift): the cosine between each label's
    old and new mean vector — the embedding-space release monitor
    beside x94's content turnover (x68's per-dim marginals cannot see a
    rotation). Same x80/x94 synthetic slices (old = %7≠0,
    new = %3≠0). One posexplode exchange per snapshot to the
    (label × dim)-bounded mean frame with decimal-exact sums; cosine on
    the bounded frames, round-12/decimal/round-9 discipline."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.group_centroid_drift(
        emb.filter(F.col("vec_id") % 7 != 0),
        emb.filter(F.col("vec_id") % 3 != 0),
        "label", "embedding",
    ).orderBy("label")


def _x125_centroids(sf_dir: str):
    """Full-set per-label centroids for the x125 oracle — the x65
    decimal(38,12) re-fit pattern WITHOUT the train-slice filter (the
    silhouette audits the whole labeled space).

    The per-value cast goes float → DOUBLE → VARCHAR → DECIMAL: Spark's
    double→decimal conversion rounds the SHORTEST string repr
    (BigDecimal.valueOf) at scale 12 HALF_UP, while DuckDB's direct
    double→decimal rounds the exact binary expansion — for values whose
    shortest repr terminates in ...5 exactly at digit 12 the two
    disagree by 1e-12 per row (measured: 1 cell in 640 at sf0.01,
    enough to flip mean_b's 9th digit downstream, since the silhouette
    consumes centroid BITS, unlike x65's argmin). DuckDB's
    double→VARCHAR is the same shortest round-trip repr, and its
    string→decimal rounds half-away-from-zero = Java HALF_UP, so the
    VARCHAR hop reproduces Spark's cast bit-for-bit."""
    import os

    import duckdb

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None, None
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT label, d,
               sum(CAST(CAST(CAST(v AS DOUBLE) AS VARCHAR)
                        AS DECIMAL(38,12))) AS s,
               count(*) AS n
        FROM (
          SELECT label,
                 generate_subscripts(embedding, 1) - 1 AS d,
                 unnest(embedding) AS v
          FROM read_parquet('{path}')
        ) GROUP BY label, d
        """
    ).fetchall()
    import numpy as np

    labels = sorted({r[0] for r in rows})
    idx = {l: i for i, l in enumerate(labels)}
    cent = np.zeros((len(labels), _EMB_DIM), dtype=np.float64)
    for l, d, s, n in rows:
        cent[idx[l], d] = float(s) / n
    return labels, cent


def _x125_oracle(sf_dir: str) -> str | None:
    labels, cent = _x125_centroids(sf_dir)
    if labels is None:
        return None
    return similarity.duck_centroid_silhouette_sql(
        "embeddings", "label", "embedding", labels, cent
    )


@query("x125_silhouette", oracle=_x125_oracle)
def x125_silhouette(spark, sf_dir):
    """Per-cluster centroid silhouette (similarity.centroid_silhouette
    — Rousseeuw 1987, the O(n·L) centroid variant): a = distance to own
    centroid, b = nearest OTHER centroid, s = (b−a)/max(a,b), per-label
    means. The separation gate before trusting labels for stratified
    sampling (x16/x85) or Rocchio routing (x65). Model is a ≤L×dim
    literal; scoring is ONE map-only pass; the only exchange is the
    ≤|labels| aggregation. Oracle re-fits byte-equal centroids via
    DuckDB decimal sums (x65 pattern) and mirrors the distance fold
    expression-for-expression."""
    from ...operators.similarity import centroid_silhouette

    emb = table(spark, sf_dir, "embeddings")
    return centroid_silhouette(emb, "vec_id", "label", "embedding", _EMB_DIM)


@query(
    "x127_hard_negatives",
    oracle=f"""
    SELECT q.vec_id AS query_id, q.label AS query_label,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {vectors.duck_cosine('c.embedding', 'q.embedding', _EMB_DIM)} DESC,
                      c.vec_id
           ) AS rank,
           c.vec_id AS vec_id, c.label AS neg_label,
           round({vectors.duck_cosine('c.embedding', 'q.embedding', _EMB_DIM)}, 6) AS cos
    FROM embeddings c
    JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      ON c.label != q.label
    QUALIFY rank <= 10
    ORDER BY query_id, rank
    """,
)
def x127_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negative_topk): per query,
    the top-10 most-similar corpus vectors with a DIFFERENT label — the
    contrastive-training staple. x06's broadcast-queries/map-only-corpus
    contract with the label constraint fused into the scan stage; an
    entangled space (x125 → 0) surfaces cos→1 negatives, which is the
    curriculum signal."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    ).orderBy("query_id", "rank")


def _x148_oracle(sf_dir: str) -> str | None:
    centers = _det_centers(16, sf_dir)
    if centers is None:
        return None
    return similarity.duck_ivf_distortion_sql(
        "embeddings", "embedding", centers
    )


@query("x148_ivf_distortion", oracle=_x148_oracle)
def x148_ivf_distortion(spark, sf_dir):
    """Per-cell IVF quantization distortion (similarity.
    ivf_cell_distortion): k-means inertia at cell grain — mean squared
    L2 to each vector's own (nearest) centroid. The index-health gauge
    behind x15/x47/x65: an outlier cell is under-clustered (its
    candidate lists will be unselective), the residual-energy
    complement to x125's separation view. Deterministic sample-fit
    centroids (the oracle refits byte-identical centers), distances as
    the Quantizer's mirrored fold, decimal-accumulated means, one
    ≤|cells| exchange."""
    emb = table(spark, sf_dir, "embeddings")
    q = shared_quantizer(spark, sf_dir, 16)
    import numpy as _np

    return similarity.ivf_cell_distortion(
        emb, "embedding", _np.asarray(q.clusterCenters())
    )


_X157_RECALLS = {"ivf_probe": 0.9, "ivfpq_adc": 0.85, "lsh_buckets": 0.5}
_X157_MIN_RECALL = 0.8
_X157_BUDGET = 2_000_000


def _x157_oracle(sf_dir: str) -> str | None:
    """DuckDB mirror of the choose_ann pricing table: the same corpus
    statistics (counts, LSH bucket product-sum over duck_bucket_key,
    IVF probe product-sum over the deterministic centroid routing of
    _x15_oracle), the same search-FLOP arithmetic per discipline, the
    same recall constants, eligibility/budget booleans, and the
    highest-recall-within-budget choice rule."""
    from ...operators.dedup import duck_bucket_key

    centers = _det_centers(16, sf_dir)
    if centers is None:
        return None
    planes = similarity.hyperplanes(_EMB_DIM, 8, 42)
    bk = duck_bucket_key("embedding", planes)
    dl = similarity.duck_dist_list("embedding", centers)
    d = _EMB_DIM
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    nc AS (SELECT count(*) AS n FROM embeddings),
    nq AS (SELECT count(*) AS n FROM q),
    cbh AS (SELECT bk, count(*) AS cm
            FROM (SELECT {bk} AS bk FROM embeddings) GROUP BY bk),
    qbh AS (SELECT bk, count(*) AS qm
            FROM (SELECT {bk} AS bk FROM q) GROUP BY bk),
    cand_l AS (SELECT coalesce(sum(cm * qm), 0) AS v
               FROM cbh JOIN qbh USING (bk)),
    ch AS (SELECT cell, count(*) AS cm FROM (
             SELECT {similarity.duck_assign('dl')} AS cell
             FROM (SELECT {dl} AS dl FROM embeddings)
           ) GROUP BY cell),
    qd AS (SELECT vec_id AS query_id, {dl} AS dl FROM q),
    pe AS (SELECT query_id, CAST(unnest(range(0, 16)) AS INT) AS cell,
                  unnest(dl) AS dist FROM qd),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, cell) AS rn
        FROM pe
      ) WHERE rn <= 4
    ),
    qh AS (SELECT cell, count(*) AS qm FROM probe GROUP BY cell),
    cand_v AS (SELECT coalesce(sum(cm * qm), 0) AS v
               FROM ch JOIN qh USING (cell)),
    t AS (
      SELECT 'brute_force' AS discipline,
             CAST((SELECT n FROM nq) * (SELECT n FROM nc) * {d} AS BIGINT)
               AS cost,
             CAST(1.0 AS DOUBLE) AS recall
      UNION ALL
      SELECT 'ivf_probe',
             CAST((SELECT n FROM nq) * 16 * {d}
                  + (SELECT v FROM cand_v) * {d} AS BIGINT),
             CAST({_X157_RECALLS["ivf_probe"]} AS DOUBLE)
      UNION ALL
      SELECT 'ivfpq_adc',
             CAST((SELECT n FROM nq) * 16 * {d}
                  + (SELECT n FROM nq) * 4 * 4 * 16 * {d // 4}
                  + (SELECT v FROM cand_v) * 4 AS BIGINT),
             CAST({_X157_RECALLS["ivfpq_adc"]} AS DOUBLE)
      UNION ALL
      SELECT 'lsh_buckets',
             CAST((SELECT n FROM nq) * 8 * {d}
                  + (SELECT v FROM cand_l) * {d} AS BIGINT),
             CAST({_X157_RECALLS["lsh_buckets"]} AS DOUBLE)
    ),
    e AS (
      SELECT *, recall >= {_X157_MIN_RECALL} AS eligible,
             cost <= {_X157_BUDGET} AS within_budget
      FROM t
    )
    SELECT discipline, cost, recall, eligible, within_budget,
           eligible AND within_budget AND recall =
             (SELECT max(recall) FROM e WHERE eligible AND within_budget)
             AS chosen
    FROM e ORDER BY discipline
    """


@query("x157_ann_choice", oracle=_x157_oracle)
def x157_ann_choice(spark, sf_dir):
    """The choose_ann PLANNER itself, hash-verified (r10 verdict Next
    #2 — x120's discipline for the ANN family): price brute force /
    LSH(8 planes) / IVF(16 cells, probe 4) / IVF-PQ(m=4, ksub=16) over
    the embeddings corpus for a 20-query batch at the
    (min_recall=0.8, flop_budget=2M) contract, and emit one row per
    discipline with its search cost, recall, eligibility, budget fit,
    and the chosen flag. Pricing is ONE union job (corpus + query keys
    tagged by side → per-key multiplicities → product-sums), with the
    IVF probe routing as the same centroid expressions the x15 search
    runs — so the oracle re-derives every candidate count and cost
    integer cross-engine. Decision rule: highest recall within budget
    (ANN recall IS output quality — the mirror of choose_blocking's
    cheapest-verified rule). At sf0.01 brute force fits the budget and
    wins on recall; at sf0.1 it busts and the planner flips to IVF —
    the x120 SCALE flip, visible across the SFs this entry runs at."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    quant = shared_quantizer(spark, sf_dir, 16)
    plan = similarity.choose_ann(
        emb, q, _EMB_DIM,
        min_recall=_X157_MIN_RECALL, flop_budget=_X157_BUDGET,
        measured_recall=_X157_RECALLS, quantizer=quant,
    )
    rows = [
        (
            name,
            d["cost"],
            d["recall"],
            d["eligible"],
            d["within_budget"],
            bool(plan["action"] == "proceed" and name == plan["chosen"]),
        )
        for name, d in sorted(plan["disciplines"].items())
    ]
    return spark.createDataFrame(
        rows,
        "discipline string, cost long, recall double, eligible boolean, "
        "within_budget boolean, chosen boolean",
    ).orderBy("discipline")


def _x165_oracle(sf_dir: str) -> str | None:
    """The ANN store contract in SQL: after any append sequence (with
    edits re-appended), the latest-wins read-back equals the frozen
    model's cell assignment + residual PQ codes of the CURRENT corpus
    — the x150 sigstore invariant for the compressed inverted file.
    The model literals re-fit deterministically from the same table."""
    X = _duck_sample_X(sf_dir)
    if X is None:
        return None
    coarse = similarity._kmeans_fit(X, 16, 42)
    import numpy as _np

    D = -2.0 * (X @ coarse.T) + (coarse**2).sum(axis=1)[None, :]
    R = X - coarse[D.argmin(axis=1)]
    pq = similarity.ProductQuantizer(
        similarity._pq_fit(R, m=4, ksub=16, seed=42)
    )
    cl = similarity.duck_centers_lit(coarse)
    dl = similarity.duck_dist_list("v", coarse)
    rv = (
        f"[v[i] - (({cl})[cell + 1])[i] "
        f"for i in range(1, {_EMB_DIM + 1})]"
    )
    codes = similarity.duck_pq_codes("rv", pq)
    return f"""
    WITH cur AS (
      SELECT vec_id,
             CASE WHEN vec_id % 10 = 0
                  THEN [-embedding[i]::DOUBLE
                        for i in range(1, {_EMB_DIM + 1})]
                  ELSE [embedding[i]::DOUBLE
                        for i in range(1, {_EMB_DIM + 1})]
             END AS v
      FROM embeddings
    ),
    a0 AS (SELECT vec_id, v, {dl} AS dl FROM cur),
    asg AS (SELECT vec_id, v, {similarity.duck_assign('dl')} AS cell
            FROM a0),
    resc AS (SELECT vec_id, cell, {rv} AS rv FROM asg),
    coded AS (SELECT vec_id, cell, {codes} AS codes FROM resc)
    SELECT vec_id AS id, CAST(cell AS INTEGER) AS cell,
           md5(array_to_string(codes, ',')) AS codes_md5
    FROM coded ORDER BY id
    """


@query("x165_ann_store_readback", oracle=_x165_oracle, family="protocol")
def x165_ann_store_readback(spark, sf_dir):
    """Durable ANN-index read-back under the oracle contract (r11 —
    the x150 discipline applied to the billion-vector layout): the
    embeddings corpus ingested as three append-only batches into the
    cell-partitioned IVF-PQ store (streaming/annstore: frozen model
    manifest + (id, cell, residual codes) rows), then every
    vec_id % 10 == 0 vector RE-APPENDED NEGATED (an embedding
    refresh — the vector moves cells, the latest-wins reader must
    supersede both cell and codes). The hash compare proves the store
    reads back the frozen model's assignment + codes of the CURRENT
    corpus, fingerprinted per id, against DuckDB's mirror of the
    entire routing + residual + codebook pipeline. Map-only encodes;
    one exchange per append (the partitionBy(cell) write)."""
    import os
    import shutil

    from ...streaming import annstore

    base = os.path.join(
        "/tmp", f"gofish_x165_{spark.sparkContext.applicationId}"
    )
    shutil.rmtree(base, ignore_errors=True)
    emb = table(spark, sf_dir, "embeddings")
    coarse, pq = shared_ivfpq(spark, sf_dir, n_cells=16, m=4, ksub=16)
    annstore.publish_ann_model(base, coarse, pq, gen=1)
    for b in range(3):
        batch = emb.filter(F.col("vec_id") % 3 == b)
        annstore.append_ann_patch(
            annstore.encode_ann_batch(batch, coarse, pq), base, b, gen=1
        )
    edited = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    annstore.append_ann_patch(
        annstore.encode_ann_batch(edited, coarse, pq), base, 3, gen=1
    )
    store = annstore.read_ann_store(spark, base)
    return store.select(
        F.col("_id").alias("id"),
        "cell",
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("codes"), lambda x: x.cast("string"))
            )
        ).alias("codes_md5"),
    ).orderBy("id")


@query("x166_ann_store_search", oracle=_x47_oracle, family="protocol")
def x166_ann_store_search(spark, sf_dir):
    """SERVE from the durable index: adc_search_store answers top-k
    from the cell-partitioned store alone — probe routing and residual
    distance tables from the manifest's frozen literals, candidates
    from the probed cell PARTITIONS (PartitionFilters — the layout's
    payoff), ADC over stored codes; raw corpus vectors are never read.
    The oracle is x47's own SQL: search-from-store must hash-equal the
    direct IVF-PQ search, which is exactly the property that makes the
    store a drop-in index rather than a cache."""
    import os
    import shutil

    from ...streaming import annstore

    base = os.path.join(
        "/tmp", f"gofish_x166_{spark.sparkContext.applicationId}"
    )
    shutil.rmtree(base, ignore_errors=True)
    emb = table(spark, sf_dir, "embeddings")
    coarse, pq = shared_ivfpq(spark, sf_dir, n_cells=16, m=4, ksub=16)
    annstore.publish_ann_model(base, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(emb, coarse, pq), base, 0, gen=1
    )
    return annstore.adc_search_store(
        spark, base, emb.filter(F.col("vec_id") < 5), k=10, n_probe=4
    ).orderBy("query_id", "rank")


@query("x167_ann_search_stream", oracle=_x47_oracle, family="protocol")
def x167_ann_search_stream(spark, sf_dir):
    """SERVE from the durable index as a STREAM (r11 verdict Next #4):
    the same five queries x47/x166 answer, but submitted as TWO query
    micro-batches through ann_search_stream — per-batch bounded probe
    lists against the frozen manifest, results appended with a batch
    stamp, read back latest-wins (a replayed batch collapses, a
    re-submitted query supersedes). The oracle is x47's own SQL:
    stream results must hash-equal the one-shot IVF-PQ search, which
    is exactly the frozen-manifest purity the streaming arm rests on.
    Scale: each batch reads only its probed cell partitions; the
    result log is |answers|-bounded, never corpus-bounded."""
    import os
    import shutil

    from ...streaming import annstore

    base = os.path.join(
        "/tmp", f"gofish_x167_{spark.sparkContext.applicationId}"
    )
    shutil.rmtree(base, ignore_errors=True)
    store, src, out, cp = (os.path.join(base, d) for d in
                          ("store", "q", "res", "cp"))
    emb = table(spark, sf_dir, "embeddings")
    coarse, pq = shared_ivfpq(spark, sf_dir, n_cells=16, m=4, ksub=16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(emb, coarse, pq), store, 0, gen=1
    )
    q = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    os.makedirs(src, exist_ok=True)
    for pred in ("vec_id < 3", "vec_id >= 3"):
        q.filter(pred).coalesce(1).write.mode("append").parquet(src)
        annstore.ann_search_stream(
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(src),
            store, out, cp, k=10, n_probe=4,
        ).awaitTermination(120)
    return (
        annstore.read_search_results(spark, out)
        .orderBy("query_id", "rank")
    )


@query(
    "x170_ann_selective_fold_readback",
    oracle=_x165_oracle,
    family="protocol",
)
def x170_ann_selective_fold_readback(spark, sf_dir):
    """SELECTIVE per-cell fold of the ANN store under the oracle
    contract (r12): the x165 flow — three append batches plus every
    vec_id % 10 == 0 vector re-appended NEGATED (edits that MOVE
    cells) — then a selective compaction of only the cells the plan
    flags as fragmented, with every cold cell hard-link-carried into
    the new generation. The wrinkle the fold must get right: a
    vector's cell is DATA-dependent, so the fold input is the GLOBAL
    latest-wins view filtered to hot cells — a stale hot-cell row
    whose edit moved it cold is dropped, and hot winners stamped at
    the covered batch outrank stale cold copies. The read-back must
    still equal the frozen model's encoding of the CURRENT corpus
    (x165's own DuckDB mirror of the full routing + residual +
    codebook pipeline)."""
    import os
    import shutil

    from ...streaming import annstore

    base = os.path.join(
        "/tmp", f"gofish_x170_{spark.sparkContext.applicationId}"
    )
    shutil.rmtree(base, ignore_errors=True)
    emb = table(spark, sf_dir, "embeddings")
    coarse, pq = shared_ivfpq(spark, sf_dir, n_cells=16, m=4, ksub=16)
    annstore.publish_ann_model(base, coarse, pq, gen=1)
    for b in range(3):
        batch = emb.filter(F.col("vec_id") % 3 == b)
        annstore.append_ann_patch(
            annstore.encode_ann_batch(batch, coarse, pq), base, b, gen=1
        )
    edited = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    annstore.append_ann_patch(
        annstore.encode_ann_batch(edited, coarse, pq), base, 3, gen=1
    )
    plan = annstore.ann_compaction_plan(base, file_cutoff=3.0, min_files=1)
    assert plan["cells_to_fold"] and plan["fold_scope"] in (
        "selective", "full",
    )
    cells = plan["cells_to_fold"]
    if plan["fold_scope"] == "full":  # force a cold carry either way
        cells = cells[: max(1, len(cells) - 2)]
    annstore.compact_ann_store(spark, base, cells=cells)
    assert annstore.load_ann_manifest(base)["gen"] == 2
    store = annstore.read_ann_store(spark, base)
    return store.select(
        F.col("_id").alias("id"),
        "cell",
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("codes"), lambda x: x.cast("string"))
            )
        ).alias("codes_md5"),
    ).orderBy("id")


def _x175_oracle(sf_dir: str) -> str | None:
    """DuckDB mirror of the PQ parameter sweep: the same deterministic
    coarse fit + per-plan residual PQ codebooks (byte-identical numpy
    literals), the same cosine brute-force truth, the same per-plan
    residual-ADC search and top-10 cut, the same exact candidate and
    hit counts — every measured number in the sweep table re-derived
    cross-engine (the x44/x47 contract, swept over the plan grid)."""
    import math as _math

    from ._shared import _X175_PLANS

    X = _duck_sample_X(sf_dir)
    if X is None:
        return None
    coarse = similarity._kmeans_fit(X, 16, 42)
    D = -2.0 * (X @ coarse.T) + (coarse**2).sum(axis=1)[None, :]
    R = X - coarse[D.argmin(axis=1)]
    cl = similarity.duck_centers_lit(coarse)
    dl = similarity.duck_dist_list("embedding", coarse)
    rv = (
        f"[embedding[i]::DOUBLE - (({cl})[cell + 1])[i] "
        f"for i in range(1, {_EMB_DIM + 1})]"
    )
    cos_bf = vectors.duck_cosine("c.embedding", "q.embedding", _EMB_DIM)
    max_np = max(p[2] for p in _X175_PLANS)
    blocks = []
    for m, ksub, np_ in _X175_PLANS:
        pq = similarity.ProductQuantizer(
            similarity._pq_fit(R, m, ksub, 42)
        )
        codes = similarity.duck_pq_codes("rv", pq)
        dts = similarity.duck_pq_dtables("rv", pq)
        code_bytes = (m * _math.ceil(_math.log2(ksub)) + 7) // 8
        tfq = 16 * _EMB_DIM + np_ * ksub * _EMB_DIM
        blocks.append(f"""
      SELECT CAST({m} AS INTEGER) AS pq_m,
             CAST({ksub} AS INTEGER) AS pq_ksub,
             CAST({np_} AS INTEGER) AS n_probe,
             CAST({code_bytes} AS INTEGER) AS code_bytes,
             CAST({tfq} AS BIGINT) AS table_flops_per_query,
             cand.c AS n_candidates,
             cand.c * {m} AS scan_flops,
             (SELECT n FROM nq2) AS n_queries,
             (SELECT n FROM nt) AS n_true,
             hit.h AS n_hit,
             round(hit.h / (SELECT n FROM nt), 9) AS recall
      FROM
        (SELECT CAST(count(*) AS BIGINT) AS c
         FROM resc cc
         JOIN (SELECT DISTINCT query_id, cell FROM pr
               WHERE rn <= {np_}) pp
           ON cc.cell = pp.cell AND cc.vec_id != pp.query_id) cand,
        (SELECT CAST(count(*) AS BIGINT) AS h FROM bf
         JOIN (
           SELECT query_id, vec_id FROM (
             SELECT s.query_id, s.vec_id,
                    row_number() OVER (PARTITION BY s.query_id
                                       ORDER BY s.adist, s.vec_id) AS rank
             FROM (
               SELECT p.query_id, c.vec_id,
                      list_reduce(
                        [(p.dt[j])[(c.codes[j]) + 1]
                         for j in range(1, {m + 1})],
                        (a, b) -> a + b) AS adist
               FROM (SELECT vec_id, cell, {codes} AS codes
                     FROM resc) c
               JOIN (SELECT query_id, cell, {dts} AS dt
                     FROM pr WHERE rn <= {np_}) p
                 ON c.cell = p.cell AND c.vec_id != p.query_id
             ) s
           ) WHERE rank <= 10
         ) tp USING (query_id, vec_id)) hit""")
    union = "\n      UNION ALL\n".join(blocks)
    return f"""
    WITH a0 AS (SELECT vec_id, embedding, {dl} AS dl FROM embeddings),
    asg AS (SELECT vec_id, embedding,
                   {similarity.duck_assign('dl')} AS cell FROM a0),
    resc AS (SELECT vec_id, cell, {rv} AS rv FROM asg),
    qd AS (SELECT vec_id AS query_id, embedding, {dl} AS dl
           FROM embeddings WHERE vec_id < 8),
    pe AS (SELECT query_id, embedding,
                  CAST(unnest(range(0, 16)) AS INT) AS cell,
                  unnest(dl) AS d FROM qd),
    pr0 AS (SELECT query_id, embedding, cell,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cell) AS rn FROM pe),
    pr AS (SELECT query_id, cell, rn, {rv} AS rv
           FROM pr0 WHERE rn <= {max_np}),
    bf AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM embeddings c
      JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        ON c.vec_id != q.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {cos_bf} DESC, c.vec_id
      ) <= 10
    ),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf),
    nq2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qd)
    {union}
    ORDER BY pq_m, pq_ksub, n_probe
    """


@query("x175_pq_plan_sweep", oracle=_x175_oracle)
def x175_pq_plan_sweep(spark, sf_dir):
    """Empirical PQ parameter sweep (similarity.pq_plan_sweep — r13
    verdict Next #1, the x100 LSH banding sweep's twin on the
    quantization axis): for six (pq_m, pq_ksub, n_probe) plans over the
    embeddings corpus, the MEASURED recall@10 of residual IVF-PQ ADC
    against the exact cosine ground truth on an 8-query sample, beside
    each plan's exact storage bytes-per-code, ADC table-build flops,
    and candidate-scan flops — the recall-vs-bytes scale law SCALE.md
    r13 proved was unpriced (quantization loss dominating routing loss,
    with nothing to tell choose_ann which pq_m closes it). All coarse
    work (routing, residuals) is shared across plans and checkpointed
    once; all plan searches ride ONE union action; candidate counts are
    pure arithmetic over the cell histogram. The sweep table feeds
    choose_pq_params / choose_ann(pq_sweep=...), which picks the
    cheapest plan meeting the recall contract. Session-cached like the
    signature frames (the report a planner materializes once per corpus
    snapshot)."""
    from ._shared import PQ_SWEEP_SCHEMA, shared_pq_sweep

    rows = shared_pq_sweep(spark, sf_dir)
    return spark.createDataFrame(rows, PQ_SWEEP_SCHEMA).orderBy(
        "pq_m", "pq_ksub", "n_probe"
    )
