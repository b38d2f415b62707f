"""Similarity search over embedding columns: exact cosine top-k (the
correctness baseline), random-hyperplane LSH buckets, IVF cell probing,
PQ/IVF-PQ asymmetric distance (ADC), and the ANN planner that prices
them (:func:`choose_ann` / :func:`run_ann`).

Every search is candidate generation followed by one shared kernel:

* :func:`vectors.cosine_scored` / :func:`_adc_scored` — join corpus rows
  to query rows (a broadcast cross join, a bucket or a cell key), drop
  self-matches, score each pair (cosine, or m ADC table lookups);
* :func:`_nearest_cells` — probe routing: each query's ``n_probe``
  nearest quantizer cells as relational rows, with :func:`_residual`
  for the IVF-PQ residual against the routed cell;
* :func:`_topk` — the per-query rank-and-cut, ties broken by vec_id.

Design for 100 TB: a bounded query set broadcasts and the corpus never
shuffles; corpus-scale query sets route through a bucket or cell key,
so both sides exchange once on it; the top-k window runs as a partial
``WindowGroupLimit`` below its exchange (k rows per partition per query
before the merge). The ``duck_*`` functions are the DuckDB oracle
mirrors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors


def _topk(
    scored: DataFrame,
    score: str,
    k: int,
    ascending: bool = False,
    keep: tuple = (),
) -> DataFrame:
    """Per-query top-k of a scored candidate frame: ``row_number`` over
    ``query_id`` ordered by ``score`` (descending for similarities,
    ascending for distances) then ``vec_id``, cut at ``rank <= k``.
    Output (query_id, rank, vec_id, score rounded to 6 places, *keep);
    a query with fewer than k candidates keeps them all."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "vec_id", F.round(score, 6).alias(score), *keep
        )
    )


def _nearest_cells(
    queries: DataFrame,
    quantizer: "Quantizer",
    n_probe: int,
    id_col: str,
    vec_col: str,
    *carry: Column,
) -> DataFrame:
    """Probe routing as relational rows: (query_id, *carry, cell, _rn)
    for each query's ``n_probe`` nearest cells, ``_rn`` the probe rank.
    Distances are the quantizer's expression twin (``dist_expr_arr``,
    mirrored by :func:`duck_dist_list`), posexploded and ranked by
    (distance, cell): equal distances break to the lower cell, and
    ``n_probe >= n_cells`` probes every cell."""
    probe = queries.select(
        F.col(id_col).alias("query_id"),
        *carry,
        F.posexplode(quantizer.dist_expr_arr(vec_col)).alias("cell", "_d"),
    )
    w = Window.partitionBy("query_id").orderBy("_d", "cell")
    return (
        probe.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .drop("_d")
    )


def _adc_scored(
    coded: DataFrame, q: DataFrame, on: str | None = None
) -> DataFrame:
    """ADC-scored candidate pairs: coded corpus rows (vec_id, codes, …)
    against query rows (query_id, dt, …) carrying their distance tables,
    joined on ``on`` (every pair when None), self-matches dropped.
    ``adist`` is the m table lookups summed left to right — the
    approximate squared L2."""
    pairs = coded.crossJoin(q) if on is None else coded.join(q, on)
    adist = F.aggregate(
        F.zip_with("codes", "dt", lambda c, t: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return pairs.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        "adist", adist
    )


def _residual(
    rows: DataFrame, coarse: "Quantizer", vec: str, *keep: str
) -> DataFrame:
    """(*keep, cell, _rv): ``_rv`` is vector column ``vec`` minus the
    center of its ``cell`` (the IVF-PQ residual the codes and distance
    tables are built on), with the centers as one parsed literal."""
    cl = _centers_lit(coarse._centers)
    rv = F.zip_with(
        F.col(vec).cast("array<double>"),
        F.element_at(cl, F.col("cell") + 1),
        lambda x, y: x - y,
    )
    return rows.select(*keep, "cell", rv.alias("_rv"))


def _residual_rows(
    df: DataFrame, coarse: "Quantizer", id_col: str, vec_col: str, id_as: str
) -> DataFrame:
    """(id_as, cell, _rv) for the corpus side of IVF-PQ: each vector's
    nearest coarse cell (``assign_expr_col``) and its residual."""
    asg = df.select(
        F.col(id_col).alias(id_as),
        F.col(vec_col).alias("_v"),
        coarse.assign_expr_col(vec_col).alias("cell"),
    )
    return _residual(asg, coarse, "_v", id_as)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    Output: (query_id, rank, vec_id, cos). Self-matches excluded; ties
    broken by vec_id so results are deterministic."""
    scored = vectors.cosine_scored(
        vectors.cosine_rows(corpus, id_col, vec_col, "c"),
        F.broadcast(vectors.cosine_rows(queries, id_col, vec_col, "q")),
    )
    return _topk(scored, "cos", k)


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def bucket_key(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key: bit i = 1 iff dot(vec, plane_i) >= 0.

    Each plane is ONE parsed SQL array literal — both per-element
    ``F.lit`` and ``F.lit(list)`` (which expands per-element internally)
    cost a py4j round-trip per element at 8×64 dims (~0.4 s of driver time
    per build; measured, SCALE.md round 2). ``repr(x)D`` literals parse
    to bit-identical doubles (shortest-repr round-trip)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    key = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.expr(
            "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"
        )
        d = F.aggregate(
            F.zip_with(v.cast("array<double>"), p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        key = key + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return key


def _kmeans_once(
    X: "np.ndarray", k: int, seed: int, max_iter: int, tol: float
) -> tuple["np.ndarray", float]:
    """One seeded k-means++ init + Lloyd run; returns (centers, inertia)."""
    n = len(X)
    rng = np.random.default_rng(seed)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        idx = rng.choice(n, p=d2 / tot) if tot > 0 else rng.integers(n)
        centers[i] = X[idx]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    x_sq = (X**2).sum(axis=1)
    lab = None
    for _ in range(max_iter):
        # argmin ||x-c||² ≡ argmin(-2xCᵀ + |c|²); one (n,k) BLAS product
        D = -2.0 * (X @ centers.T) + (centers**2).sum(axis=1)[None, :]
        lab = D.argmin(axis=1)
        new = np.empty_like(centers)
        for j in range(k):
            m = lab == j
            new[j] = X[m].mean(axis=0) if m.any() else X[rng.integers(n)]
        shift = ((new - centers) ** 2).sum()
        centers = new
        if shift <= tol:
            break
    D = -2.0 * (X @ centers.T) + (centers**2).sum(axis=1)[None, :]
    inertia = float((x_sq + D.min(axis=1)).sum())
    return centers, inertia


def _kmeans_fit(
    X: "np.ndarray",
    k: int,
    seed: int,
    max_iter: int = 20,
    tol: float = 1e-6,
    n_init: int = 4,
) -> "np.ndarray":
    """Seeded k-means++ + Lloyd in numpy on the driver-resident (bounded)
    sample, best-of-``n_init`` restarts by inertia — a single k-means++
    run lands in bad local optima often enough to hurt downstream recall
    (measured: x26 recall 0.29 with one restart vs 0.57 with four), and
    restarts cost milliseconds at quantizer scale. Deterministic given
    (X, k, seed): restart r uses seed+r, ties break toward the lower
    seed. Empty clusters are reseeded to a random point."""
    n = len(X)
    if n == 0:
        raise ValueError("cannot fit a quantizer on an empty sample")
    k = min(k, n)
    best, best_inertia = None, None
    for r in range(n_init):
        centers, inertia = _kmeans_once(X, k, seed + r, max_iter, tol)
        if best_inertia is None or inertia < best_inertia:
            best, best_inertia = centers, inertia
    return best


def _dlit(x: float) -> str:
    """DOUBLE literal for DuckDB SQL: bare decimals parse as DECIMAL
    (whose →DOUBLE conversion can differ from strtod in the last ulp);
    an exponent forces the DOUBLE parser, which round-trips repr()
    bit-exactly."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


def _q_ident(name: str) -> str:
    """Backtick-quote a column NAME for the single-parse SQL fast paths:
    public methods accept a str as a column name (the F.col convention),
    so names with spaces/hyphens/reserved words must reach F.expr as a
    quoted identifier, not raw SQL text. The ``*_sql`` methods still take
    arbitrary SQL fragments — quoting happens only at the name→SQL
    boundary."""
    return "`" + name.replace("`", "``") + "`"


class Quantizer:
    """Coarse quantizer: driver-held centroid matrix + executor-side
    assignment. ``clusterCenters()`` mirrors the pyspark.ml accessor;
    ``assign_col`` returns an Arrow-batched column mapping each vector to
    its nearest centroid (one (batch, k) BLAS product per Arrow batch —
    the centroid matrix, ≤ k×dim×8 bytes, ships in the UDF closure).
    ``dist_expr_arr``/``assign_expr_col`` are the ORACLE-CHECKABLE twins:
    pure column expressions (left-fold squared-L2 per centroid literal)
    that :func:`duck_dist_list` mirrors operation-for-operation, so a SQL
    oracle reproduces the assignment bit-for-bit."""

    def __init__(self, centers: "np.ndarray") -> None:
        self._centers = np.asarray(centers, dtype=np.float64)

    def clusterCenters(self) -> list:
        return [c for c in self._centers]

    def dist_sql(self, vec_sql: str) -> str:
        """Spark-SQL text of the squared-L2 distance array — the SAME
        expression tree :meth:`dist_expr_arr` builds, emitted as one
        string so it parses in a single py4j round trip instead of ~2
        lambda-construction round trips per centroid (measured: x47 spent
        5.8 s of its wall purely building expressions through py4j; one
        parse cuts that to milliseconds)."""
        v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
        dists = [
            f"aggregate(zip_with({v}, "
            + "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            + ", (x, y) -> (x - y) * (x - y)), 0D, (acc, t) -> acc + t)"
            for c in self._centers
        ]
        return "array(" + ", ".join(dists) + ")"

    def assign_sql(self, vec_sql: str) -> str:
        """Spark-SQL text of :meth:`assign_expr_col` (same let-bound
        argmin, same first-wins tie-break, same 0-based int cast)."""
        dl = self.dist_sql(vec_sql)
        return (
            f"CAST(element_at(transform(array({dl}), "
            "d -> array_position(d, array_min(d))), 1) - 1 AS INT)"
        )

    def dist_expr_arr(self, vec_col: Column | str) -> Column:
        """array<double> of squared-L2 distances to every centroid, as a
        pure column expression: per centroid, a left-fold
        ``aggregate(zip_with(v, c, (x,y)->(x-y)²), 0.0, +)`` over a
        parsed array literal. Mirrored bit-for-bit by
        :func:`duck_dist_list`. String inputs take the single-parse
        :meth:`dist_sql` fast path; Column inputs (e.g. lambda variables)
        build through the Column API."""
        if isinstance(vec_col, str):
            return F.expr(self.dist_sql(_q_ident(vec_col)))
        v = vec_col.cast("array<double>")
        dists = []
        for c in self._centers:
            carr = F.expr(
                "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            )
            dists.append(
                F.aggregate(
                    F.zip_with(v, carr, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
            )
        return F.array(*dists)

    def assign_expr_col(self, vec_col: Column | str) -> Column:
        """Nearest-centroid id as a pure column expression: argmin over
        ``dist_expr_arr`` with first-wins tie-break (``array_position`` of
        the array minimum, 0-based). The distance array is let-bound so it
        is evaluated once per row. String inputs parse once
        (:meth:`assign_sql`)."""
        if isinstance(vec_col, str):
            return F.expr(self.assign_sql(_q_ident(vec_col)))
        darr = self.dist_expr_arr(vec_col)
        return (
            F.element_at(
                F.transform(
                    F.array(darr),
                    lambda d: F.array_position(d, F.array_min(d)),
                ),
                1,
            )
            - 1
        ).cast("int")

    def assign_col(self, vec_col: Column | str) -> Column:
        import pandas as pd
        from pyspark.sql import types as T

        centers = self._centers
        c_sq = (centers**2).sum(axis=1)

        def _assign(batch):
            if len(batch) == 0:  # empty Arrow batch: np.stack would raise
                return pd.Series([], dtype="int32")
            V = np.stack(batch.to_numpy()).astype(np.float64)
            D = -2.0 * (V @ centers.T) + c_sq[None, :]
            return pd.Series(D.argmin(axis=1).astype(np.int32))

        _assign.__annotations__ = {"batch": pd.Series, "return": pd.Series}
        u = F.pandas_udf(_assign, T.IntegerType())
        v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        return u(v.cast("array<double>"))


def duck_dist_list(vec: str, centers) -> str:
    """DuckDB mirror of ``Quantizer.dist_expr_arr`` over the same centroid
    values: per centroid, ``list_reduce`` over a comprehension of squared
    diffs — sequential left-assoc fold, same order as the Spark
    ``aggregate`` (0.0 + t₁ ≡ t₁ bit-exactly), with DOUBLE-forced
    literals (:func:`_dlit`)."""
    dists = []
    for c in centers:
        cl = "[" + ",".join(_dlit(x) for x in c) + "]"
        n = len(c)
        dists.append(
            f"list_reduce([({vec}[i]::DOUBLE - ({cl})[i]) * "
            f"({vec}[i]::DOUBLE - ({cl})[i]) for i in range(1,{n + 1})], "
            "(a,b) -> a + b)"
        )
    return "[" + ", ".join(dists) + "]"


def duck_assign(dl: str) -> str:
    """Nearest-centroid id from a distance-list expression/column ``dl``
    (mirror of ``Quantizer.assign_expr_col``: first-wins argmin,
    0-based)."""
    return f"(list_position({dl}, list_min({dl})) - 1)"


def deterministic_sample(
    df: DataFrame, id_col: str, vec_col: str, cap: int
) -> "np.ndarray":
    """Engine-independent bounded vector sample: TOTAL order by
    (md5(id-as-string), id-as-string), first ``cap`` rows — a pure
    function of the keys, invariant to partitioning and engine, so a SQL
    oracle selecting ``ORDER BY md5(CAST(id AS VARCHAR)), CAST(id AS
    VARCHAR) LIMIT cap`` sees the SAME rows in the SAME order. The order
    matters beyond membership: k-means++ seeding indexes into this array,
    so fit determinism requires order determinism. Distributed shape: the
    ordered limit is a TakeOrdered (per-partition top-cap then merge),
    not a global sort."""
    rows = (
        df.select(
            F.col(id_col).cast("string").alias("_k"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(F.md5(F.col("_k")), F.col("_k"))
        .limit(cap)
        .toPandas()
    )
    return np.stack(rows["_v"].to_numpy()).astype(np.float64)


def fit_quantizer_det(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    train_cap: int = 100_000,
    seed: int = 42,
    sample: "np.ndarray | None" = None,
) -> Quantizer:
    """Deterministic twin of :func:`fit_quantizer`: same seeded numpy
    k-means++ fit, but on the :func:`deterministic_sample` (hash-ordered,
    engine-independent) instead of a Bernoulli sample — given the same
    table, ANY engine reproduces the same centroids, which is what lets
    an oracle embed them as SQL literals (x15/x26).

    ``sample``: the caller's already-collected
    ``deterministic_sample(df, id_col, vec_col, train_cap)`` array —
    pure reuse (the fit is a function of the sample alone), so a
    session fitting several models over one corpus snapshot collects
    the sample once (optimization r15)."""
    X = (
        sample
        if sample is not None
        else deterministic_sample(df, id_col, vec_col, train_cap)
    )
    return Quantizer(_kmeans_fit(X, n_cells, seed))


def sample_vectors(
    df: DataFrame, vec_col: str, cap: int, seed: int
) -> "np.ndarray":
    """Bounded, seeded vector sample as a driver-side (n, dim) array —
    Bernoulli-sampled (oversampled 10%, then capped) when the frame
    exceeds ``cap``, so the collect is bounded regardless of corpus
    size. Arrow ``toPandas`` transfer, not row-at-a-time collect."""
    sample = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    n = df.count()
    if n > cap:
        frac = min(1.0, 1.1 * cap / n)
        sample = sample.sample(fraction=frac, seed=seed).limit(cap)
    return np.stack(sample.toPandas()["_v"].to_numpy()).astype(np.float64)


def fit_quantizer(
    df: DataFrame,
    vec_col: str,
    n_cells: int,
    train_cap: int = 100_000,
    seed: int = 42,
) -> Quantizer:
    """Fit a KMeans coarse quantizer on a bounded, seeded sample.

    A coarse quantizer needs only a sketch of the vector distribution —
    fitting the full corpus would iterate over 100 TB ``maxIter`` times,
    so the fit input is capped at ``train_cap`` rows regardless of corpus
    size. Because the sample is bounded, the Lloyd iterations run
    DRIVER-SIDE in numpy: 20 iterations on ≤100k×64 doubles cost
    milliseconds of BLAS, where the previous pyspark.ml KMeans spent
    ~3-4 s scheduling ~20 Spark jobs for the same arithmetic (measured,
    SCALE.md round 3) — and corpus assignment drops the VectorUDT
    conversion for one Arrow-batched pass. Shared by :func:`ivf_topk`
    and ``dedup.semantic_dedup_pairs``."""
    X = sample_vectors(df, vec_col, train_cap, seed)
    return Quantizer(_kmeans_fit(X, n_cells, seed))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_cap: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    partitions the corpus into cells; each query scores only the
    ``n_probe`` nearest cells.

    Scale shape: the quantizer trains on a bounded, seeded sample of at
    most ``train_cap`` rows (:func:`fit_quantizer` — a coarse quantizer
    needs only a sketch of the distribution); assignment, probe routing
    and scoring are :func:`ivf_topk_expr`'s relational route, so any
    query set — a probe batch or the whole corpus — joins the corpus on
    the cell key with one exchange per side. Recall/cost is tuned by
    n_cells × n_probe."""
    model = fit_quantizer(corpus, vec_col, n_cells, train_cap, seed)
    return ivf_topk_expr(corpus, queries, model, id_col, vec_col, k, n_probe)


def ivf_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    quantizer: Quantizer,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Oracle-checkable IVF top-k: the corpus is partitioned into
    quantizer cells and each query scores only its ``n_probe`` nearest
    cells, with BOTH the cell assignment AND the probe routing as pure
    column expressions over the quantizer's centroid literals
    (``assign_expr_col`` / :func:`_nearest_cells`) — no pandas UDF, no
    driver collect — so a SQL oracle embedding the same centroids
    (:func:`duck_dist_list`) reproduces every cell choice bit-for-bit.
    Pass a :func:`fit_quantizer_det` quantizer for full
    engine-independence. Both sides shuffle once on the cell key."""
    assigned = vectors.cosine_rows(
        corpus, id_col, vec_col, "c",
        quantizer.assign_expr_col(vec_col).alias("cell"),
    )
    probe = _nearest_cells(
        queries, quantizer, n_probe, id_col, vec_col,
        F.col(vec_col).alias("qv"), vectors.norm(vec_col).alias("_nqv"),
    )
    return _topk(vectors.cosine_scored(assigned, probe, "cell"), "cos", k)


def _lsh_scored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
) -> DataFrame:
    """Cosine-scored bucket collisions: corpus and query rows joined on
    their hyperplane bucket key."""
    bk = bucket_key(vec_col, planes).alias("bk")
    return vectors.cosine_scored(
        vectors.cosine_rows(corpus, id_col, vec_col, "c", bk),
        vectors.cosine_rows(queries, id_col, vec_col, "q", bk),
        "bk",
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's hyperplane
    bucket. One shuffle of the corpus on the bucket key; at 100 TB the
    bucket count (2^n_planes) is sized so each bucket fits an executor."""
    planes = hyperplanes(dim, n_planes, seed)
    scored = _lsh_scored(corpus, F.broadcast(queries), id_col, vec_col, planes)
    return _topk(scored, "cos", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search


def _pq_fit(X: "np.ndarray", m: int, ksub: int, seed: int) -> list["np.ndarray"]:
    """Per-subspace k-means codebooks (Jégou et al. 2011, TPAMI — Product
    Quantization for Nearest Neighbor Search): split the dim into ``m``
    contiguous blocks and fit an independent ``ksub``-centroid quantizer
    per block (seed offset by block index). Deterministic given (X, m,
    ksub, seed) — the engine-independence contract the oracle arm needs."""
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    return [
        _kmeans_fit(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j)
        for j in range(m)
    ]


class ProductQuantizer:
    """PQ codebooks: ``m`` sub-quantizers over contiguous dim blocks.
    A vector compresses to ``m`` small codes (m=4, ksub=16 → 4 nibbles
    for a 64-dim float vector: 128× smaller than float64) — the memory
    move that lets a 100 TB embedding corpus live in cluster RAM. All
    executor-side work is pure column expressions over centroid literals
    (the :class:`Quantizer` discipline), so a SQL oracle reproduces codes
    and ADC distances bit-for-bit."""

    def __init__(self, codebooks: list["np.ndarray"]) -> None:
        self.books = [Quantizer(cb) for cb in codebooks]
        self.dsub = int(np.asarray(codebooks[0]).shape[1])

    def _sub(self, vec_col: Column | str, j: int) -> Column:
        v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast(
            "array<double>"
        )
        return F.slice(v, j * self.dsub + 1, self.dsub)

    def _sub_sql(self, vec_sql: str, j: int) -> str:
        return (
            f"slice(CAST({vec_sql} AS ARRAY<DOUBLE>), "
            f"{j * self.dsub + 1}, {self.dsub})"
        )

    def codes_col(self, vec_col: Column | str) -> Column:
        """array<int> of ``m`` nearest-sub-centroid codes (0-based).
        String inputs parse as ONE SQL expression (the py4j fast path,
        see ``Quantizer.dist_sql``)."""
        if isinstance(vec_col, str):
            parts = [
                b.assign_sql(self._sub_sql(_q_ident(vec_col), j))
                for j, b in enumerate(self.books)
            ]
            return F.expr("array(" + ", ".join(parts) + ")")
        return F.array(
            *[b.assign_expr_col(self._sub(vec_col, j)) for j, b in enumerate(self.books)]
        )

    def dtables_col(self, vec_col: Column | str) -> Column:
        """array<array<double>> ADC distance tables: entry [j][c] is the
        squared L2 distance from the query's j-th block to sub-centroid c.
        Computed ONCE per query row (m × ksub folds), after which every
        corpus candidate costs m lookups — the ADC trick. String inputs
        parse as one SQL expression."""
        if isinstance(vec_col, str):
            parts = [
                b.dist_sql(self._sub_sql(_q_ident(vec_col), j))
                for j, b in enumerate(self.books)
            ]
            return F.expr("array(" + ", ".join(parts) + ")")
        return F.array(
            *[b.dist_expr_arr(self._sub(vec_col, j)) for j, b in enumerate(self.books)]
        )


def fit_pq_det(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ksub: int = 16,
    train_cap: int = 100_000,
    seed: int = 42,
    sample: "np.ndarray | None" = None,
) -> ProductQuantizer:
    """Deterministic PQ fit on the hash-total-ordered sample
    (:func:`deterministic_sample`) — same contract as
    :func:`fit_quantizer_det`: any engine reading the same table
    reproduces the same codebooks, so an oracle can embed them as SQL
    literals. ``sample``: pre-collected deterministic sample (see
    :func:`fit_quantizer_det`)."""
    X = (
        sample
        if sample is not None
        else deterministic_sample(df, id_col, vec_col, train_cap)
    )
    return ProductQuantizer(_pq_fit(X, m, ksub, seed))


def adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    pq: ProductQuantizer,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance: the corpus is stored as
    PQ CODES ONLY (m small ints per vector — the compressed form that
    fits RAM at 100 TB), each query precomputes its m×ksub distance
    tables, and a candidate's approximate distance is m table lookups
    summed left-to-right.

    Output: (query_id, rank, vec_id, adist) — rank 1 = nearest, adist =
    approximate squared L2, ties broken by vec_id.

    100 TB shape: the query side (with its tables) broadcasts; the coded
    corpus is scanned map-only — no corpus shuffle, no raw vectors move.
    The per-query top-k window is the same TakeOrdered shape as
    brute-force; for corpus-scale query sets, bucket both sides by an IVF
    cell key first (IVF-PQ = ivf_topk's routing over this scorer)."""
    coded = corpus.select(
        F.col(id_col).alias("vec_id"), pq.codes_col(vec_col).alias("codes")
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), pq.dtables_col(vec_col).alias("dt")
        )
    )
    return _topk(_adc_scored(coded, q), "adist", k, ascending=True)


def duck_pq_codes(vec: str, pq: ProductQuantizer) -> str:
    """DuckDB mirror of ``ProductQuantizer.codes_col`` (same slicing, same
    fold order, same first-wins argmin)."""
    parts = []
    for j, b in enumerate(pq.books):
        lo, hi = j * pq.dsub + 1, (j + 1) * pq.dsub
        dl = duck_dist_list(f"({vec}[{lo}:{hi}])", b._centers)
        parts.append(duck_assign(dl))
    return "[" + ", ".join(parts) + "]"


def duck_pq_dtables(vec: str, pq: ProductQuantizer) -> str:
    """DuckDB mirror of ``ProductQuantizer.dtables_col``."""
    parts = []
    for j, b in enumerate(pq.books):
        lo, hi = j * pq.dsub + 1, (j + 1) * pq.dsub
        parts.append(duck_dist_list(f"({vec}[{lo}:{hi}])", b._centers))
    return "[" + ", ".join(parts) + "]"


# ---------------------------------------------------------------------------
# IVF-PQ: coarse routing + residual PQ codes (the billion-vector layout)


def fit_ivfpq_det(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    m: int = 4,
    ksub: int = 16,
    train_cap: int = 100_000,
    seed: int = 42,
    sample: "np.ndarray | None" = None,
) -> tuple[Quantizer, ProductQuantizer]:
    """Deterministic IVF-PQ fit (Jégou et al. 2011 §IV: PQ codebooks are
    trained on coarse-cell RESIDUALS, not raw vectors — residual energy is
    what the codes must capture once routing has absorbed the cell mean).
    Same engine-independence contract as :func:`fit_quantizer_det`: both
    models derive from the hash-total-ordered sample, so an oracle re-fits
    byte-identical literals. ``sample``: pre-collected deterministic
    sample (see :func:`fit_quantizer_det`)."""
    X = (
        sample
        if sample is not None
        else deterministic_sample(df, id_col, vec_col, train_cap)
    )
    coarse = _kmeans_fit(X, n_cells, seed)
    return coarse_residual_models(X, coarse, m, ksub, seed)


def coarse_residual_models(
    X: "np.ndarray", coarse: "np.ndarray", m: int, ksub: int, seed: int
) -> tuple[Quantizer, ProductQuantizer]:
    """The residual-PQ half of :func:`fit_ivfpq_det`, factored so a
    caller holding the (sample, coarse) pair — e.g. the session-shared
    fit family — derives the same (Quantizer, ProductQuantizer) without
    re-collecting or re-fitting the coarse model. Definitionally the
    fit_ivfpq_det tail: residuals against the argmin cell, then the
    seeded per-block codebooks."""
    D = -2.0 * (X @ coarse.T) + (coarse**2).sum(axis=1)[None, :]
    R = X - coarse[D.argmin(axis=1)]
    return Quantizer(coarse), ProductQuantizer(_pq_fit(R, m, ksub, seed))


def _centers_lit(centers: "np.ndarray") -> Column:
    rows = [
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in centers
    ]
    return F.expr("array(" + ",".join(rows) + ")")


def ivfpq_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: Quantizer,
    pq: ProductQuantizer,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k, fully expression-based (oracle-checkable):
    the corpus stores (cell, residual-PQ codes) — the compressed inverted
    file — and each query probes its ``n_probe`` nearest cells, building a
    PER-PROBED-CELL residual distance table (ADC on q − cell_center).

    100 TB shape: the classic billion-vector layout — both sides exchange
    ONCE on the cell key; candidates materialize only inside probed cells
    (n_probe/n_cells of the corpus); per candidate the scorer does m table
    lookups over nibble codes, and raw vectors never leave their scan.
    Recall tuning: n_cells × n_probe (routing) and m × ksub (code
    resolution) are independent knobs."""
    # Residuals are PROJECTED to a named column so the PQ code/table
    # expressions take the single-parse string fast path (building them
    # through Column-API lambdas costs ~2 py4j round trips per centroid —
    # measured 5.8 s of pure driver time for this query's trees).
    coded = _residual_rows(corpus, coarse, id_col, vec_col, "vec_id").select(
        "vec_id", "cell", pq.codes_col("_rv").alias("codes")
    )
    probe = _probe_tables(queries, coarse, pq, n_probe, id_col, vec_col)
    return _topk(_adc_scored(coded, probe, "cell"), "adist", k, ascending=True)


def _probe_tables(
    queries: DataFrame,
    coarse: Quantizer,
    pq: "ProductQuantizer",
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF-PQ query side: (query_id, cell, dt) per probed cell, ``dt``
    the ADC distance tables of the query's residual against that cell."""
    return _residual(
        _nearest_cells(
            queries, coarse, n_probe, id_col, vec_col,
            F.col(vec_col).alias("qv"),
        ),
        coarse, "qv", "query_id",
    ).select("query_id", "cell", pq.dtables_col("_rv").alias("dt"))


def duck_centers_lit(centers) -> str:
    rows = ["[" + ",".join(_dlit(x) for x in c) + "]" for c in centers]
    return "[" + ", ".join(rows) + "]"


def ivfpq_encode_arrow(
    corpus: DataFrame,
    coarse: Quantizer,
    pq: ProductQuantizer,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production encoder for the IVF-PQ inverted file: one Arrow-batched
    pandas UDF computes (cell, residual PQ codes) per vector with batch
    BLAS. At local test scale the expression arm's folds actually codegen
    fine (encode passes measure within ~1.4× of each other, SCALE.md);
    what this arm buys is a corpus-coding pass whose per-row cost is a
    BLAS row instead of an expression tree that grows with m × ksub ×
    dsub — the knob settings a billion-vector corpus needs (m=16+,
    ksub=256) explode the expression form's size but leave this UDF
    unchanged. The expression arm (:func:`ivfpq_topk_expr`) remains the
    oracle-checkable twin; both agree code-for-code on this corpus
    (asserted in tests — the arithmetic differs by BLAS-vs-fold rounding,
    so agreement is empirical, not structural)."""
    import pandas as pd
    from pyspark.sql import types as T

    centers = coarse._centers
    c_sq = (centers**2).sum(axis=1)
    books = [b._centers for b in pq.books]
    dsub = pq.dsub

    def _enc(batch):
        if len(batch) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "codes": pd.Series([], dtype=object)})
        V = np.stack(batch.to_numpy()).astype(np.float64)
        cell = (-2.0 * (V @ centers.T) + c_sq[None, :]).argmin(axis=1)
        R = V - centers[cell]
        cols = []
        for j, cb in enumerate(books):
            Rj = R[:, j * dsub : (j + 1) * dsub]
            Dj = -2.0 * (Rj @ cb.T) + (cb**2).sum(axis=1)[None, :]
            cols.append(Dj.argmin(axis=1))
        C = np.stack(cols, axis=1).astype(np.int32)
        return pd.DataFrame(
            {"cell": cell.astype(np.int32), "codes": list(C)}
        )

    _enc.__annotations__ = {"batch": pd.Series, "return": pd.DataFrame}
    u = F.pandas_udf(
        _enc,
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        ),
    )
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return corpus.select(
        F.col(id_col).alias("vec_id"), u(v.cast("array<double>")).alias("_s")
    ).select("vec_id", F.col("_s.cell").alias("cell"), F.col("_s.codes").alias("codes"))


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """k-NN majority-vote label prediction — the embedding-space quality/
    topic classifier a curation pipeline runs when it has a small labeled
    seed set and a large unlabeled corpus (label the seed, vote every
    candidate). Prediction for each query = the modal label among its
    ``k`` exact-cosine nearest labeled neighbors (self-matches excluded);
    vote ties break to the smaller label, so results are deterministic
    and oracle-checkable.

    Output: (query_id, label_pred, n_votes, top_cos) — n_votes the
    winning label's count, top_cos the best cosine among its voters
    (rounded 6).

    100 TB shape: neighbor search is :func:`brute_force_topk` (query
    side broadcasts; the corpus never shuffles — swap in lsh_topk /
    ivf_topk for the sublinear path, same voting tail), and the label
    join BROADCASTS the (queries × k)-row neighbor table into the
    corpus-sized label frame — map-only again. Only the final per-query
    vote aggregation shuffles, on ≤ queries × k rows; the winner is the
    same :func:`_topk` kernel at k = 1, with the label in vec_id's
    tie-break place."""
    nn = brute_force_topk(corpus, queries, id_col=id_col, vec_col=vec_col, k=k)
    lab = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        lab.join(F.broadcast(nn), "vec_id")
        # the label takes vec_id's place: the winner is the top-1 by
        # n_votes with ties to the smaller label
        .groupBy("query_id", F.col("_nl").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_votes"),
            F.max("cos").alias("top_cos"),
        )
    )
    return _topk(
        votes, "n_votes", 1, keep=(F.round("top_cos", 6).alias("top_cos"),)
    ).select(
        "query_id", F.col("vec_id").alias("label_pred"), "n_votes", "top_cos"
    )


def jl_project_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """Spark-SQL text of the Johnson-Lindenstrauss random projection:
    output dim j = dot(v, plane_j) · 1/√k (the JL scaling that makes
    expected pairwise distances distortion-free). One parsed expression
    (the ``dist_sql`` single-parse discipline); planes come from
    :func:`hyperplanes`, so the matrix is seeded and engine-invariant."""
    k = len(planes)
    scale = 1.0 / float(np.sqrt(k))
    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    dots = [
        f"(aggregate(zip_with({v}, "
        + "array(" + ",".join(f"{float(x)!r}D" for x in p) + ")"
        + f", (x, y) -> x * y), 0D, (acc, t) -> acc + t) * {scale!r}D)"
        for p in planes
    ]
    return "array(" + ", ".join(dots) + ")"


def jl_project_expr(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """array<double> JL projection of ``vec_col`` (column NAME or
    Column). The dimensionality-reduction front end for every
    embedding-space op here: a 64→16 cut shrinks ANN/dedup distance work
    4× with JL-bounded distortion, and composes with the quantizer /
    PQ / LSH paths unchanged (they are dimension-agnostic).

    100 TB shape: a pure per-row map (zero shuffles, no UDF); the plane
    matrix is a parsed literal, never broadcast state."""
    if isinstance(vec_col, str):
        return F.expr(jl_project_sql(_q_ident(vec_col), planes))
    v = vec_col.cast("array<double>")
    k = len(planes)
    scale = F.lit(1.0 / float(np.sqrt(k)))
    dots = []
    for p in planes:
        parr = F.expr("array(" + ",".join(f"{float(x)!r}D" for x in p) + ")")
        dots.append(
            F.aggregate(
                F.zip_with(v, parr, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            * scale
        )
    return F.array(*dots)


def duck_jl_project_exprs(
    vec_expr: str, planes: list[list[float]], dim: int
) -> list[str]:
    """DuckDB mirrors of each :func:`jl_project_expr` output dimension —
    sequential double sums in plane order (list_sum ≡ the fold), then the
    same single scale multiply."""
    k = len(planes)
    scale = 1.0 / float(np.sqrt(k))
    out = []
    for p in planes:
        lit = "[" + ",".join(_dlit(x) for x in p) + "]"
        out.append(
            f"(list_sum([{vec_expr}[i]::DOUBLE * ({lit})[i] "
            f"for i in range(1, {dim + 1})]) * {_dlit(scale)})"
        )
    return out


def mutual_knn_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    method: str = "lsh",
    dim: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Mutual-kNN pairs: (a, b) where each vector is in the OTHER's
    cosine top-k — the symmetric-consistency criterion bitext/parallel-
    corpus mining uses (a one-directional nearest neighbor is often a
    hub; mutuality filters hubness), and a higher-precision near-dup
    candidate set than one-directional ANN.

    Output: (id_a < id_b, cos, rank_ab, rank_ba) — rank of b in a's
    list and vice versa; ordered by ids.

    ``method="lsh"`` (default — the 100 TB shape): per-query top-k runs
    within the vector's hyperplane bucket, a plain bucket EQUI-JOIN of
    the corpus against itself — both sides are corpus-scale, so neither
    broadcasts; candidate work is Σ n_b² ≈ n²/2^n_planes, held flat by
    growing planes with log₂(n) (the measured x37 law). ``method=
    "brute"`` is the exact all-pairs baseline — O(n²) BY DESIGN (the x05
    precedent), measured 13× wall for 10× corpus; use it for labeled
    ground truth, never at scale. Either way the mutuality step is ONE
    self-join of the slim (n × k)-row neighbor table on the reversed key
    pair, persisted because both join sides consume it (un-persisted,
    the dominant top-k window would run once per side)."""
    from .dedup import _persist

    if method == "brute":
        nn = brute_force_topk(corpus, corpus, id_col=id_col, vec_col=vec_col, k=k)
    elif method == "lsh":
        if dim is None:
            raise ValueError("method='lsh' requires dim (the vector dimension)")
        planes = hyperplanes(dim, n_planes, seed)
        nn = _topk(_lsh_scored(corpus, corpus, id_col, vec_col, planes), "cos", k)
    else:
        raise ValueError(f"unknown method {method!r}; use 'lsh' or 'brute'")
    nn = _persist(nn)
    a = nn.select(
        F.col("query_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("rank").alias("rank_ab"),
        F.col("cos"),
    ).filter(F.col("id_a") < F.col("id_b"))
    b = nn.select(
        F.col("vec_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
        F.col("rank").alias("rank_ba"),
    ).filter(F.col("id_a") < F.col("id_b"))
    return a.join(b, ["id_a", "id_b"]).select(
        "id_a", "id_b", "cos", "rank_ab", "rank_ba"
    )


def fit_label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    dim: int,
) -> tuple[list, "np.ndarray"]:
    """Fit one mean vector per label — the Rocchio/nearest-centroid
    classifier's model. Exact and order-independent: per-(label, dim)
    sums accumulate as decimal(38,12) (bit-identical under any
    partitioning — float summation would drift in the last ulp between
    runs and break the literal-mirror oracle), one division per cell at
    the end. Output is driver-side (labels list, (L, dim) matrix) —
    bounded by the label vocabulary, the same contract as the
    deterministic quantizer fits."""
    rows = (
        df.select(
            F.col(label_col).alias("_l"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("_d", "_v"),
        )
        .groupBy("_l", "_d")
        .agg(
            F.sum(F.col("_v").cast("decimal(38,12)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .collect()
    )
    labels = sorted({r._l for r in rows})
    idx = {l: i for i, l in enumerate(labels)}
    cent = np.zeros((len(labels), dim), dtype=np.float64)
    for r in rows:
        cent[idx[r._l], r._d] = float(r._s) / r._n
    return labels, cent


def nearest_centroid_label(
    vec_col: Column | str, labels: list, centroids: "np.ndarray"
) -> Column:
    """Rocchio classification as a PURE column expression: squared-L2
    argmin over the centroid literals (the :class:`Quantizer` machinery
    — single-parse SQL fast path, first-wins tie-break) mapped back to
    the label vocabulary with element_at. No join, no UDF, no state:
    runs identically on batch and streaming frames — the streaming-safe
    classifier a labeled seed set gives a live ingest stream (fit on
    history with :func:`fit_label_centroids`, apply per micro-batch
    row)."""
    q = Quantizer(centroids)
    lab_arr = F.array(*[F.lit(l) for l in labels])
    return F.element_at(lab_arr, q.assign_expr_col(vec_col) + F.lit(1))


def duck_nearest_centroid_label(
    vec_expr: str, labels: list, centroids: "np.ndarray"
) -> str:
    """DuckDB mirror of :func:`nearest_centroid_label` — same distance
    list (duck_dist_list), same first-wins argmin, same label lookup."""
    dl = duck_dist_list(vec_expr, centroids)
    lab = "[" + ", ".join(
        "'" + str(l).replace("'", "''") + "'" if isinstance(l, str) else str(l)
        for l in labels
    ) + "]"
    return f"({lab})[list_position({dl}, list_min({dl}))]"


def ann_recall_audit(
    truth: DataFrame, approx: DataFrame, k: int = 10
) -> DataFrame:
    """Index-quality audit: per-query recall@k of ANY approximate ANN
    arm against the exact ground truth — the number a pipeline checks
    BEFORE trusting an IVF/LSH/PQ index for retrieval dedup or mining.
    Both inputs are top-k frames in this module's common shape
    (query_id, rank, vec_id, ...); rows beyond rank k are ignored, so a
    deeper truth list can audit a shallower index.

    Output: (query_id, n_true, n_hit, recall DOUBLE round-9), one row
    per query present in ``truth`` — queries the index missed entirely
    score 0, they do not vanish.

    100 TB shape: the expensive work is the SEARCHES that produced the
    inputs; this audit joins two (n_queries × k)-row frames on the slim
    (query_id, vec_id) key and aggregates on the query key — bounded by
    the query set, never by the corpus."""
    t = truth.filter(F.col("rank") <= k).select("query_id", "vec_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "vec_id")
    base = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        t.join(a, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_nh"))
    )
    n_hit = F.coalesce(F.col("_nh"), F.lit(0)).cast("bigint")
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            n_hit.alias("n_hit"),
            F.round(n_hit / F.col("n_true"), 9).alias("recall"),
        )
    )


def duck_ann_recall_sql(truth_cte: str, approx_cte: str) -> str:
    """DuckDB mirror of :func:`ann_recall_audit`: ``truth_cte`` /
    ``approx_cte`` are complete SELECTs yielding (query_id, vec_id)
    already cut at rank ≤ k (compose them from the same mirrors that
    hash-check the underlying searches — x06's brute force, x15's IVF).
    Same left-join/coalesce shape, same fixed-order integer divide."""
    return f"""
    WITH bf AS ({truth_cte}),
    ap AS ({approx_cte}),
    base AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY query_id),
    hits AS (SELECT bf.query_id, count(*) AS _nh
             FROM bf JOIN ap USING (query_id, vec_id)
             GROUP BY bf.query_id)
    SELECT base.query_id, base.n_true,
           CAST(coalesce(hits._nh, 0) AS BIGINT) AS n_hit,
           round(CAST(coalesce(hits._nh, 0) AS BIGINT) / base.n_true, 9)
             AS recall
    FROM base LEFT JOIN hits ON base.query_id = hits.query_id
    ORDER BY base.query_id
    """


def group_centroid_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-label embedding-centroid DRIFT between two corpus snapshots:
    the cosine between each label's old and new mean vector — the
    embedding-space release monitor beside x94's content turnover (a
    producer/model change that rotates a label's region silently breaks
    every downstream ANN index and classifier fit on the old geometry;
    per-dim variance audits like x68 cannot see a rotation that
    preserves marginals). Labels present in only one snapshot are
    omitted (no pair to compare).

    Output: (label_col, n_old, n_new, centroid_cos round-9, drift =
    1 − cos round-9).

    100 TB shape: per snapshot, ONE posexplode exchange folds the
    corpus into the (label × dim)-bounded mean frame with decimal-exact
    sums (order-independent); the cosine then runs on the two bounded
    frames with the same round-12/decimal/round-9 discipline — no
    second corpus pass, no collect."""
    def means(df: DataFrame) -> DataFrame:
        e = df.select(
            F.col(label_col).alias("_l"),
            F.posexplode(F.col(vec_col)).alias("_d", "_v"),
        ).select("_l", "_d", F.col("_v").cast("double").alias("_v"))
        return e.groupBy("_l", "_d").agg(
            (
                F.sum(F.col("_v").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_m")
        )

    def counts(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(F.col(label_col).alias("_l")).agg(
            F.count(F.lit(1)).alias(out)
        )

    om = means(old_df).withColumnRenamed("_m", "_mo")
    nm = means(new_df).withColumnRenamed("_m", "_mn")
    d12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    j = om.join(nm, ["_l", "_d"]).select(
        "_l",
        d12(F.col("_mo") * F.col("_mn")).alias("_xy"),
        d12(F.col("_mo") * F.col("_mo")).alias("_xx"),
        d12(F.col("_mn") * F.col("_mn")).alias("_yy"),
    )
    denom = F.sqrt(F.sum("_xx").cast("double")) * F.sqrt(
        F.sum("_yy").cast("double")
    )
    # all-zero mean vector (padding/failed-encode sentinel embeddings)
    # → zero norm: report NULL, never an ANSI DIVIDE_BY_ZERO that kills
    # the whole report (the sketch ops' empty-side discipline)
    cos = F.when(denom > 0, F.sum("_xy").cast("double") / denom)
    agg = j.groupBy("_l").agg(
        F.round(cos, 9).alias("centroid_cos"),
        F.round(F.lit(1.0) - cos, 9).alias("drift"),
    )
    return (
        agg.join(counts(old_df, "n_old"), "_l")
        .join(counts(new_df, "n_new"), "_l")
        .select(
            F.col("_l").alias(label_col),
            "n_old",
            "n_new",
            "centroid_cos",
            "drift",
        )
    )


def ivf_cell_distortion(
    df: DataFrame,
    vec_col: str,
    centers,
) -> DataFrame:
    """Per-CELL quantization distortion of an IVF coarse quantizer —
    k-means inertia at cell grain: for each vector, squared-L2 to its
    OWN (nearest) centroid; per cell, count and mean. The index-health
    gauge behind the x47/x65 ANN family: a cell whose mean distortion
    is an outlier is under-clustered (its candidate lists will be
    unselective — split it or refit k), and empty cells waste probes.
    The residual-energy complement to x125's separation view.

    Output: (cell, n, mean_sq_dist round-9), ordered by cell — cells
    with no assigned vector are absent (nothing to average).

    Cross-engine: assignment and the distance array are the Quantizer's
    oracle-checkable expression twins (duck_dist_list mirrors the fold
    operation-for-operation); per-cell means accumulate round-12 values
    as decimal(27,18) (the x125 discipline).

    100 TB shape: the centroid matrix rides the expression tree
    (driver literal, ≤ k×dim — the x65 contract), scoring is ONE
    map-only pass, the only exchange is the ≤|cells| aggregation."""
    q = Quantizer(centers)
    t = df.select(
        F.expr(q.dist_sql(_q_ident(vec_col))).alias("_dl")
    ).select(
        F.expr(
            "CAST(element_at(transform(array(_dl), "
            "d -> array_position(d, array_min(d))), 1) - 1 AS INT)"
        ).alias("cell"),
        F.expr("array_min(_dl)").alias("_d"),
    )
    agg = t.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("_d"), 12).cast("decimal(27,18)")).alias("_s"),
    )
    return agg.select(
        "cell",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("_s").cast("double") / F.col("n").cast("double"), 9
        ).alias("mean_sq_dist"),
    ).orderBy("cell")


def duck_ivf_distortion_sql(table: str, vec_expr: str, centers) -> str:
    """DuckDB mirror of :func:`ivf_cell_distortion` — same distance
    list, argmin, and decimal-accumulated mean."""
    dl = duck_dist_list(vec_expr, centers)
    return f"""
    WITH d AS (SELECT {dl} AS _dl FROM {table}),
    t AS (
      SELECT (list_position(_dl, list_min(_dl)) - 1) AS cell,
             list_min(_dl) AS _d
      FROM d
    ),
    agg AS (
      SELECT cell, count(*) AS n,
             sum(CAST(round(_d, 12) AS DECIMAL(27,18))) AS _s
      FROM t GROUP BY cell
    )
    SELECT CAST(cell AS INT) AS cell, CAST(n AS BIGINT) AS n,
           round(CAST(_s AS DOUBLE) / CAST(n AS DOUBLE), 9)
             AS mean_sq_dist
    FROM agg ORDER BY cell
    """


def _sql_label_literal(v) -> str:
    """SQL literal for a cluster-label value of any scalar type —
    integers stay bare, everything else becomes a properly escaped
    string literal (Spark's default parser honors backslash escapes),
    so string-labeled inputs don't crash the array_position lookup
    (r9 ADVICE #2)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, float):
        return repr(v)
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def centroid_silhouette(
    df: DataFrame,
    id_col: str,
    label_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Per-cluster SILHOUETTE quality (Rousseeuw 1987, the centroid
    a.k.a. "simplified" variant — a(i)/b(i) against cluster CENTROIDS
    rather than all-pairs member distances, the form that stays O(n·L)
    instead of O(n²) and is the standard proxy at corpus scale): for
    every vector, a = Euclidean distance to its OWN label's centroid,
    b = distance to the NEAREST OTHER centroid, s = (b − a)/max(a, b).
    Per-label means answer the curation question x62/x91 raise for
    dedup clusters, for the embedding space itself: are the label
    partitions actually separated (s → 1), or entangled (s → 0/neg) —
    the gate before trusting labels for stratified sampling (x16/x85)
    or nearest-centroid routing (x65).

    Output: (label_col, n, mean_a, mean_b, mean_silhouette), all means
    double round-9, ordered by label.

    Cross-engine float discipline: centroids are the exact
    decimal(38,12) means (fit_label_centroids — bit-identical to the
    oracle's DuckDB re-fit); per-row distances are the Quantizer's
    left-fold squared-L2 over centroid literals (mirrored
    operation-for-operation by duck_dist_list), sqrt is IEEE-exact on
    both engines, and the per-label means accumulate decimal(27,18)
    casts of bit-identical doubles — exact, order-independent.

    100 TB shape: the model is a ≤ L×dim driver-side literal (the x65
    contract); scoring is ONE map-only pass (no join — the centroid
    matrix rides the expression tree), and the only exchange is the
    final ≤ |labels| aggregation."""
    labels, cent = fit_label_centroids(df, label_col, vec_col, dim)
    q = Quantizer(cent)
    n_l = len(labels)
    labs_sql = (
        "array(" + ",".join(_sql_label_literal(l) for l in labels) + ")"
    )
    t = df.select(
        F.col(label_col).alias("_lab"),
        F.expr(q.dist_sql(_q_ident(vec_col))).alias("_dl"),
    ).withColumn(
        "_idx", F.expr(f"CAST(array_position({labs_sql}, _lab) AS INT)")
    )
    if n_l == 1:
        # silhouette is undefined with a single cluster (no "nearest
        # OTHER centroid" exists) — publish NULL b/s rather than the
        # Inf/Inf = NaN the general expression would yield (r9 ADVICE).
        v = t.select(
            "_lab",
            F.expr("sqrt(element_at(_dl, _idx))").alias("_a"),
            F.lit(None).cast("double").alias("_b"),
        )
        s = F.lit(None).cast("double")
    else:
        v = t.select(
            "_lab",
            F.expr("sqrt(element_at(_dl, _idx))").alias("_a"),
            F.expr(
                f"sqrt(array_min(transform(sequence(1, {n_l}), "
                f"i -> IF(i = _idx, CAST('Infinity' AS DOUBLE), "
                f"element_at(_dl, i)))))"
            ).alias("_b"),
        )
        s = F.when(
            F.greatest("_a", "_b") > 0,
            (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b"),
        ).otherwise(F.lit(0.0))

    def _mean9(col) -> Column:
        # round-12 BEFORE the decimal cast (the x112/KL pattern): Spark's
        # double→decimal goes through BigDecimal.valueOf (shortest-repr,
        # ~16 sig digits) while DuckDB converts the exact binary value —
        # unrounded casts drift ~1e-15/row and 42 rows were measured to
        # flip the 9th digit of a mean. A 12-decimal value converts
        # identically on both engines.
        return F.round(
            F.sum(F.round(col, 12).cast("decimal(27,18)")).cast("double")
            / F.count(F.lit(1)),
            9,
        )

    return (
        v.groupBy("_lab")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _mean9(F.col("_a")).alias("mean_a"),
            _mean9(F.col("_b")).alias("mean_b"),
            _mean9(s).alias("mean_silhouette"),
        )
        .select(
            F.col("_lab").alias(label_col),
            "n",
            "mean_a",
            "mean_b",
            "mean_silhouette",
        )
        .orderBy(label_col)
    )


def duck_centroid_silhouette_sql(
    tbl: str, label_col: str, vec_expr: str, labels: list, centroids
) -> str:
    """DuckDB mirror of :func:`centroid_silhouette` over the SAME
    centroid values (caller re-fits them decimal-exact from the same
    parquet): same distance list, same own/nearest-other split, same
    decimal-accumulated means."""
    n_l = len(labels)
    dl = duck_dist_list(vec_expr, centroids)
    labs = "[" + ",".join(str(int(l)) for l in labels) + "]"

    def m9(x: str) -> str:
        return (
            f"round(CAST(sum(CAST(round({x}, 12) AS DECIMAL(27,18)))"
            f" AS DOUBLE) / count(*), 9)"
        )

    s = (
        "CASE WHEN greatest(_a, _b) > 0"
        " THEN (_b - _a) / greatest(_a, _b) ELSE 0.0 END"
    )
    return f"""
    WITH t AS (
      SELECT {label_col} AS _lab,
             CAST(list_position({labs}, {label_col}) AS INT) AS _idx,
             {dl} AS _dl
      FROM {tbl}
    ),
    v AS (
      SELECT _lab,
             sqrt(_dl[_idx]) AS _a,
             sqrt(list_min([CASE WHEN i = _idx
                                 THEN 'infinity'::DOUBLE
                                 ELSE _dl[i] END
                            for i in range(1, {n_l + 1})])) AS _b
      FROM t
    )
    SELECT _lab AS {label_col}, count(*) AS n,
           {m9('_a')} AS mean_a,
           {m9('_b')} AS mean_b,
           {m9(s)} AS mean_silhouette
    FROM v GROUP BY _lab ORDER BY {label_col}
    """


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Hard-NEGATIVE mining: for each query vector, the top-k most
    similar corpus vectors carrying a DIFFERENT label — the contrastive-
    training staple (dense-retriever and embedding-model pipelines mine
    exactly this: negatives that are hard because the encoder currently
    confuses them). The complement of :func:`brute_force_topk`'s
    neighbor list under a label constraint; a label-entangled space
    (x125 silhouette → 0) yields negatives with cos → 1, which is the
    curriculum signal.

    Output: (query_id, query_label, rank, vec_id, neg_label, cos
    round-6), ties broken by vec_id; self-matches excluded, like every
    search here.

    100 TB shape: the x06 contract — the bounded query set broadcasts,
    the corpus is scanned MAP-ONLY (label filter fused into the same
    stage, no shuffle of raw vectors), per-partition top-k heaps merge
    ≤ k·|queries| rows. Corpus-scale query sets belong in the x15/x47
    bucketed/IVF routes, not here."""
    c = vectors.cosine_rows(
        corpus, id_col, vec_col, "c", F.col(label_col).alias("neg_label")
    )
    q = vectors.cosine_rows(
        queries, id_col, vec_col, "q", F.col(label_col).alias("query_label")
    )
    scored = vectors.cosine_scored(c, F.broadcast(q)).filter(
        F.col("neg_label") != F.col("query_label")
    )
    return _topk(scored, "cos", k, keep=("query_label", "neg_label")).select(
        "query_id", "query_label", "rank", "vec_id", "neg_label", "cos"
    )


# ---------------------------------------------------------------------------
# choose_ann / run_ann — the ANN family's blocking planner (r10 verdict
# Next #2): the choose_blocking/run_blocking discipline applied to
# similarity search. Reference anchor: gap category — the reference
# (`rule.go:31-43`) validates a rule before running it; this prices an
# index strategy before building it.


def _ann_cost_model(
    n_c: int,
    n_q: int,
    cand_l: int,
    cand_v: int,
    dim: int,
    n_planes: int,
    n_cells: int,
    n_probe: int,
    m: int,
    ksub: int,
) -> dict:
    """SEARCH-time cost of each discipline in multiply-add units (one
    float multiply-add = 1; one ADC table lookup-add = 1), from corpus
    statistics only — the x103 co-occurrence law in the ANN family's
    currency. ``cand_l`` = Σ_buckets |corpus ∩ b|·|queries ∩ b| (LSH),
    ``cand_v`` = Σ_cells |corpus ∩ cell|·|queries probing cell| (IVF
    routing law). Build costs (one-time index construction: bucket
    keys / cell assignment / PQ encoding) are reported separately and
    NOT charged against the search budget — at 100 TB the index is
    built once and amortized over every query batch; the numpy
    quantizer fits are driver-side bounded (≤ train_cap × dim) and
    excluded like choose_blocking excludes its own pricing pass."""
    dsub = dim // m
    return {
        "brute_force": {
            "build_cost": 0,
            "cost": n_q * n_c * dim,
        },
        "lsh_buckets": {
            "build_cost": n_c * n_planes * dim,
            "cost": n_q * n_planes * dim + cand_l * dim,
        },
        "ivf_probe": {
            "build_cost": n_c * n_cells * dim,
            "cost": n_q * n_cells * dim + cand_v * dim,
        },
        "ivfpq_adc": {
            "build_cost": n_c * n_cells * dim + n_c * m * ksub * dsub,
            "cost": (
                n_q * n_cells * dim
                + n_q * n_probe * m * ksub * dsub
                + cand_v * m
            ),
        },
    }


def choose_ann(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    min_recall: float,
    flop_budget: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    n_cells: int = 16,
    n_probe: int = 4,
    pq_m: int = 4,
    pq_ksub: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
    measured_recall: dict | None = None,
    measure: bool = False,
    measure_sample_queries: int = 50,
    quantizer: "Quantizer | None" = None,
    coded: DataFrame | None = None,
    amortize_over: int | None = None,
    pq_sweep=None,
) -> dict:
    """ANN-discipline PLANNER (r10 verdict Next #2 — choose_blocking's
    twin for similarity search): given a recall contract
    (``min_recall`` for top-``k`` retrieval) and a search-time
    ``flop_budget`` (multiply-add units), price all four disciplines —
    brute force / LSH buckets / IVF probing / IVF-PQ ADC — from corpus
    statistics WITHOUT running any search, and return the plan.

    Pricing is ONE Spark job (the choose_blocking union discipline):
    corpus rows emit their LSH bucket and IVF cell keys, query rows
    emit their bucket and *probe-routing* keys (n_probe nearest cells,
    the same expression tree ivf_topk_expr routes with), tagged by
    side; one exchange produces per-key (corpus, query) multiplicities
    whose product-sums are the EXACT candidate counts each discipline's
    scoring stage will touch. Costs then follow :func:`_ann_cost_model`.

    Decision rule — deliberately the MIRROR of choose_blocking's: dedup
    disciplines verify their candidates, so the cheapest
    contract-meeting one wins; an ANN discipline's recall IS its output
    quality, so among disciplines that meet ``min_recall`` AND fit the
    budget, the HIGHEST-RECALL one wins (ties → cheaper). Recall per
    discipline: brute force is 1.0 analytically; LSH/IVF/IVF-PQ have no
    closed form — they are eligible only with a ``measured_recall``
    entry, or ``measure=True``, which runs the planner's own instrument
    (:func:`measure_ann_recall` — the x79 recall audit over a
    deterministic query sample) when the analytic disciplines bust the
    budget, then re-decides.

    ``coded``: an optional (cell, ...) frame from the DURABLE index
    (``streaming/annstore.read_ann_store`` — the sigs= discipline):
    the IVF cell histogram is priced from the materialized store
    instead of re-assigning the corpus, which drops one full-corpus
    expression scan from the pricing job. The LSH bucket keys still
    derive from ``corpus`` (the store holds no raw vectors — by
    design), and the ``#`` corpus count rides the bucket branch.

    ``pq_sweep`` (r13 verdict Next #1): a :func:`pq_plan_sweep` table
    (DataFrame or row list). When given, :func:`choose_pq_params`
    replaces the fixed (pq_m, pq_ksub, n_probe) defaults with the
    cheapest plan MEETING ``min_recall`` before any pricing runs — the
    candidate product-sum then routes at the recommended n_probe, the
    ivfpq_adc discipline carries its sweep-measured recall
    (``recall_source="sweep"``), and the plan records the
    recommendation under ``pq_recommendation``. This is how the
    planner closes a measured quantization gap by spending bytes
    (larger m) instead of serving a fixed-parameter index blind.

    ``amortize_over`` (r11 verdict Next #7): expected number of query
    batches this index will serve. By default build costs are NOT
    charged (the 100 TB posture: the index is built once and amortized
    to nothing) — but for a ONE-SHOT search the LSH/IVF build can
    exceed the brute-force scan it avoids, so ``amortize_over=N``
    charges each discipline ``cost + ceil(build_cost / N)`` against
    the budget (``amortized_cost``; N=1 = fully charged one-shot).
    With a durable store (``coded=``) the IVF/IVF-PQ build is already
    SUNK — those disciplines charge zero build regardless.

    Returns a dict: ``action`` ∈ {"proceed", "over_budget",
    "no_discipline"}, ``chosen``, per-discipline cost/build_cost/
    amortized_cost/recall/eligible/within_budget, the corpus stats,
    and the ``params`` block :func:`run_ann` executes under."""
    if not 0.0 <= min_recall <= 1.0:
        raise ValueError("min_recall must be in [0, 1]")
    if flop_budget < 0:
        raise ValueError("flop_budget must be >= 0")
    measured = dict(measured_recall or {})
    pq_rec = None
    pq_params_changed = False
    if pq_sweep is not None:
        # PQ parameters come from the MEASURED sweep (r13 verdict Next
        # #1): the cheapest (m, ksub, n_probe) meeting min_recall
        # replaces the fixed defaults BEFORE pricing, so the candidate
        # product-sum below routes at the recommended n_probe and the
        # ivfpq discipline's recall is its sweep-measured value — the
        # planner can now close a quantization gap by spending bytes
        # (larger m) instead of silently serving recall 0.15.
        pq_rec = choose_pq_params(pq_sweep, min_recall)
        pq_params_changed = (pq_rec["pq_m"], pq_rec["pq_ksub"]) != (
            pq_m, pq_ksub,
        )
        if pq_rec["n_probe"] != n_probe and "ivf_probe" in measured:
            # a caller-measured ivf_probe recall was measured at the
            # OLD n_probe; carrying it against pricing at the
            # recommended n_probe would pair an inconsistent
            # cost/recall — drop it (measure=True re-measures at the
            # new routing if needed)
            measured.pop("ivf_probe")
        pq_m, pq_ksub, n_probe = (
            pq_rec["pq_m"], pq_rec["pq_ksub"], pq_rec["n_probe"]
        )
        measured["ivfpq_adc"] = pq_rec["recall"]
    if dim % pq_m != 0:
        raise ValueError(f"dim {dim} not divisible by pq_m {pq_m}")
    if quantizer is None:
        quantizer = fit_quantizer_det(
            corpus, id_col, vec_col, n_cells, train_cap, seed
        )
    planes = hyperplanes(dim, n_planes, seed)

    bk = bucket_key(vec_col, planes)
    cor_cells = (
        corpus.select(
            F.concat(
                F.lit("v:"),
                quantizer.assign_expr_col(vec_col).cast("string"),
            ).alias("_key")
        )
        if coded is None
        else coded.select(
            F.concat(F.lit("v:"), F.col("cell").cast("string")).alias(
                "_key"
            )
        )
    )
    cor_keys = (
        corpus.select(F.concat(F.lit("l:"), bk.cast("string")).alias("_key"))
        .unionByName(cor_cells)
        .unionByName(corpus.select(F.lit("#").alias("_key")))
        .withColumn("_side", F.lit("c"))
    )
    probe = _nearest_cells(queries, quantizer, n_probe, id_col, vec_col)
    q_keys = (
        queries.select(
            F.concat(F.lit("l:"), bk.cast("string")).alias("_key")
        )
        .unionByName(
            probe.select(
                F.concat(F.lit("v:"), F.col("cell").cast("string")).alias(
                    "_key"
                )
            )
        )
        .unionByName(queries.select(F.lit("#").alias("_key")))
        .withColumn("_side", F.lit("q"))
    )
    per = (
        cor_keys.unionByName(q_keys)
        .groupBy("_key")
        .agg(
            F.sum(F.when(F.col("_side") == "c", 1).otherwise(0)).alias(
                "_cm"
            ),
            F.sum(F.when(F.col("_side") == "q", 1).otherwise(0)).alias(
                "_qm"
            ),
        )
        .groupBy(F.substring("_key", 1, 1).alias("_d"))
        .agg(
            F.sum(F.expr("_cm * _qm")).alias("_prod"),
            F.sum("_cm").alias("_nc"),
            F.sum("_qm").alias("_nq"),
        )
        .collect()
    )
    stats = {r["_d"]: r for r in per}
    n_c = int(stats["#"]["_nc"]) if "#" in stats else 0
    n_q = int(stats["#"]["_nq"]) if "#" in stats else 0
    cand_l = int(stats["l"]["_prod"] or 0) if "l" in stats else 0
    cand_v = int(stats["v"]["_prod"] or 0) if "v" in stats else 0

    disciplines = _ann_cost_model(
        n_c, n_q, cand_l, cand_v, dim, n_planes, n_cells, n_probe,
        pq_m, pq_ksub,
    )
    disciplines["brute_force"]["recall"] = 1.0
    for name in ("lsh_buckets", "ivf_probe", "ivfpq_adc"):
        disciplines[name]["recall"] = measured.get(name)
    plan = {
        "disciplines": disciplines,
        "n_corpus": n_c,
        "n_queries": n_q,
        "cand_lsh": cand_l,
        "cand_ivf": cand_v,
        "min_recall": min_recall,
        "flop_budget": flop_budget,
        "amortize_over": amortize_over,
    }
    if pq_rec is not None:
        plan["pq_recommendation"] = pq_rec
        disciplines["ivfpq_adc"]["recall_source"] = "sweep"

    def _decide() -> None:
        import math as _math

        for name, d in disciplines.items():
            d["eligible"] = (
                d["recall"] is not None and d["recall"] >= min_recall
            )
            # build amortization (r11 Next #7): charged only when the
            # caller declares an expected batch horizon; a durable
            # store's IVF/IVF-PQ build is sunk and never re-charged.
            # EXCEPT: a pq_sweep recommendation that changes (m, ksub)
            # obsoletes the store's codes — serving them would deliver
            # the OLD recall, so the re-encode is a real cost and the
            # ivfpq build is NOT sunk (the coarse model and cells are
            # untouched, so ivf_probe's build stays sunk either way).
            sunk = coded is not None and (
                name == "ivf_probe"
                or (name == "ivfpq_adc" and not pq_params_changed)
            )
            build = 0 if sunk else d["build_cost"]
            d["amortized_cost"] = d["cost"] + (
                _math.ceil(build / int(amortize_over))
                if amortize_over
                else 0
            )
            d["within_budget"] = d["amortized_cost"] <= flop_budget
        runnable = [
            name
            for name, d in disciplines.items()
            if d["eligible"] and d["within_budget"]
        ]
        if runnable:
            plan.update(
                action="proceed",
                # highest recall wins; ties -> cheaper amortized search
                chosen=max(
                    runnable,
                    key=lambda n: (
                        disciplines[n]["recall"],
                        -disciplines[n]["amortized_cost"],
                    ),
                ),
            )
            return
        eligible = sorted(
            (n for n, d in disciplines.items() if d["eligible"]),
            key=lambda n: disciplines[n]["amortized_cost"],
        )
        if eligible:
            plan.update(action="over_budget", chosen=eligible[0])
        else:
            plan.update(action="no_discipline", chosen=None)

    _decide()
    if measure and plan["action"] != "proceed":
        missing = tuple(
            n
            for n in ("lsh_buckets", "ivf_probe", "ivfpq_adc")
            if disciplines[n]["recall"] is None
        )
        if missing:
            inst = measure_ann_recall(
                corpus, queries, dim,
                which=missing, id_col=id_col, vec_col=vec_col, k=k,
                n_planes=n_planes, n_cells=n_cells, n_probe=n_probe,
                pq_m=pq_m, pq_ksub=pq_ksub, seed=seed,
                train_cap=train_cap,
                sample_queries=measure_sample_queries,
                quantizer=quantizer,
            )
            for name, rec in inst.items():
                disciplines[name]["recall"] = rec
                disciplines[name]["recall_source"] = "instrument"
            plan["instrument_recall"] = inst
            _decide()
    plan["params"] = {
        "dim": dim, "k": k, "n_planes": n_planes, "n_cells": n_cells,
        "n_probe": n_probe, "pq_m": pq_m, "pq_ksub": pq_ksub,
        "seed": seed, "train_cap": train_cap,
    }
    return plan


def measure_ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    which: tuple = ("lsh_buckets", "ivf_probe", "ivfpq_adc"),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    n_cells: int = 16,
    n_probe: int = 4,
    pq_m: int = 4,
    pq_ksub: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
    sample_queries: int = 50,
    quantizer: "Quantizer | None" = None,
) -> dict:
    """The ANN planner's RECALL INSTRUMENT (the x79 audit as a
    callable, mirroring measure_blocking_recall): mean recall@k of each
    approximate discipline against the exact brute-force ground truth,
    over a deterministic md5-hash-ordered QUERY sample. Ground truth
    costs |sample| × |corpus| × dim — the bounded price of making the
    approximate disciplines eligible without a hand-carried recall
    dict. Returns {discipline: mean recall}; honest-estimate caveat:
    recall on the sampled queries estimates, not bounds, full-set
    recall."""
    samp = (
        queries.select(id_col, vec_col)
        .orderBy(
            F.md5(F.col(id_col).cast("string")),
            F.col(id_col).cast("string"),
        )
        .limit(int(sample_queries))
        .localCheckpoint()
    )
    truth = brute_force_topk(corpus, samp, id_col, vec_col, k)
    if quantizer is None and any(
        n in which for n in ("ivf_probe", "ivfpq_adc")
    ):
        quantizer = fit_quantizer_det(
            corpus, id_col, vec_col, n_cells, train_cap, seed
        )
    out: dict = {}
    for name in which:
        if name == "lsh_buckets":
            approx = lsh_topk(
                corpus, samp, dim, id_col, vec_col, k, n_planes, seed
            )
        elif name == "ivf_probe":
            approx = ivf_topk_expr(
                corpus, samp, quantizer, id_col, vec_col, k, n_probe
            )
        elif name == "ivfpq_adc":
            coarse, pq = fit_ivfpq_det(
                corpus, id_col, vec_col, n_cells, pq_m, pq_ksub,
                train_cap, seed,
            )
            approx = ivfpq_topk_expr(
                corpus, samp, coarse, pq, id_col, vec_col, k, n_probe
            )
        else:
            raise ValueError(
                f"no instrument for discipline {name!r} "
                "(brute force is exact)"
            )
        row = (
            ann_recall_audit(truth, approx, k)
            .agg(F.avg("recall").alias("r"))
            .collect()[0]
        )
        out[name] = round(float(row["r"]), 6) if row["r"] is not None else 0.0
    return out


# The sweep table's one schema of record — the x175 entry rebuilds its
# DataFrame from session-cached rows against THIS constant, so the two
# can never drift.
PQ_SWEEP_SCHEMA = (
    "pq_m int, pq_ksub int, n_probe int, code_bytes int, "
    "table_flops_per_query bigint, n_candidates bigint, "
    "scan_flops bigint, n_queries bigint, n_true bigint, "
    "n_hit bigint, recall double"
)


def pq_plan_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    plans: tuple = (
        (2, 16, 4), (4, 8, 4), (4, 16, 4),
        (8, 16, 4), (16, 16, 4), (4, 16, 8),
    ),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    seed: int = 42,
    train_cap: int = 100_000,
    sample: "np.ndarray | None" = None,
    pq_models: dict | None = None,
) -> DataFrame:
    """Empirical PQ parameter sweep (r13 verdict Next #1 — the x100
    LSH banding sweep's twin for the quantization axis): for every
    ``(pq_m, pq_ksub, n_probe)`` plan, the MEASURED recall@k of the
    IVF-PQ search against the exact brute-force ground truth on the
    given query set, beside the plan's exact storage and search cost —
    the recall-vs-bytes law SCALE.md r13 proved was unpriced
    (quantization loss 0.15 at m=4/ksub=16 dominating the 0.875
    routing term, and nothing to tell a planner which m closes it).

    Output, one row per plan (all integers exact, recall a ratio of
    exact integers — cross-engine reproducible):

    - ``code_bytes`` — packed PQ code width ``ceil(m·ceil(log2 ksub)/8)``:
      the bytes-per-vector the 100 TB store actually pays.
    - ``table_flops_per_query`` — routing (n_cells·dim) + per-probed-
      cell ADC table build (n_probe·ksub·dim) in multiply-add units.
    - ``n_candidates`` — EXACT candidates the probed cells yield for
      this query set (Σ_q |corpus ∩ probed(q)| minus self-hits), the
      data-dependent term of the scan cost.
    - ``scan_flops`` — n_candidates · m (one table lookup-add per
      sub-code per candidate).
    - ``n_queries`` — the audit sample size (the whole-sample cost a
      plan comparison must scale the per-query table term by).
    - ``n_true`` / ``n_hit`` / ``recall`` — micro-averaged recall@k:
      Σ hits / Σ truth rows over the query set (a ratio of two exact
      integers, so both engines round the same quotient).

    Cost shape: ONE brute-force truth pass (|queries|·|corpus|·dim —
    the bounded instrument price, queries is a SAMPLE) + one coded
    search per plan; the corpus is never shuffled (ivfpq_topk_expr
    exchanges on the cell key only). All models fit deterministically
    from the hash-total-ordered sample, so a SQL oracle re-derives
    every row (the x44/x47 contract).

    Feed the result to :func:`choose_pq_params` / ``choose_ann(...,
    pq_sweep=...)`` to turn the table into a parameter recommendation
    meeting a recall target at minimum cost.

    ``sample``/``pq_models``: session-shared fit inputs (optimization
    r15, pure reuse — x175's cold rep used to re-collect the sample and
    re-fit models other entries had already fitted). ``sample`` is the
    caller's ``deterministic_sample(corpus, id_col, vec_col,
    train_cap)``; ``pq_models`` maps ``(m, ksub)`` to the residual-PQ
    model of :func:`fit_ivfpq_det` at THIS (n_cells, train_cap, seed) —
    both are definitionally what the sweep fits itself, so the table is
    byte-identical either way (pinned by test)."""
    import math as _math

    for m, ksub, _np_ in plans:
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by pq_m {m}")
        if ksub < 2:
            raise ValueError(f"pq_ksub must be >= 2, got {ksub}")
    if len(set(map(tuple, plans))) != len(plans):
        raise ValueError("duplicate plan triples in plans")
    spark = corpus.sparkSession
    cor = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    samp = queries.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).localCheckpoint()
    truth = brute_force_topk(cor, samp, k=k)
    truth = truth.select("query_id", "rank", "vec_id").localCheckpoint()

    # one deterministic fit input, one coarse model, one residual set —
    # shared by every plan; each DISTINCT (m, ksub) fits its codebooks
    # once (plans differing only in n_probe used to re-fit identical
    # codebooks — optimization r15)
    X = (
        sample
        if sample is not None
        else deterministic_sample(cor, "vec_id", "embedding", train_cap)
    )
    coarse_np = _kmeans_fit(X, n_cells, seed)
    D = -2.0 * (X @ coarse_np.T) + (coarse_np**2).sum(axis=1)[None, :]
    R = X - coarse_np[D.argmin(axis=1)]
    coarse = Quantizer(coarse_np)
    pqs: dict = {}
    for m, ksub, _np_ in plans:
        if (m, ksub) in pqs:
            continue
        if pq_models is not None and (m, ksub) in pq_models:
            pqs[(m, ksub)] = pq_models[(m, ksub)]
        else:
            pqs[(m, ksub)] = ProductQuantizer(_pq_fit(R, m, ksub, seed))

    # The coarse side of every plan is IDENTICAL (cell assignment and
    # residuals depend on the coarse model only, never on m/ksub/
    # n_probe) — so the corpus residual frame and the query routing/
    # residual frame are computed ONCE and checkpointed; per plan only
    # the PQ code/table expressions differ. This is the whole wall-time
    # budget of the sweep: building + analyzing the 1024-literal
    # centroid trees per plan measured ~2 s/plan of pure driver time.
    resc = _residual_rows(
        cor, coarse, "vec_id", "embedding", "vec_id"
    ).localCheckpoint()
    max_np = max(p[2] for p in plans)
    probe = _residual(
        _nearest_cells(
            samp, coarse, max_np, "vec_id", "embedding",
            F.col("embedding").alias("_qv"),
        ),
        coarse, "_qv", "query_id", "_rn",
    ).localCheckpoint()

    # exact candidate counts per n_probe by pure arithmetic over three
    # tiny collects (cell histogram, query routing, own-row cells):
    # Σ_q |corpus ∩ probed(q)| − self-hits, for ANY n_probe, with no
    # per-plan join
    hist = {
        int(r["cell"]): int(r["n"])
        for r in resc.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    routing = probe.select("query_id", "cell", "_rn").collect()
    # the scorer drops vec_id == query_id: a self-hit exists iff the
    # CORPUS row carrying the query's id lands in a probed cell — so
    # the subtraction uses the corpus row's cell, not the query
    # vector's own assignment (they differ when the corpus copy of the
    # id holds a different vector, e.g. a re-appended embedding)
    own = {
        (r["vec_id"], int(r["cell"])): int(r["n"])
        for r in resc.join(samp.select("vec_id"), "vec_id", "left_semi")
        .groupBy("vec_id", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def candidates(n_probe: int) -> int:
        total = 0
        for r in routing:
            if int(r["_rn"]) <= n_probe:
                total += hist.get(int(r["cell"]), 0)
                # the scorer drops EVERY corpus row whose vec_id equals
                # the query id — a multiset count, so a duplicated id
                # (re-appended embedding) subtracts each of its copies
                total -= own.get((r["query_id"], int(r["cell"])), 0)
        return total

    # ALL plans' searches ride ONE action: each plan's top-k frame is
    # tagged with its (m, ksub, n_probe) and unioned, then a single
    # truth-join counts hits per plan — job-launch overhead is paid
    # once, not per plan (6 separate audit jobs measured ~6× slower at
    # small SF, pure scheduling)
    union = None
    for m, ksub, n_probe in plans:
        pq = pqs[(m, ksub)]
        coded = resc.select(
            "vec_id", "cell", pq.codes_col("_rv").alias("codes")
        )
        pdt = probe.filter(F.col("_rn") <= n_probe).select(
            "query_id", "cell", pq.dtables_col("_rv").alias("dt")
        )
        ap = _topk(
            _adc_scored(coded, pdt, "cell"), "adist", k, ascending=True
        ).select(
            F.lit(m).alias("pq_m"),
            F.lit(ksub).alias("pq_ksub"),
            F.lit(n_probe).alias("n_probe"),
            "query_id", "vec_id",
        )
        union = ap if union is None else union.unionByName(ap)
    n_true = truth.count()  # every plan audits the same truth set
    n_queries = samp.count()
    # the truth frame is |queries|·k rows — broadcast it so the audit
    # join never shuffles the plan-union side (map-side hash join +
    # partial agg; the only exchange left is the ≤|plans| final agg)
    hits = {
        (int(r["pq_m"]), int(r["pq_ksub"]), int(r["n_probe"])): int(r["h"])
        for r in F.broadcast(truth.select("query_id", "vec_id"))
        .join(union, ["query_id", "vec_id"])
        .groupBy("pq_m", "pq_ksub", "n_probe")
        .agg(F.count(F.lit(1)).alias("h"))
        .collect()
    }
    rows = []
    for m, ksub, n_probe in plans:
        n_hit = hits.get((m, ksub, n_probe), 0)
        code_bits = m * _math.ceil(_math.log2(ksub))
        cand = candidates(n_probe)
        rows.append(
            (
                m, ksub, n_probe,
                (code_bits + 7) // 8,
                n_cells * dim + n_probe * ksub * dim,
                cand,
                cand * m,
                n_queries, n_true, n_hit,
                round(n_hit / n_true, 9) if n_true else 0.0,
            )
        )
    return spark.createDataFrame(rows, PQ_SWEEP_SCHEMA).orderBy(
        "pq_m", "pq_ksub", "n_probe"
    )


def choose_pq_params(sweep, min_recall: float) -> dict:
    """Turn a :func:`pq_plan_sweep` table into THE parameter
    recommendation: among plans whose measured recall meets
    ``min_recall``, the cheapest wins — by ``code_bytes`` first (the
    100 TB constraint is the store's memory footprint), then total
    search flops, then higher recall, then the (m, ksub, n_probe)
    triple for a deterministic tie. When no plan meets the target the
    answer is the highest-recall plan with ``action="below_target"`` —
    the honest "your grid tops out at X" report a caller escalates on
    (widen the grid: larger m / ksub / n_probe) rather than silently
    serving the miss."""
    if not 0.0 <= min_recall <= 1.0:
        raise ValueError("min_recall must be in [0, 1]")
    if isinstance(sweep, DataFrame):
        sweep = sweep.collect()
    rows = [
        r.asDict() if hasattr(r, "asDict") else dict(r) for r in sweep
    ]
    if not rows:
        raise ValueError("empty PQ sweep")

    def cost_key(r):
        # whole-sample search total: the per-query table build is paid
        # once per query, the scan term is already sample-wide — adding
        # them raw would underweight the table term by |queries|
        return (
            r["code_bytes"],
            r["n_queries"] * r["table_flops_per_query"]
            + r["scan_flops"],
            -r["recall"],
            r["pq_m"], r["pq_ksub"], r["n_probe"],
        )

    meeting = [r for r in rows if r["recall"] >= min_recall]
    if meeting:
        best = min(meeting, key=cost_key)
        action = "proceed"
    else:
        best = min(
            rows,
            key=lambda r: (
                -r["recall"], r["code_bytes"],
                r["pq_m"], r["pq_ksub"], r["n_probe"],
            ),
        )
        action = "below_target"
    return {
        "action": action,
        "min_recall": min_recall,
        "pq_m": int(best["pq_m"]),
        "pq_ksub": int(best["pq_ksub"]),
        "n_probe": int(best["n_probe"]),
        "recall": float(best["recall"]),
        "code_bytes": int(best["code_bytes"]),
        "table_flops_per_query": int(best["table_flops_per_query"]),
        "scan_flops": int(best["scan_flops"]),
        "n_plans": len(rows),
    }


def run_ann(
    corpus: DataFrame,
    queries: DataFrame,
    plan: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    slack: float = 1.5,
    quantizer: "Quantizer | None" = None,
    store_dir: str | None = None,
) -> DataFrame:
    """Execute the discipline a :func:`choose_ann` plan chose, with the
    priced contract ENFORCED (the run_blocking x140 discipline for the
    ANN family): the output top-k frame carries a LAZY in-plan
    ``raise_error`` guard that re-derives the realized CANDIDATE count
    from the CURRENT corpus/queries via the same product law the
    planner priced with, and aborts at first evaluation if it exceeds
    the plan's candidate estimate × ``slack`` — a corpus or query set
    that mutated between pricing and execution fails fast instead of
    silently running a search the budget never sanctioned. (The
    routing/dtable terms of the cost are pure arithmetic in the counts,
    so candidates are the only data-dependent exposure.)

    Output: the chosen discipline's native top-k frame — (query_id,
    rank, vec_id, cos) for brute/LSH/IVF, (query_id, rank, vec_id,
    adist) for IVF-PQ; rank ≤ plan k per query in all cases.

    Quantizer reuse: pass the SAME pre-fitted coarse quantizer the plan
    priced with when you have it; otherwise the deterministic fit
    (:func:`fit_quantizer_det` at the plan's stamped params) reproduces
    it exactly.

    ``store_dir``: when the IVF-PQ discipline wins and a durable index
    exists (``streaming/annstore``), serve from the STORE —
    ``adc_search_store`` answers from the frozen manifest + the
    cell-partitioned codes (raw corpus vectors never read; the
    realized-count guard derives from the store's cell histogram) —
    the planner → durable-index handoff end to end."""
    if plan.get("action") != "proceed":
        raise ValueError(
            f"plan is not runnable: action={plan.get('action')!r} "
            f"(chosen={plan.get('chosen')!r}); raise flop_budget or "
            f"supply measured_recall / measure=True and re-plan"
        )
    chosen = plan["chosen"]
    p = plan["params"]
    dim, k, seed = p["dim"], p["k"], p["seed"]
    n_planes, n_cells, n_probe = p["n_planes"], p["n_cells"], p["n_probe"]

    def product(c_keys: DataFrame, q_keys: DataFrame, key: str) -> DataFrame:
        # the planner's candidate law: Σ_key |corpus ∩ key|·|queries ∩ key|
        ch = c_keys.groupBy(key).agg(F.count(F.lit(1)).alias("_cm"))
        qh = q_keys.groupBy(key).agg(F.count(F.lit(1)).alias("_qm"))
        return ch.join(qh, key).agg(
            F.coalesce(F.sum(F.expr("_cm * _qm")), F.lit(0)).alias("_realized")
        )

    if chosen == "brute_force":
        est = plan["n_corpus"] * plan["n_queries"]
        realized = (
            corpus.agg(F.count(F.lit(1)).alias("_nc"))
            .crossJoin(queries.agg(F.count(F.lit(1)).alias("_nq")))
            .select((F.col("_nc") * F.col("_nq")).alias("_realized"))
        )
        result = brute_force_topk(corpus, queries, id_col, vec_col, k)
    elif chosen == "lsh_buckets":
        est = plan["cand_lsh"]
        bk = bucket_key(vec_col, hyperplanes(dim, n_planes, seed)).alias("_bk")
        realized = product(corpus.select(bk), queries.select(bk), "_bk")
        result = lsh_topk(
            corpus, queries, dim, id_col, vec_col, k, n_planes, seed
        )
    elif chosen in ("ivf_probe", "ivfpq_adc"):
        est = plan["cand_ivf"]
        if chosen == "ivfpq_adc" and store_dir is not None:
            # serve from the durable index: routing + dtables from the
            # manifest's frozen literals, candidates from the probed cell
            # partitions, realized count from the store's own histogram
            from ..streaming.annstore import (
                adc_search_store,
                load_ann_model,
                read_ann_store,
            )

            model = load_ann_model(store_dir)
            if model is None:
                raise FileNotFoundError(f"no ANN model manifest in {store_dir}")
            quantizer = model[0]
            spark = corpus.sparkSession
            cells = read_ann_store(spark, store_dir)
            result = adc_search_store(
                spark, store_dir, queries, id_col, vec_col, k, n_probe
            )
        else:
            if quantizer is None:
                quantizer = fit_quantizer_det(
                    corpus, id_col, vec_col, n_cells, p["train_cap"], seed
                )
            cells = corpus.select(
                quantizer.assign_expr_col(vec_col).alias("cell")
            )
            if chosen == "ivf_probe":
                result = ivf_topk_expr(
                    corpus, queries, quantizer, id_col, vec_col, k, n_probe
                )
            else:
                coarse, pq = fit_ivfpq_det(
                    corpus, id_col, vec_col, n_cells, p["pq_m"],
                    p["pq_ksub"], p["train_cap"], seed,
                )
                result = ivfpq_topk_expr(
                    corpus, queries, coarse, pq, id_col, vec_col, k, n_probe
                )
        probes = _nearest_cells(queries, quantizer, n_probe, id_col, vec_col)
        realized = product(cells, probes, "cell")
    else:  # pragma: no cover — planner only emits the four above
        raise ValueError(f"unknown discipline {chosen!r}")

    cap = int(est * slack)
    guard = F.when(
        F.col("_realized") > cap,
        F.raise_error(
            F.format_string(
                "run_ann: realized candidate count %s for discipline "
                f"'{chosen}' exceeds the priced estimate {est} x slack "
                f"{slack} = {cap}; the corpus or query set changed "
                "after pricing - re-run choose_ann",
                F.col("_realized").cast("string"),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return (
        result.crossJoin(F.broadcast(realized))
        .filter(guard)
        .drop("_realized")
    )
