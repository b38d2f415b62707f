"""Vector column expressions (dot product, norms, cosine) over
``array<float>`` embedding columns.

Built from higher-order functions (``zip_with`` + ``aggregate``), so the
math runs JVM-side per row with zero Python involvement. All arithmetic is
promoted to double *before* accumulation: float accumulation would make the
result depend on nothing but still diverge (~1e-6) from any double-based
oracle, breaking hash comparison.

:func:`cosine_rows` + :func:`cosine_scored` are the one cosine pair scan
the similarity searches share (``operators/similarity.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _d(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """:func:`cosine` with the two norms precomputed per ROW (``na`` /
    ``nb`` must be ``norm(a)`` / ``norm(b)``): bit-identical IEEE result —
    the same ``dot`` and the same ``na * nb`` product order — but a pair
    scan evaluates ONE zip_with aggregate per pair instead of three (plus
    six array casts), because the norms depend only on one side each and
    ride the pre-join row. The pair-join/crossJoin fast path; per-row
    call sites keep :func:`cosine`."""
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    return dot(a, b) / (na * nb)


def cosine_rows(
    df: DataFrame, id_col: str, vec_col: str, side: str, *extra: Column
) -> DataFrame:
    """One side of a cosine pair scan for :func:`cosine_scored`: corpus
    rows (vec_id, cv, _ncv, *extra) for ``side="c"``, query rows
    (query_id, qv, _nqv, *extra) for ``side="q"``; the norm rides the
    row, so a pair evaluates one aggregate."""
    ids, vecs, n = (
        ("vec_id", "cv", "_ncv") if side == "c" else ("query_id", "qv", "_nqv")
    )
    return df.select(
        F.col(id_col).alias(ids), F.col(vec_col).alias(vecs),
        norm(vec_col).alias(n), *extra,
    )


def cosine_scored(c: DataFrame, q: DataFrame, on: str | None = None) -> DataFrame:
    """Cosine-scored candidate pairs: :func:`cosine_rows` corpus rows
    ``c`` against query rows ``q``, joined on the shared column ``on``
    (every pair when None), self-matches dropped, ``cos`` added through
    :func:`cosine_pre`. Pass ``F.broadcast(q)`` for a bounded query set,
    so the corpus never shuffles, and plain ``q`` when both sides are
    corpus-scale."""
    pairs = c.crossJoin(q) if on is None else c.join(q, on)
    return pairs.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        "cos", cosine_pre("cv", "qv", "_ncv", "_nqv")
    )


def duck_cosine(a: str, b: str, dim: int) -> str:
    """DuckDB mirror of :func:`cosine`: explicit double-promoted
    sequential sums (NOT list_cosine_similarity, whose float accumulation
    order is unspecified)."""

    def s(expr: str) -> str:
        return f"list_sum([{expr} for i in range(1, {dim + 1})])"

    d = s(f"{a}[i]::DOUBLE * {b}[i]::DOUBLE")
    na = s(f"{a}[i]::DOUBLE * {a}[i]::DOUBLE")
    nb = s(f"{b}[i]::DOUBLE * {b}[i]::DOUBLE")
    return f"({d} / (sqrt({na}) * sqrt({nb})))"


def truncate(a: Column | str, d: int) -> Column:
    """First ``d`` dimensions, double-promoted — the matryoshka/MRL cut.
    A pure slice: at 100 TB this (plus a renorm) is how an embedding
    store serves multiple precision/cost tiers from one stored vector."""
    return F.slice(_d(a), 1, d)


def energy_fraction(a: Column | str, d: int) -> Column:
    """||a[:d]||² / ||a||² — how much of the vector's energy the first
    ``d`` dims retain; the standard matryoshka-truncation quality gauge."""
    t = truncate(a, d)
    return dot(t, t) / dot(a, a)


def quant_scale(a: Column | str) -> Column:
    """Symmetric int8 scale: max |aᵢ| / 127 (double). 0.0 only for the
    all-zero vector — gate on it before dividing."""
    return F.array_max(F.transform(_d(a), F.abs)) / F.lit(127.0)


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """round(aᵢ/scale) clamped to [-127, 127], as array<bigint>. The
    rounding is an explicit floor(x + 0.5) — identical text in the DuckDB
    mirror, dodging the engines' differing round-half conventions."""
    return F.transform(
        _d(a),
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + F.lit(0.5)))
        ).cast("bigint"),
    )


def dequantize(q: Column, scale: Column) -> Column:
    """qᵢ · scale — the reconstruction whose cosine against the original
    measures quantization loss."""
    return F.transform(q, lambda x: x.cast("double") * scale)
