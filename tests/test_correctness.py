"""Differential correctness: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 gate (CORRECTNESS_r{N}.json): same row count, same
column names, same multiset of row values (order-insensitive, like the
driver's sorted-columns value hash). Run at sf0.001 for speed; the driver
runs sf0.01.
"""

from __future__ import annotations

import math
import os

import pytest

from conftest import SF_SMALL, register_duck_views

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)

#: Oracle smoke kept in the default run: the entries that go through the
#: dedup blocked-pair kernel (operators/dedup.py), the entries that go
#: through the ANN search kernels (operators/similarity.py; x175 stays
#: slow, it takes over a minute alone) and q43's exact-moment oracle.
#: Every other per-entry compare is marked ``slow`` — it duplicates the
#: full-registry self-check (scripts/check_correctness.py) — and
#: scripts/close_round.py forces the slow set back on with `-o addopts=`.
SMOKE = {
    "x02_dedup_minhash_lsh", "x03_dedup_simhash", "x04_dedup_ngram_jaccard",
    "x05_dedup_embedding", "x37_dedup_lsh_bucketed", "x75_sketch_accuracy",
    "x82_containment_pairs", "x92_syndication_matrix", "x100_lsh_plan_sweep",
    "x113_winnow_pair_screen", "x115_sorted_neighborhood",
    "x119_snm_multikey", "x140_run_blocking_handoff",
    "x06_ann_cosine_topk", "x13_ann_lsh", "x15_ann_ivf", "x44_pq_adc",
    "x47_ivfpq", "x59_knn_classify", "x64_mutual_knn",
    "x79_ann_recall_audit", "x127_hard_negatives", "x157_ann_choice",
    "x166_ann_store_search", "x167_ann_search_stream",
    "q43_exact_corr",
}


def normalize(rows, cols):
    """Canonical, order-insensitive representation of a result set with
    column-name-sorted values (what the driver's value hash sees)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else repr(round(v, 9))
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


def all_oracle_queries():
    from go_fish_spark.queries import REGISTRY

    return [
        pytest.param(name, marks=() if name in SMOKE else pytest.mark.slow)
        for name, qd in REGISTRY.items()
        if qd.oracle is not None
    ]


@pytest.mark.parametrize("name", all_oracle_queries())
def test_query_matches_oracle(name, spark, duck):
    from go_fish_spark.queries import REGISTRY, resolve_oracle

    qd = REGISTRY[name]
    register_duck_views(duck, SF_DIR)
    oracle = resolve_oracle(qd, SF_DIR)
    if oracle is None:
        pytest.skip(f"{name}: oracle unresolvable at {SF_DIR}")

    sdf = qd.fn(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracle)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    if ns != nd:
        diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.slow
def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == [
        "doc_id", "lang_pred", "score", "split", "n_members", "cluster_bucket",
    ]


@pytest.mark.slow
def test_registry_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


@pytest.mark.slow
def test_funnel_steps_order_sensitivity(spark):
    """q80 semantics: a step counts only strictly AFTER the user's first
    event of the previous step — a click before any view does not
    convert, nor does a purchase at the same instant as the click."""
    import tempfile

    from pyspark.sql import functions as F

    from go_fish_spark.queries import REGISTRY

    rows = [
        # u1: full ordered funnel
        (1, "2024-01-01 00:00:01", 1, "view"),
        (2, "2024-01-01 00:00:02", 1, "click"),
        (3, "2024-01-01 00:00:03", 1, "purchase"),
        # u2: click BEFORE first view → no click conversion
        (4, "2024-01-01 00:00:01", 2, "click"),
        (5, "2024-01-01 00:00:02", 2, "view"),
        # u3: purchase at the SAME instant as the click → not after
        (6, "2024-01-01 00:00:01", 3, "view"),
        (7, "2024-01-01 00:00:02", 3, "click"),
        (8, "2024-01-01 00:00:02", 3, "purchase"),
        # u4: view only
        (9, "2024-01-01 00:00:01", 4, "view"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, t, 0.0, "{}") for i, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")
        out = {
            r.step: r.n_users
            for r in REGISTRY["q80_funnel_steps"].fn(spark, td).collect()
        }
    assert out == {"1_view": 4, "2_click": 2, "3_purchase": 1}
