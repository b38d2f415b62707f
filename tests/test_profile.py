"""Corpus-profile operators (operators/profile.py) + PageRank
(operators/graph.py): golden-value unit tests on constructed inputs (the
sf-corpus oracle compares are x67–x71 in the registry self-check), the
exact gate/batch parity laws of the frozen-baseline gates, and the
declarable row gates (tasks/builtin.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_length_drift_zero_when_groups_identical(spark):
    from go_fish_spark.operators.profile import length_drift

    # two sources with IDENTICAL length distributions → KL = 0 for both
    rows = []
    for src in ("a", "b"):
        rows += [(src, "x" * 10)] * 3 + [(src, "y" * 100)] * 2
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r.source: r for r in length_drift(df, "source", "text").collect()}
    assert out["a"].kl == 0.0 and out["b"].kl == 0.0
    assert out["a"].n_docs == 5

    # skew source 'b' entirely into the long bin → strictly positive KL
    rows2 = [("a", "x" * 10)] * 5 + [("b", "y" * 100)] * 5
    df2 = spark.createDataFrame(rows2, "source string, text string")
    out2 = {r.source: r for r in length_drift(df2, "source", "text").collect()}
    assert out2["a"].kl > 0.0 and out2["b"].kl > 0.0
    # NULL text is excluded, not crashed on
    df3 = df2.unionByName(
        spark.createDataFrame([("a", None)], "source string, text string")
    )
    out3 = {r.source: r.n_docs for r in length_drift(df3, "source", "text").collect()}
    assert out3["a"] == 5


def test_embedding_dim_stats_golden(spark):
    from go_fish_spark.operators.profile import embedding_dim_stats

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0]), (3, [5.0, 0.0])],
        "id long, v array<double>",
    )
    out = {r.dim: r for r in embedding_dim_stats(df, "v").collect()}
    assert out[0].n == 3 and out[0].n_zero == 0
    assert out[0].mean == 3.0
    # var = E[x^2] - mean^2 = (1+9+25)/3 - 9 = 35/3 - 9
    assert out[0].var == pytest.approx(35.0 / 3.0 - 9.0, abs=1e-9)
    assert out[1].n_zero == 3 and out[1].mean == 0.0 and out[1].var == 0.0


def test_vocab_growth_monotone_and_exact(spark):
    from go_fish_spark.operators.profile import vocab_growth

    df = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "alpha gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    out = vocab_growth(df, "doc_id", "text").collect()
    assert [r.step for r in out] == list(range(1, 11))
    # monotone non-decreasing curves, exact totals at step 10
    for col in ("n_docs", "n_tokens", "n_distinct_tokens"):
        vals = [r[col] for r in out]
        assert vals == sorted(vals)
    last = out[-1]
    assert last.n_docs == 40
    assert last.n_tokens == 20 * 2 + 20 * 3
    assert last.n_distinct_tokens == 4
    # layout invariance: same curve from a repartitioned frame
    out2 = vocab_growth(df.repartition(7), "doc_id", "text").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_boilerplate_affixes_golden(spark):
    from go_fish_spark.operators.profile import boilerplate_affixes

    df = spark.createDataFrame(
        [
            (1, "HEADER: site-x | body one | (c) site-x corp"),
            (2, "HEADER: site-x | body twos | (c) site-x corp"),
            (3, "totally different text here now ok"),
            (4, "tiny"),  # shorter than k → excluded
        ],
        "doc_id long, text string",
    )
    out = {
        (r.kind, r.affix): (r.n_docs, r.min_doc, r.max_doc)
        for r in boilerplate_affixes(df, "doc_id", "text", k=16, min_docs=2).collect()
    }
    assert out == {
        ("prefix", "HEADER: site-x |"): (2, 1, 2),
        ("suffix", " (c) site-x corp"): (2, 1, 2),
    }


def test_pagerank_star_and_isolated(spark):
    from go_fish_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    # star: 0 is the hub of 1..4; node 5 isolated
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    out = {r.id: r.pr for r in pagerank(nodes, edges, n_iter=5).collect()}
    assert len(out) == 6
    # hub outranks every leaf; leaves are symmetric (equal ranks)
    assert all(out[0] > out[i] for i in range(1, 5))
    assert len({out[i] for i in range(1, 5)}) == 1
    # isolated node holds the floor (1-d)/N
    assert out[5] == pytest.approx(0.15 / 6, abs=1e-9)
    # layout invariance
    out2 = {
        r.id: r.pr
        for r in pagerank(nodes.repartition(4), edges.repartition(3), n_iter=5).collect()
    }
    assert out == out2


def test_pagerank_validates_n_iter(spark):
    from go_fish_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,)], "id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(nodes, edges, n_iter=0)
    with pytest.raises(ValueError, match="max_degree"):
        pagerank(nodes, edges, n_iter=1, max_degree=0)


def test_pagerank_max_degree_golden_vs_duckdb(spark):
    """Golden for the opt-in hub cap (round-5 verdict #3): ``max_degree``
    keeps each node's k smallest-dst out-edges. Semantics CHANGE (a
    capped hub distributes less rank mass), so the contract is (a) the
    capped result differs from uncapped on a hub-heavy graph, (b) it
    bit-matches the duck_pagerank_sql mirror with the same cap, and
    (c) it is partition-layout invariant."""
    import duckdb

    from go_fish_spark.operators.graph import duck_pagerank_sql, pagerank

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    # hub 0 pairs with everyone (a boilerplate template); plus a chain
    # 1-2, 3-4, ... so leaves are not symmetric
    pair_rows = [(0, i) for i in range(1, n)] + [
        (i, i + 1) for i in range(1, n - 1, 2)
    ]
    edges = spark.createDataFrame(pair_rows, "id_a long, id_b long")

    capped = {
        r.id: r.pr
        for r in pagerank(nodes, edges, n_iter=4, max_degree=3).collect()
    }
    uncapped = {
        r.id: r.pr for r in pagerank(nodes, edges, n_iter=4).collect()
    }
    assert capped != uncapped  # the cap is a declared semantics change

    und = sorted(set(pair_rows) | {(b, a) for a, b in pair_rows})
    nodes_sql = " UNION ALL ".join(f"SELECT {i} AS id" for i in range(n))
    und_sql = " UNION ALL ".join(
        f"SELECT {a} AS src, {b} AS dst" for a, b in und
    )
    sql = duck_pagerank_sql(nodes_sql, und_sql, n_iter=4, max_degree=3)
    oracle = {int(i): float(p) for i, p in duckdb.sql(sql).fetchall()}
    assert capped == oracle

    relaid = {
        r.id: r.pr
        for r in pagerank(
            nodes.repartition(5), edges.repartition(3), n_iter=4, max_degree=3
        ).collect()
    }
    assert relaid == capped


def test_vocab_coverage_golden_and_plan(spark):
    """x78 golden on a hand-checkable corpus, plus the scale guards: the
    top-N vocabulary election must plan as TakeOrdered (distributed
    heap), NEVER a global row_number window (single-task sort over every
    distinct token), and the vocab side must broadcast into the
    coverage join."""
    from go_fish_spark.operators.profile import vocab_coverage

    df = spark.createDataFrame(
        [
            ("a", "the cat sat on the mat"),
            ("a", "the dog sat"),
            ("b", "zebra quagga the"),
            ("b", None),
        ],
        "source string, text string",
    )
    # counts: the=4, sat=2, cat/on/mat/dog/zebra/quagga=1 → vocab_size=3
    # keeps {the, sat, cat} (ties broken token-ASC: cat < dog < mat < on)
    out = {
        r.source: (r.n_tokens, r.n_oov, r.oov_rate, r.n_types, r.n_types_oov)
        for r in vocab_coverage(df, "source", "text", vocab_size=3).collect()
    }
    assert out["a"] == (9, 3, round(3 / 9, 9), 6, 3)  # on,mat,dog oov
    assert out["b"] == (3, 2, round(2 / 3, 9), 3, 2)  # zebra,quagga oov
    plan = vocab_coverage(df, "source", "text", vocab_size=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    with pytest.raises(ValueError, match="vocab_size"):
        vocab_coverage(df, "source", "text", vocab_size=0)


def test_heavy_hitters_exact_and_superset_guarantee(spark):
    """x81: the output must equal the EXACT heavy-hitter set (count·k >
    n_total) under adversarial partitionings — the Misra–Gries candidate
    stage may only ever widen the candidate set, never lose a true
    heavy hitter. Also: tight summary budgets (summary_size == k) and
    the empty corpus stay correct."""
    from go_fish_spark.operators.profile import heavy_hitters

    # 300 'a', 120 'b', and 180 singletons → n=600; k=4 → threshold 150:
    # heavy = {a}; b (120·4=480 < 600) must NOT appear
    docs = (
        [("a " * 30).strip()] * 10
        + [("b " * 12).strip()] * 10
        + [" ".join(f"u{i}_{j}" for j in range(18)) for i in range(10)]
    )
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    for layout in (df, df.repartition(7), df.repartition(1), df.coalesce(2)):
        out = {
            r.token: r.n_occurrences
            for r in heavy_hitters(layout, "text", k=4).collect()
        }
        assert out == {"a": 300}
    # tight budget: summary_size == k still exact (the guarantee's edge)
    out2 = {
        r.token: r.n_occurrences
        for r in heavy_hitters(
            df.repartition(5), "text", k=4, summary_size=4
        ).collect()
    }
    assert out2 == {"a": 300}
    # strict inequality: 'a' at exactly n/2 (300·2 = 600 = n) is NOT a
    # majority element — the k=2 report is empty
    out3 = {
        r.token: r.n_occurrences
        for r in heavy_hitters(df, "text", k=2, summary_size=2).collect()
    }
    assert out3 == {}
    assert heavy_hitters(
        spark.createDataFrame([(None,)], "text string"), "text", k=4
    ).count() == 0

    with pytest.raises(ValueError, match="k must"):
        heavy_hitters(df, "text", k=1)
    with pytest.raises(ValueError, match="summary_size"):
        heavy_hitters(df, "text", k=8, summary_size=4)


def test_embedding_centroid_report_golden(spark):
    """x83: hand-checkable centroid/dispersion values, the total-variance
    identity (dispersion = E||x||^2 - ||c||^2 >= 0), and layout
    invariance from the decimal-exact accumulation."""
    from go_fish_spark.operators.profile import embedding_centroid_report

    df = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]), ("a", [-1.0, 0.0]),   # centroid 0 → c2 0
            ("b", [2.0, 2.0]), ("b", [2.0, 2.0]),    # identical → disp 0
        ],
        "label string, v array<double>",
    )
    out = {r.label: r for r in embedding_centroid_report(df, "label", "v").collect()}
    assert out["a"].n == 2
    assert out["a"].centroid_norm2 == 0.0
    assert out["a"].mean_norm2 == 1.0 and out["a"].dispersion == 1.0
    assert out["b"].centroid_norm2 == 8.0
    assert out["b"].mean_norm2 == 8.0 and out["b"].dispersion == 0.0
    out2 = {
        r.label: tuple(r)
        for r in embedding_centroid_report(
            df.repartition(5), "label", "v"
        ).collect()
    }
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_degree_histogram_golden(spark):
    """x89: star + isolated golden — hub degree 4 → bucket 4, leaves
    degree 1 → bucket 1, the isolated node → bucket 0; duplicate and
    reversed edge declarations don't double-count."""
    from go_fish_spark.operators.graph import degree_histogram

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(1, 0), (0, 2)],  # dup + reversed
        "id_a long, id_b long",
    )
    out = {
        r.bucket_lo: r.n_nodes
        for r in degree_histogram(nodes, edges).collect()
    }
    assert out == {0: 1, 1: 4, 4: 1}
    out2 = {
        r.bucket_lo: r.n_nodes
        for r in degree_histogram(
            nodes.repartition(4), edges.repartition(3)
        ).collect()
    }
    assert out2 == out


def test_zipf_slope_single_token_group_is_null(spark):
    """Round-6 ADVICE regression: a group whose ranked vocabulary has a
    single token (n_ranks=1, x=ln(1)=0) makes the OLS denominator
    exactly 0 — the slope must be NULL, never NaN."""
    import math

    from go_fish_spark.operators.profile import zipf_slope

    df = spark.createDataFrame(
        [
            ("degenerate", "word word word word"),
            ("healthy", "the the the cat cat sat"),
        ],
        "source string, text string",
    )
    out = {r.source: r for r in zipf_slope(df, "source", "text").collect()}
    assert out["degenerate"].n_ranks == 1
    assert out["degenerate"].slope is None  # NULL, not NaN
    assert out["healthy"].n_ranks == 3
    assert out["healthy"].slope is not None
    assert not math.isnan(out["healthy"].slope)


# --- count-table statistics: gate/batch parity, goldens, row gates ---------


def test_auc_gate_fit_apply_exact_parity(spark):
    """apply(pos rows, fit(neg rows)) reproduces the batch score_auc
    EXACTLY (same BIGINT numerator through the U-statistic identity,
    same single division) — including tie-heavy scores. The law covers
    the rows with a non-NULL score: the gate excludes NULL scores on
    both sides, while score_auc ranks them — last, like its DuckDB
    mirror (group "nl" is a NULL score between two positives)."""
    import duckdb

    from go_fish_spark.operators.profile import (
        apply_auc_gate,
        duck_score_auc_sql,
        score_auc,
        score_distribution_baseline,
    )

    rows = [
        (i, "s%d" % (i % 3), float((i * 7) % 5), i % 4 == 0)
        for i in range(120)
    ] + [(120, "s0", None, True), (121, "s1", None, False)] + [
        (122 + i, "nl", s, y)
        for i, (s, y) in enumerate(
            [(1.0, True), (2.0, False), (None, True), (3.0, True),
             (0.5, False)]
        )
    ]
    df = spark.createDataFrame(rows, "id long, g string, s double, y boolean")
    scored = df.filter(F.col("s").isNotNull())
    batch = {
        r.g: (r.n_pos, r.auc)
        for r in score_auc(scored, "g", "s", "y").collect()
    }
    base = score_distribution_baseline(df.filter(~F.col("y")), "g", "s")
    gate = {
        r.g: (r.n, r.auc)
        for r in apply_auc_gate(
            df.filter(F.col("y")), base, "g", "s"
        ).collect()
    }
    assert set(gate) == set(batch)
    for g in batch:
        assert gate[g] == batch[g], (g, gate[g], batch[g])
    # over every row, score_auc counts the NULL-score rows
    full = {r.g: (r.n, r.n_pos) for r in score_auc(df, "g", "s", "y").collect()}
    assert full["s0"][1] == batch["s0"][0] + 1
    assert full["s1"][0] == 41 and full["s1"][1] == batch["s1"][0]
    # Spark == DuckDB over every row, NULL scores included
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, g VARCHAR, s DOUBLE, y BOOLEAN)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    duck = con.execute(duck_score_auc_sql("t", "g", "s", "y")).fetchall()
    con.close()
    got = [tuple(r) for r in score_auc(df, "g", "s", "y").collect()]
    assert got == [tuple(r) for r in duck]
    assert dict((r[0], r[3]) for r in got)["nl"] == 0.833333333


def test_ks_gate_fit_apply_exact_parity(spark):
    """apply(group rows, fit(complement rows)) reproduces the batch
    ks_drift row for every group EXACTLY (merged-grid sup, integer
    cums, same IEEE per-point gap)."""
    from go_fish_spark.operators.profile import (
        apply_ks_gate,
        ks_drift,
        score_distribution_baseline,
    )

    rows = [
        (i, "s%d" % (i % 3), float((i * 13) % 23) / 7.0)
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id long, g string, s double")
    batch = {r.g: (r.n, r.ks) for r in ks_drift(df, "g", "s").collect()}
    for g in ("s0", "s1", "s2"):
        base = score_distribution_baseline(
            df.filter(F.col("g") != g).select(
                F.lit(g).alias("g"), "s"
            ),
            "g", "s", decimals=3,
        )
        got = apply_ks_gate(
            df.filter(F.col("g") == g), base, "g", "s", decimals=3
        ).collect()
        assert len(got) == 1
        assert (got[0].n, got[0].ks) == batch[g], (g, got[0], batch[g])


def test_gates_stream_equals_batch(spark, tmp_path):
    """The streaming arm: both gates run per micro-batch under
    foreachBatch against the frozen baseline and reproduce the batch
    computation over the same rows; a group unknown to the baseline
    reports NULL."""
    import os

    import pyspark.sql.types as T

    from go_fish_spark.operators.profile import (
        apply_auc_gate,
        apply_ks_gate,
        score_distribution_baseline,
    )

    hist = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i % 11)) for i in range(80)],
        "id long, g string, s double",
    )
    base_auc = score_distribution_baseline(hist, "g", "s").localCheckpoint()
    base_ks = score_distribution_baseline(
        hist, "g", "s", decimals=3
    ).localCheckpoint()

    src = str(tmp_path / "in")
    os.makedirs(src)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("g", T.StringType()),
        T.StructField("s", T.DoubleType()),
    ])
    todays = [(1000 + i, ["a", "b", "zz"][i % 3], float(i % 7) + 2.0)
              for i in range(30)]
    spark.createDataFrame(todays, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    got: dict = {}

    def gate_batch(bdf, batch_id):
        got["auc"] = sorted(
            map(tuple, apply_auc_gate(bdf, base_auc, "g", "s").collect())
        )
        got["ks"] = sorted(
            map(tuple, apply_ks_gate(bdf, base_ks, "g", "s").collect())
        )

    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    bdf = spark.read.parquet(src)
    assert got["auc"] == sorted(
        map(tuple, apply_auc_gate(bdf, base_auc, "g", "s").collect())
    )
    assert got["ks"] == sorted(
        map(tuple, apply_ks_gate(bdf, base_ks, "g", "s").collect())
    )
    # unknown group "zz" is present with NULL verdicts
    auc = {t[0]: t for t in got["auc"]}
    ks = {t[0]: t for t in got["ks"]}
    assert auc["zz"][2] is None and ks["zz"][2] is None
    assert auc["a"][2] is not None and ks["a"][2] is not None


def test_source_gini_goldens(spark):
    """Equal masses -> 0; near-total concentration -> ~1 - 1/n; the
    exact sorted-cumulative formula on a hand-checkable case."""
    from go_fish_spark.operators.profile import source_gini

    eq = spark.createDataFrame(
        [("a", "w x y"), ("b", "p q r"), ("c", "m n o")],
        "source string, text string",
    )
    r = source_gini(eq, "source", "text").collect()[0]
    assert (r.n_sources, r.total_tokens, r.gini) == (3, 9, 0.0)

    # masses 1, 1, 8: sorted x=(1,1,8), Σix = 1+2+24 = 27
    # G = (2*27 - 4*10) / (3*10) = 14/30
    skew = spark.createDataFrame(
        [("a", "w"), ("b", "p"), ("c", " ".join("t%d" % i for i in range(8)))],
        "source string, text string",
    )
    r = source_gini(skew, "source", "text").collect()[0]
    assert r.gini == round(14 / 30, 9)


def test_good_turing_goldens(spark):
    """singletons/N by hand: tokens (a a b c) -> f1=2 (b,c), N=4."""
    from go_fish_spark.operators.profile import good_turing_unseen

    df = spark.createDataFrame(
        [("s", "a a b c"), ("t", "x x x x")], "source string, text string"
    )
    got = {
        r.source: (r.n_tokens, r.vocab, r.singletons, r.unseen_mass)
        for r in good_turing_unseen(df, "source", "text").collect()
    }
    assert got["s"] == (4, 3, 2, 0.5)
    assert got["t"] == (4, 1, 0, 0.0)


def test_oov_rate_goldens(spark):
    """top_n=2 vocab is {a, b} (count desc, token asc): source u's c/d
    occurrences are OOV."""
    from go_fish_spark.operators.profile import oov_rate

    df = spark.createDataFrame(
        [("s", "a a b"), ("t", "a b b"), ("u", "a c d c")],
        "source string, text string",
    )
    got = {
        r.source: (r.n_tokens, r.oov_occurrences, r.oov_rate)
        for r in oov_rate(df, "source", "text", top_n=2).collect()
    }
    assert got["s"] == (3, 0, 0.0)
    assert got["t"] == (3, 0, 0.0)
    assert got["u"] == (4, 3, 0.75)


def test_ecdf_gate_task(spark):
    """The declarable frozen-ECDF tail gate: percentile lookup matches
    the fitted baseline, tails flag/drop, NULLs pass unflagged, and the
    task is declarable through the registry (check-task contract)."""
    from go_fish_spark.operators.profile import score_distribution_baseline
    from go_fish_spark.tasks import check_task, get_task
    from go_fish_spark.tasks.builtin import ecdf_gate_config

    hist = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], "g string, s double"
    )
    base = score_distribution_baseline(hist, "g", "s")
    cfg = ecdf_gate_config(base)
    assert cfg[0] == [1.0, 0.01] and cfg[-1] == [100.0, 1.0]

    task = get_task(
        "ecdf_gate", baseline=cfg, value_col="v", lo=0.05, hi=0.95
    )
    check_task(task)
    df = spark.createDataFrame(
        [(1, 50.0), (2, 2.0), (3, 1000.0), (4, None), (5, 0.5)],
        "id long, v double",
    )
    got = {r.id: (r.pctl, r.is_tail) for r in task.apply(df).collect()}
    assert got[1] == (0.5, False)
    assert got[2] == (0.02, True)        # low tail
    assert got[3] == (1.0, True)         # above everything -> high tail
    assert got[4] == (None, False)       # NULL passes unflagged
    assert got[5] == (0.0, True)         # below everything -> pctl 0
    dropped = get_task(
        "ecdf_gate", baseline=cfg, value_col="v", lo=0.05, hi=0.95,
        mode="drop",
    ).apply(df)
    assert sorted(r.id for r in dropped.collect()) == [1, 4]
    assert dropped.columns == ["id", "v"]  # row-preserving family, drop mode

    # subsampling keeps the step's top (cdf reaches 1.0)
    small = ecdf_gate_config(base, max_points=10)
    assert len(small) <= 10 and small[-1][1] == 1.0


_GT_ROWS = [
    ("web", "alpha beta beta gamma gamma gamma unique1"),
    ("web", "alpha delta delta unique2"),
    ("book", "epsilon epsilon zeta"),
    ("book", "eta theta theta unique3 unique4"),
    ("forum", "iota iota iota"),
    ("wiki", "kappa kappa lambda"),
]


_GT_SCHEMA = "source string, text string"


def _split(spark, pred):
    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(_GT_ROWS)],
        "doc_id long, " + _GT_SCHEMA,
    )
    return df.filter(pred), df


def test_good_turing_gate_exact_parity(spark):
    """apply(batch, fit(history)) == good_turing_unseen(history+batch)
    bit-for-bit — counts are additive, the merged table is identical,
    for sources in the batch only, in history only, and in both."""
    from go_fish_spark.operators.profile import (
        apply_good_turing_gate,
        fit_token_counts,
        good_turing_unseen,
    )

    batch, full = _split(spark, F.col("doc_id") % 2 == 0)
    hist = full.filter(F.col("doc_id") % 2 != 0)
    base = fit_token_counts(hist, "source", "text")
    got = sorted(
        map(
            tuple,
            apply_good_turing_gate(batch, base, "source", "text").collect(),
        )
    )
    want = sorted(
        map(tuple, good_turing_unseen(full, "source", "text").collect())
    )
    assert got == want
    # forum is batch-only, wiki history-only: both merge branches run
    assert {"forum", "wiki"} <= {t[0] for t in got}


def test_gini_gate_exact_parity(spark):
    from go_fish_spark.operators.profile import (
        apply_gini_gate,
        fit_source_mass,
        source_gini,
    )

    batch, full = _split(spark, F.col("doc_id") % 2 == 0)
    hist = full.filter(F.col("doc_id") % 2 != 0)
    base = fit_source_mass(hist, "source", "text")
    got = apply_gini_gate(batch, base, "source", "text").collect()
    want = source_gini(full, "source", "text").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0].n_sources == 4  # forum batch-only, wiki history-only


def test_oov_gate_identity_on_fitting_corpus(spark):
    """apply(df, fit_vocab_topn(df)) == oov_rate(df) — the same
    deterministic vocab rank, the same integer sums."""
    from go_fish_spark.operators.profile import (
        apply_oov_gate,
        fit_vocab_topn,
        oov_rate,
    )

    _, full = _split(spark, F.lit(True))
    vocab = fit_vocab_topn(full, "text", top_n=5)
    got = sorted(
        map(
            tuple,
            apply_oov_gate(full, vocab, "source", "text").collect(),
        )
    )
    want = sorted(
        map(tuple, oov_rate(full, "source", "text", top_n=5).collect())
    )
    assert got == want


def test_good_turing_gate_stream_equals_batch(spark, tmp_path):
    """The gate run inside a real foreachBatch micro-batch equals the
    batch-side apply on the same rows — stream ≡ batch e2e."""
    import os

    from go_fish_spark.operators.profile import (
        apply_good_turing_gate,
        fit_token_counts,
    )

    batch, full = _split(spark, F.col("doc_id") % 2 == 0)
    hist = full.filter(F.col("doc_id") % 2 != 0)
    base = fit_token_counts(hist, "source", "text").localCheckpoint()
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    batch.write.parquet(src)

    def gate(bdf, _bid):
        apply_good_turing_gate(bdf, base, "source", "text").write.mode(
            "append"
        ).parquet(out)

    (
        spark.readStream.schema("doc_id long, " + _GT_SCHEMA)
        .parquet(src)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            apply_good_turing_gate(batch, base, "source", "text").collect(),
        )
    )
    assert got == want
    assert os.path.isdir(out)


def test_oov_and_cap_and_coverage_gate_tasks(spark):
    """The three declarable gates: flag semantics, NULL-safe unseen
    handling, drop mode."""
    from go_fish_spark.tasks import get_task

    df = spark.createDataFrame(
        [
            (1, "web", "alpha beta gamma"),
            (2, "web", "qqq zzz www"),
            (3, "niche", "alpha alpha"),
            (4, "unknown_src", None),
        ],
        "doc_id long, source string, text string",
    )
    oov = get_task("oov_gate", vocab=["alpha", "beta"], max_oov=0.5)
    got = {r.doc_id: (r.oov_share, r.is_oov) for r in oov.apply(df).collect()}
    assert got[1] == (round(1 / 3, 9), False)
    assert got[2] == (1.0, True)
    assert got[4] == (None, False)  # NULL text never silently dropped
    kept = {
        r.doc_id
        for r in get_task(
            "oov_gate", vocab=["alpha", "beta"], max_oov=0.5, mode="drop"
        ).apply(df).collect()
    }
    assert kept == {1, 3, 4}

    cap = get_task(
        "source_cap_gate", masses={"web": 900, "niche": 100}, max_share=0.6
    )
    got = {
        r.doc_id: (r.mass_share, r.is_capped) for r in cap.apply(df).collect()
    }
    assert got[1] == (0.9, True) and got[3] == (0.1, False)
    assert got[4] == (None, False)  # unseen source not capped

    cov = get_task(
        "coverage_gate",
        baselines={"web": 0.02, "niche": 0.4},
        max_unseen=0.1,
    )
    got = {
        r.doc_id: (r.unseen_mass, r.is_undercrawled)
        for r in cov.apply(df).collect()
    }
    assert got[1] == (0.02, False) and got[3] == (0.4, True)
    assert got[4] == (None, False)
