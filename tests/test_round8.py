"""Round-8 regression tests — one per ADVICE defect.

1. gofish_audit batch append must STACK commits, not silently replace
   the previous one (ADVICE r07, medium — `sources/pyds.py`).
2. BMP headers with non-positive dimensions must take the
   'unsupported' path, never report negative n_pixels (ADVICE r07, low
   — `operators/multimodal.py`).
3. quota_apportion must enforce its documented k ≤ total precondition
   loudly instead of emitting unfillable quotas (ADVICE r07, low —
   `operators/sampling.py`).
"""

import glob
import json
import struct
import time

import pytest


def test_audit_sink_append_stacks_commits(spark, tmp_path):
    """Two mode('append') saves publish under distinct suffixes and the
    directory holds BOTH commits' rows; mode('overwrite') then clears
    everything previously published and leaves only its own commit."""
    from go_fish_spark.sources import pyds

    pyds.register_sink(spark)
    pyds.register(spark)
    out = str(tmp_path / "audit_append")

    def read_all():
        return [
            json.loads(l)
            for f in glob.glob(out + "/part-*.jsonl")
            for l in open(f)
            if l.strip()
        ]

    src = (
        spark.read.format("gofish_certstream")
        .option("n_rows", 8).option("n_partitions", 2).load()
    )
    src.write.format("gofish_audit").option("path", out).mode(
        "append"
    ).save()
    assert len(read_all()) == 8
    # second append — the ADVICE defect had this DELETE the first 8
    src.write.format("gofish_audit").option("path", out).mode(
        "append"
    ).save()
    assert len(read_all()) == 16, "append replaced instead of stacking"
    assert len(glob.glob(out + "/_manifest-*.json")) == 2

    # overwrite clears the previously published files and manifests
    src.limit(3).write.format("gofish_audit").option("path", out).mode(
        "overwrite"
    ).save()
    assert len(read_all()) == 3
    assert len(glob.glob(out + "/_manifest-*.json")) == 1


def test_bmp_nonpositive_dimensions_unsupported():
    """Malformed BMP widths/heights surface as ('unknown', None, None)
    — the documented 'unsupported' status — instead of negative
    n_pixels poisoning downstream size filters."""
    from go_fish_spark.operators.multimodal import _parse_image_header

    def bmp(w, h):
        return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00" * 20

    assert _parse_image_header(bmp(-1024, 768)) == ("unknown", None, None)
    assert _parse_image_header(bmp(0, 768)) == ("unknown", None, None)
    assert _parse_image_header(bmp(1024, 0)) == ("unknown", None, None)
    # the two legal forms still parse: bottom-up and top-down row order
    assert _parse_image_header(bmp(1024, 768)) == ("bmp", 1024, 768)
    assert _parse_image_header(bmp(1024, -768)) == ("bmp", 1024, 768)


def test_quota_apportion_rejects_k_over_total(spark):
    """k greater than the corpus size raises instead of silently
    emitting quotas no per-stratum selection can fill — via a LAZY
    raise_error folded into the plan (no extra eager scan; the guard
    fires at evaluation time)."""
    from go_fish_spark.operators.sampling import quota_apportion

    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 2, "g string")
    lazy = quota_apportion(df, ["g"], k=6)  # building the plan is fine
    with pytest.raises(Exception, match="exceeds total rows"):
        lazy.collect()
    # boundary k == total is legal: every row gets a slot
    out = {
        r.g: r.quota for r in quota_apportion(df, ["g"], k=5).collect()
    }
    assert out == {"a": 3, "b": 2}


def test_lsh_plan_sweep_sampled_mode_parity(spark):
    """x100's planning mode (VERDICT r07 'Next' #2): with sample_frac
    the sweep rides a deterministic md5-uniform pair sample instead of
    the full x04 pair pass. Parity against the full (oracle) arm on the
    sf0.01 corpus: per-plan sampled recall within the binomial CI
    1.96·sqrt(p·(1−p)/n_sampled) of exact (p = exact recall), sampled
    pair count within 3σ of frac·n_full, and the sampled report is
    deterministic (same seed → identical rows)."""
    import math

    from go_fish_spark.catalog import table
    from go_fish_spark.operators.dedup import lsh_plan_sweep

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    args = dict(n_hashes=64, k=3, min_jaccard=0.2, dup_threshold=0.5,
                portable=True)
    full = {
        r.bands: r.asDict()
        for r in lsh_plan_sweep(docs, "doc_id", "text", **args).collect()
    }
    frac = 0.5
    samp = {
        r.bands: r.asDict()
        for r in lsh_plan_sweep(
            docs, "doc_id", "text", sample_frac=frac, **args
        ).collect()
    }
    assert set(samp) == set(full)  # every plan row present
    n_full = next(iter(full.values()))["n_dup_pairs"]
    n_samp = next(iter(samp.values()))["n_dup_pairs"]
    sigma = math.sqrt(n_full * frac * (1 - frac))
    assert abs(n_samp - frac * n_full) <= 3 * sigma + 1
    for b, f in full.items():
        s = samp[b]
        p = f["recall"]
        ci = 1.96 * math.sqrt(p * (1 - p) / max(n_samp, 1))
        assert abs(s["recall"] - p) <= ci + 1e-9, (b, s["recall"], p, ci)
    # deterministic: the sampled report reproduces exactly
    again = {
        r.bands: r.asDict()
        for r in lsh_plan_sweep(
            docs, "doc_id", "text", sample_frac=frac, **args
        ).collect()
    }
    assert again == samp


def test_pair_sample_is_pairkey_pure_and_plan_invariant(spark):
    """The pair-sample coin is a pure function of (seed, id_a, id_b):
    sampled pairs are a subset of the full pass with IDENTICAL exact
    Jaccards, and the inverted-index and prefix-filtered plans select
    the SAME sampled subset (the coin never depends on the physical
    plan). frac outside (0, 1] is rejected."""
    import pytest as _pytest

    from go_fish_spark.catalog import table
    from go_fish_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.6
        ).collect()
    }
    by_plan = []
    for pf in (False, True):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.6, prefix_filter=pf,
                pair_sample_frac=0.5, pair_sample_seed="planinv",
            ).collect()
        }
        assert set(got) <= set(full)
        assert all(full[k] == got[k] for k in got)
        by_plan.append(got)
    assert by_plan[0] == by_plan[1]
    with _pytest.raises(ValueError, match="pair_sample_frac"):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", pair_sample_frac=0.0
        )


def _hub_graph(spark):
    """Hub-heavy synthetic: vertex 0 is a degree-20 hub (a template
    doc), plus one genuine triangle 21-22-23. Predicted wedges:
    hub 20·19/2 = 190, triangle vertices 1 each = 3, leaves 0 → 193.
    Edge sum Σd = 2·23 = 46."""
    edges = [(0, i) for i in range(1, 21)] + [(21, 22), (22, 23), (21, 23)]
    return spark.createDataFrame(edges, "id_a int, id_b int")


def test_wedge_budget_plan_proceed_cap_refuse(spark):
    """The x89-histogram pre-check as an enforced decision: exact wedge
    prediction; proceed when it fits, cap at the largest useful degree,
    refuse when no cap buys any work."""
    from go_fish_spark.operators.graph import wedge_budget_plan

    g = _hub_graph(spark)
    p = wedge_budget_plan(g, budget=200)
    assert p == {
        "action": "proceed", "predicted_wedges": 193, "max_degree": None,
        "retained_wedges": 193, "n_capped_vertices": 0, "budget": 200,
    }
    p = wedge_budget_plan(g, budget=100)
    assert p["action"] == "cap"
    assert p["max_degree"] == 2  # largest degree whose cumsum fits
    assert p["retained_wedges"] == 3 and p["n_capped_vertices"] == 1
    p = wedge_budget_plan(g, budget=0)
    assert p["action"] == "refuse" and p["retained_wedges"] == 0


def test_triangle_census_auto_cap(spark):
    """max_degree='auto': proceeds uncapped under a roomy budget
    (result identical to the plain census), caps the hub under a tight
    one (the genuine triangle survives; truncation reported), raises
    DegreeBudgetExceeded when the budget buys nothing, and rejects
    inconsistent arguments."""
    from go_fish_spark.operators.graph import (
        DegreeBudgetExceeded,
        triangle_census,
    )

    g = _hub_graph(spark)
    plain = triangle_census(g).collect()[0]
    auto = triangle_census(g, max_degree="auto", wedge_budget=500)
    assert auto.collect()[0] == plain
    capped = triangle_census(
        g, max_degree="auto", wedge_budget=100
    ).collect()[0]
    assert capped.n_triangles == 1  # the genuine triangle survives
    assert capped.n_capped_vertices == 1  # the hub was excluded
    with pytest.raises(DegreeBudgetExceeded, match="193 wedges"):
        triangle_census(g, max_degree="auto", wedge_budget=0)
    with pytest.raises(ValueError, match="requires wedge_budget"):
        triangle_census(g, max_degree="auto")
    with pytest.raises(ValueError, match="only applies"):
        triangle_census(g, wedge_budget=100)


def test_pagerank_auto_edge_budget(spark):
    """pagerank's enforced hub discipline: the out-edge budget plan
    binary-searches the largest integer cap (not just observed
    degrees) whose retained edges fit; auto mode equals the explicit
    cap it picked; refuses below one edge per node."""
    from go_fish_spark.operators.graph import (
        DegreeBudgetExceeded,
        out_edge_budget_plan,
        pagerank,
    )

    g = _hub_graph(spark)
    nodes = spark.createDataFrame([(i,) for i in range(24)], "id int")
    assert out_edge_budget_plan(g, budget=46)["action"] == "proceed"
    p = out_edge_budget_plan(g, budget=30)
    # Σ min(d, c): c=4 → 4 + 20·1 + 3·2 = 30 fits; c=5 → 31 does not
    assert (p["action"], p["max_degree"], p["retained_edges"]) == (
        "cap", 4, 30,
    )
    assert out_edge_budget_plan(g, budget=10)["action"] == "refuse"

    auto = {
        r.id: r.pr
        for r in pagerank(
            nodes, g, max_degree="auto", edge_budget=30
        ).collect()
    }
    explicit = {
        r.id: r.pr for r in pagerank(nodes, g, max_degree=4).collect()
    }
    assert auto == explicit
    with pytest.raises(DegreeBudgetExceeded):
        pagerank(nodes, g, max_degree="auto", edge_budget=10)
    with pytest.raises(ValueError, match="requires edge_budget"):
        pagerank(nodes, g, max_degree="auto")


def test_shared_sig_frame_arms_identical(spark):
    """The shared fitted-sketch frame (x66's shared-audit pattern on
    the sketch family): every sketch consumer given a pre-fitted
    (key, _sig) frame returns results IDENTICAL to its compute-inline
    arm — the frame is a materialization, never a semantic change."""
    from go_fish_spark.operators.dedup import (
        fit_blocklist_sketches,
        group_sketch_overlap,
        group_sketch_turnover,
        lsh_plan_sweep,
        minhash_signature,
        sketch_screen_matches,
    )

    rows = [
        (1, "a", "the quick brown fox jumps over the lazy dog"),
        (2, "a", "the quick brown fox jumps over the lazy cat"),
        (3, "b", "the quick brown fox jumps over the lazy dog"),
        (4, "b", "completely different text about spark engines"),
        (5, "c", "xy"),  # sub-k tokens → sentinel signature
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    sigs = df.select(
        "doc_id", "src",
        minhash_signature("text", 64, 3, 42, True).alias("_sig"),
    ).persist()

    a = group_sketch_overlap(df, "src", "text", portable=True)
    b = group_sketch_overlap(
        df, "src", "text", portable=True, sig_frame=sigs
    )
    key = lambda r: (r.g_a, r.g_b)  # noqa: E731
    assert sorted(map(tuple, a.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, b.collect()), key=lambda t: t[:2]
    )

    block = df.filter("doc_id % 2 = 0")
    sk_direct = fit_blocklist_sketches(block, "text", portable=True)
    sk_shared = fit_blocklist_sketches(
        block, "text", portable=True,
        sig_frame=sigs.filter("doc_id % 2 = 0"),
    )
    assert sk_direct == sk_shared

    rest = df.filter("doc_id % 2 = 1")
    m_direct = {
        r.doc_id: r.n_matches
        for r in sketch_screen_matches(
            rest, "doc_id", "text", sk_direct, portable=True
        ).collect()
    }
    m_shared = {
        r.doc_id: r.n_matches
        for r in sketch_screen_matches(
            rest, "doc_id", "text", sk_direct, portable=True,
            sig_frame=sigs.filter("doc_id % 2 = 1"),
        ).collect()
    }
    assert m_direct == m_shared and m_direct  # non-trivial screen

    t_direct = {
        r.src: (r.est_overlap, r.turnover)
        for r in group_sketch_turnover(
            df, df, "src", "text", portable=True
        ).collect()
    }
    t_shared = {
        r.src: (r.est_overlap, r.turnover)
        for r in group_sketch_turnover(
            df, df, "src", "text", portable=True,
            old_sig_frame=sigs, new_sig_frame=sigs,
        ).collect()
    }
    assert t_direct == t_shared

    s_direct = [tuple(r) for r in lsh_plan_sweep(
        df, "doc_id", "text", min_jaccard=0.1, portable=True
    ).collect()]
    s_shared = [tuple(r) for r in lsh_plan_sweep(
        df, "doc_id", "text", min_jaccard=0.1, portable=True,
        sig_frame=sigs,
    ).collect()]
    assert s_direct == s_shared
    sigs.unpersist()


def test_js_divergence_goldens(spark):
    """x112's operator on hand-checkable distributions: identical
    unigram mixes → 0; disjoint vocabularies → exactly ln 2 (the
    bounded maximum, via the intersection decomposition's totals
    frame); a partial-overlap pair matches the formula computed
    directly; n_common_tokens counts the vocab intersection."""
    import math

    from go_fish_spark.operators.ngrams import js_divergence_matrix

    rows = [
        ("A", "x x y"),
        ("B", "x x y"),
        ("C", "z w"),
        ("D", "x z"),
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    out = {
        (r.g_a, r.g_b): (r.n_common_tokens, r.js_nats)
        for r in js_divergence_matrix(df, "src", "text").collect()
    }
    assert len(out) == 6  # all C(4,2) pairs present
    assert out[("A", "B")] == (2, 0.0)  # identical mixes
    assert out[("A", "C")] == (0, round(0.6931471805599453, 9))  # disjoint
    # A = {x:2/3, y:1/3}, D = {x:1/2, z:1/2}: only x intersects
    p, q = 2 / 3, 1 / 2
    inner = round(
        p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q)), 12
    )
    expect = round(
        0.5 * (inner + 0.6931471805599453 * ((1 - p) + (1 - q))), 9
    )
    n, js = out[("A", "D")]
    assert n == 1 and abs(js - expect) < 2e-9, (js, expect)


def test_winnow_detection_guarantee_and_density(spark):
    """x113's operator: the winnowing guarantee — ANY pair sharing a
    run of ≥ w+k−1 tokens shares ≥ 1 fingerprint — holds on a
    constructed corpus (shared 6-token run inside otherwise-different
    docs, k=3, w=4); unrelated docs share none; the fingerprint set is
    far smaller than the full k-gram set (the ~2/(w+1) density that
    makes the screen cheap); short docs keep one global-min
    fingerprint."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators.dedup import (
        winnow_fingerprints_expr,
        winnow_pair_screen,
    )

    run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    rows = [
        (1, f"one two three {run} four five six"),
        (2, f"seven eight nine ten {run} eleven twelve"),
        (3, "completely unrelated words with nothing in common here"),
        (4, "tiny doc"),  # < k tokens → no fingerprints
        (5, "just four little words"),  # ≥k, < w k-grams → global min
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_pair_screen(
            df, "doc_id", "text", k=3, w=4, portable=True
        ).collect()
    }
    assert (1, 2) in pairs  # the guarantee
    assert all({a, b} == {1, 2} for a, b in pairs)  # and nothing else

    fp = df.select(
        "doc_id",
        F.size(winnow_fingerprints_expr("text", 3, 4, True)).alias("nf"),
        (F.size(F.split("text", " ")) - 2).alias("nk"),
    ).collect()
    by_id = {r.doc_id: r for r in fp}
    assert by_id[4].nf == 0
    assert by_id[5].nf == 1  # single global minimum
    for i in (1, 2, 3):  # strictly sparser than the k-gram sequence
        assert 0 < by_id[i].nf < by_id[i].nk


def test_source_kl_goldens(spark):
    """x114's operator: a group distributed exactly like the corpus has
    KL 0; a skewed group matches the hand formula; KL is always
    defined (corpus dominates every group)."""
    import math

    from go_fish_spark.operators.ngrams import source_kl_to_corpus

    # A and B identical mixes -> corpus mix equals both -> KL = 0
    df = spark.createDataFrame(
        [("A", "x x y"), ("B", "x x y")], "src string, text string"
    )
    out = {r.src: r for r in source_kl_to_corpus(df, "src", "text").collect()}
    assert out["A"].kl_nats == 0.0 and out["B"].kl_nats == 0.0
    assert out["A"].n_tokens == 3 and out["A"].n_distinct_tokens == 2

    # skewed: A = {x:1}, B = {x:1/3, y:2/3}; corpus = {x:4/6, y:2/6}
    df2 = spark.createDataFrame(
        [("A", "x x x"), ("B", "x y y")], "src string, text string"
    )
    out2 = {
        r.src: r.kl_nats
        for r in source_kl_to_corpus(df2, "src", "text").collect()
    }
    kl_a = round(round(1.0 * math.log(1.0 / (4 / 6)), 12), 9)
    t1 = round((1 / 3) * math.log((1 / 3) / (4 / 6)), 12)
    t2 = round((2 / 3) * math.log((2 / 3) / (2 / 6)), 12)
    assert abs(out2["A"] - kl_a) < 2e-9
    assert abs(out2["B"] - round(t1 + t2, 9)) < 2e-9


def test_sorted_neighborhood_goldens(spark):
    """x115's operator: rank-adjacent near-identical docs (shared
    normalized prefix) are found with their exact Jaccard; docs beyond
    the rank window are not candidates even when similar (the
    documented SNM recall trade); candidate count is bounded by n·w."""
    from go_fish_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [
        (1, "Alpha beta gamma delta epsilon one two three"),
        (2, "alpha beta gamma delta epsilon one two four"),
        # same prefix family but pushed out of the window by 3+2i docs
        (10, "alpha beta gamma delta epsilon one two five"),
        (3, "alpha middle filler text completely different body here"),
        (4, "alpha middle filler text completely different body there"),
        (5, "zzz unrelated content entirely on its own planet"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in sorted_neighborhood_pairs(
            df, "doc_id", "text", window=1, threshold=0.2
        ).collect()
    }
    # window=1: only rank-adjacent pairs verify. Sort key order:
    # 1/2/10 share 'alpha beta gamma delta e'[:20]; ids break the tie
    # -> ranks 1,2,10 adjacent: (1,2) and (2,10) qualify, (1,10) not.
    assert (1, 2) in out and (2, 10) in out and (1, 10) not in out
    assert (3, 4) in out  # the second prefix family
    assert all(v >= 0.2 for v in out.values())
    wide = sorted_neighborhood_pairs(
        df, "doc_id", "text", window=5, threshold=0.0
    ).collect()
    assert len(wide) <= 6 * 5  # n·w hard bound
    assert {(r.id_a, r.id_b) for r in wide} >= set(out)


def test_sorted_neighborhood_empty_shingle_pairs_dropped(spark):
    """Two adjacent sub-k-token docs (empty shingle sets) must not kill
    the job under ANSI (0/0) — the pair is dropped via NULL jaccard, in
    both engines."""
    import duckdb

    from go_fish_spark.operators.dedup import (
        duck_sorted_neighborhood_sql,
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "aa bb"), (2, "aa bb"),  # identical, but < k=3 tokens
        (3, "one two three four five"),
        (4, "one two three four six"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            df, "doc_id", "text", window=3, threshold=0.0
        ).collect()
    }
    assert (1, 2) not in out  # dropped, not crashed
    assert (3, 4) in out
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        "(1, 'aa bb'), (2, 'aa bb'), "
        "(3, 'one two three four five'), (4, 'one two three four six')"
        ") t(doc_id, text)"
    )
    drows = {
        (r[0], r[1])
        for r in con.execute(
            duck_sorted_neighborhood_sql("docs", "doc_id", "text", 3, 20, 0.0)
        ).fetchall()
    }
    assert drows == out


def test_audit_sink_orphan_partials_cleaned_on_next_commit(spark, tmp_path):
    """Round-8 review fix: part files whose suffix has no manifest
    (a driver crash between rename and manifest write) are removed by
    the NEXT batch commit, so directory readers never double-count a
    crashed job's partial rows; manifested commits are untouched."""
    import glob
    import json
    import os

    from go_fish_spark.sources import pyds

    pyds.register_sink(spark)
    pyds.register(spark)
    out = str(tmp_path / "audit_orphan")
    src = (
        spark.read.format("gofish_certstream")
        .option("n_rows", 5).option("n_partitions", 1).load()
    )
    src.write.format("gofish_audit").option("path", out).mode(
        "append"
    ).save()
    # simulate a crashed publish: a part file with NO manifest. Age it
    # past the round-9 concurrent-writer grace window (a FRESH
    # manifest-less part may be another writer's in-flight publish and
    # must survive the sweep — asserted below).
    orphan = os.path.join(out, "part-bdeadbeef0000-00000.jsonl")
    with open(orphan, "w") as f:
        f.write('{"ghost": 1}\n')
    old = time.time() - 3600
    os.utime(orphan, (old, old))
    fresh = os.path.join(out, "part-bfeedface0000-00000.jsonl")
    with open(fresh, "w") as f:
        f.write('{"inflight": 1}\n')
    src.write.format("gofish_audit").option("path", out).mode(
        "append"
    ).save()
    assert not os.path.exists(orphan), "orphan partial survived"
    assert os.path.exists(fresh), "in-flight publish swept inside grace"
    os.remove(fresh)  # not a committed row; drop before the recount
    rows = [
        json.loads(l)
        for f in glob.glob(out + "/part-*.jsonl")
        for l in open(f)
        if l.strip()
    ]
    assert len(rows) == 10  # both real commits intact, no ghost
    assert len(glob.glob(out + "/_manifest-*.json")) == 2


def test_out_edge_budget_counts_self_loops(spark):
    """Round-8 review fix: pagerank keeps self-loops in its adjacency,
    so the edge-budget plan must price them — a (v,v) edge adds one
    out-edge to v's degree."""
    from go_fish_spark.operators.graph import out_edge_budget_plan

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 3)], "id_a int, id_b int"
    )
    # adjacency: 1->2, 2->1, 2->3, 3->2, 3->3  => predicted 5
    p = out_edge_budget_plan(edges, budget=5)
    assert p["action"] == "proceed" and p["predicted_edges"] == 5
    assert out_edge_budget_plan(edges, budget=4)["action"] == "cap"


def test_waterfill_goldens(spark):
    """x117's operator on hand-checkable capacities [5, 10, 30, 100]:
    B=60 → the two small sources saturate (5+10), level=(60−15)div 2
    =22 with remainder 1 to the first unsaturated source in order;
    B≥Σcap → everyone gets their capacity; B tiny → equal split with
    deterministic remainder; budget<0 rejected."""
    from go_fish_spark.operators.sampling import waterfill_allocation

    rows = (
        [("a", 5)] + [("b", 10)] + [("c", 30)] + [("d", 100)]
    )
    df = spark.createDataFrame(
        [(g, 1) for g, n in rows for _ in range(n)], "g string, w int"
    )
    def alloc(b):
        return {
            r.g: r.allocated
            for r in waterfill_allocation(df, "g", "w", budget=b).collect()
        }

    assert alloc(60) == {"a": 5, "b": 10, "c": 23, "d": 22}
    assert alloc(1000) == {"a": 5, "b": 10, "c": 30, "d": 100}
    assert alloc(145) == {"a": 5, "b": 10, "c": 30, "d": 100}
    # B=6: nobody saturates (even 'a' needs 5*4=20 > 6): level 1, rem 2
    assert alloc(6) == {"a": 2, "b": 2, "c": 1, "d": 1}
    assert sum(alloc(60).values()) == 60
    import pytest as _p

    with _p.raises(ValueError):
        waterfill_allocation(df, "g", "w", budget=-1)


def test_quantile_norm_goldens(spark):
    """x116's operator: percent_rank over the (score, id) order per
    group; single-row groups rank 0.0; the keep flag realizes 'top 20%
    of every group' regardless of each group's score scale."""
    from go_fish_spark.operators.sampling import per_group_quantile_norm

    rows = [
        ("A", 1, 10), ("A", 2, 20), ("A", 3, 30), ("A", 4, 40),
        ("A", 5, 50), ("A", 6, 60),
        ("B", 7, 1000), ("B", 8, 2000),
        ("C", 9, 7),
    ]
    df = spark.createDataFrame(rows, "g string, id long, s long")
    out = {
        r.id: (r.pct_rank, r.keep)
        for r in per_group_quantile_norm(
            df, "g", "s", "id", keep_quantile=0.8
        ).collect()
    }
    assert out[1] == (0.0, False) and out[6] == (1.0, True)
    assert out[5] == (0.8, True)  # (5-1)/(6-1)
    # group B: low absolute scores elsewhere don't matter — its top doc
    # keeps; group C single row ranks 0.0
    assert out[8] == (1.0, True) and out[7] == (0.0, False)
    assert out[9] == (0.0, False)
