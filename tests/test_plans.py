"""Physical-plan regression tests: the scale-critical plan shapes must not
silently degrade (a correct-but-shuffling plan is a failure at 100 TB even
though every value matches)."""

from __future__ import annotations

import os

import pytest

from conftest import SF_SMALL

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


def plan_of(spark, name: str) -> str:
    from go_fish_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q01_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q01_filter_eq")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan


def test_q07_dimension_broadcast_and_pruned(spark):
    plan = plan_of(spark, "q07_enrich_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # events scan must read only the needed columns
    assert "struct<event_id:bigint,user_id:bigint>" in plan


def test_q13_dims_broadcast_at_small_sf_but_only_nation_forced(spark):
    # At small SF the size estimator still broadcasts customer (no shuffle),
    # but the only FORCED hint is nation — customer scales with SF, so its
    # strategy belongs to AQE (a forced hint would OOM at 100 TB).
    plan = plan_of(spark, "q13_join_inner")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert _hinted_relations(spark, "q13_join_inner") == [{"nation"}]
    assert _hinted_relations(spark, "q25_cube") == [{"nation"}]


def test_q16_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q16_topk")
    assert "TakeOrderedAndProject" in plan


def test_q13_semi_anti_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "q13_join_semi")
    assert "LeftAnti" in plan_of(spark, "q13_join_anti")


def test_x06_queries_broadcast_corpus_never_shuffles(spark):
    plan = plan_of(spark, "x06_ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def _hinted_relations(spark, name: str) -> list[set[str]]:
    """Tables scanned under each explicit broadcast hint in the analyzed
    logical plan (detected by relation column prefixes, e.g. c_custkey →
    customer). AQE may still broadcast un-hinted sides at small SF — the
    assertion here is about *forced* hints only, which override size checks
    at every SF."""
    import re

    from go_fish_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF_DIR)
    prefixes = {"c_": "customer", "o_": "orders", "l_": "lineitem",
                "s_": "supplier", "n_": "nation", "r_": "region"}
    subtrees: list[str] = []

    def walk(node):
        if node.nodeName() == "ResolvedHint":
            subtrees.append(node.toString())
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    out = []
    for sub in subtrees:
        tables = set()
        for cols in re.findall(r"Relation \[([^\]]*)\]", sub):
            first = cols.split(",")[0]
            for p, t in prefixes.items():
                if first.startswith(p):
                    tables.add(t)
        out.append(tables)
    return out


def test_tpch_shapes_never_force_broadcast_fact_tables(spark):
    """q33/q34/q35 scale-killers (VERDICT r01): an explicit F.broadcast on
    orders/customer/lineitem OOMs at 100 TB. Only true dimensions may carry
    a hint; the fact-side strategy belongs to AQE."""
    # r03 tightening: customer/supplier (even filtered projections) scale
    # with SF — no forced hints anywhere on them; AQE decides.
    assert _hinted_relations(spark, "q33_tpch_q3") == []

    hinted34 = _hinted_relations(spark, "q34_tpch_q5")
    assert sorted(t for h in hinted34 for t in h) == ["nation", "region"]

    # q35 joins only scaling tables — no hint at all is allowed
    assert _hinted_relations(spark, "q35_tpch_q18") == []


def test_salted_agg_equals_direct_groupby(spark):
    """Salting is a physical rewrite: two-stage salted aggregation must
    be bitwise-equal to the direct groupBy, and its second shuffle input
    is bounded by distinct_keys x n_salt."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.operators.aggregates import salted_agg

    e = table(spark, SF_DIR, "events")
    salted = salted_agg(
        e, ["event_type"],
        {"n": ("count", F.lit(1)), "s": ("sum", "user_id"),
         "lo": ("min", "value"), "hi": ("max", "value")},
        n_salt=8,
    ).orderBy("event_type").collect()
    direct = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("s"),
             F.min("value").alias("lo"), F.max("value").alias("hi"))
        .orderBy("event_type")
        .collect()
    )
    assert salted == direct

    import pytest

    with pytest.raises(ValueError, match="salted_agg supports"):
        salted_agg(e, ["event_type"], {"a": ("avg", "value")})


def test_q52_compiles_to_semi_and_anti_joins(spark):
    """The EXISTS / NOT-EXISTS pair must stay semi/anti joins (no
    subquery materialization), with lineitem scans pruned to the 2-3
    needed columns."""
    plan = plan_of(spark, "q52_tpch_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    import re

    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans and all(len(s.split(",")) <= 3 for s in scans), scans


def test_q51_hints_only_bounded_dims(spark):
    """TPC-H Q7 shape: only the two nation aliases may carry broadcast
    hints; supplier/orders/customer/lineitem all scale with SF and stay
    AQE-decided (r02 verdict: supplier is 10k x SF, not a bounded dim)."""
    hinted = _hinted_relations(spark, "q51_tpch_q7")
    assert sorted(t for h in hinted for t in h) == ["nation", "nation"]


def test_q59_exists_decorrelates_to_semi_join(spark):
    """Correlated EXISTS (TPC-H Q4 shape) must become a LeftSemi join on
    l_orderkey with the returnflag filter pushed into the probe-side scan —
    never a materialized subquery per outer row."""
    plan = plan_of(spark, "q59_tpch_q4_exists")
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # the semi-join probe side reads only the join key + filter column
    assert "struct<l_orderkey:bigint,l_returnflag:string>" in plan


def test_q60_scalar_subqueries_decorrelate_to_one_aggregate(spark):
    """Both correlated scalar aggregates over lineitem-by-partkey must be
    decorrelated into aggregate-then-join (no per-row rescan). Catalyst
    rewrites each correlated scalar separately (MergeScalarSubqueries only
    coalesces UNcorrelated ones), so the plan carries the outer scan plus
    two grouped-aggregate scans — every one pruned to the few needed
    columns, never a full-width lineitem read."""
    plan = plan_of(spark, "q60_tpch_q17_scalar")
    assert "LeftSemi" not in plan  # scalar, not predicate, decorrelation
    import re

    li_scans = [s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
                if s.startswith("l_")]
    # outer scan + one decorrelated aggregate per scalar subquery
    assert len(li_scans) == 3, li_scans
    assert all(len(s.split(",")) <= 3 for s in li_scans), li_scans
    assert any(s == "l_partkey:bigint,l_quantity:double" for s in li_scans), li_scans


def test_q61_not_exists_decorrelates_to_anti_join(spark):
    """NOT EXISTS (TPC-H Q22 shape) must become a LeftAnti join on
    o_custkey; the uncorrelated mean-balance subquery stays a scalar
    (Subquery/ReusedSubquery node), evaluated once, not joined."""
    plan = plan_of(spark, "q61_tpch_q22_anti")
    assert "LeftAnti" in plan
    assert "Subquery" in plan
    # orders probe side pruned to the join key + priority filter column
    assert "struct<o_custkey:bigint,o_orderpriority:string>" in plan


def test_x21_decontaminate_broadcasts_eval_side(spark):
    """Decontamination probes the training corpus against a BROADCAST of
    the benchmark's distinct shingle set — the corpus-side join input must
    never shuffle (its only Exchange is the final groupBy of matched
    ids)."""
    plan = plan_of(spark, "x21_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q63_not_in_plans_null_aware_anti_join(spark):
    """NOT IN must compile to Spark's null-aware anti join (broadcast-only
    by engine design — the reason q61's NOT EXISTS is the 100 TB
    phrasing)."""
    from go_fish_spark.queries import REGISTRY

    df = REGISTRY["q63_not_in_null_aware"].fn(spark, SF_DIR)
    # formatted mode hides the flag; the simple string prints the BHJ as
    # "BroadcastHashJoin [keys], [keys], LeftAnti, BuildRight, true" where
    # the trailing boolean IS isNullAwareAntiJoin.
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan, plan


def test_q78_not_in_rewrite_plans_plain_left_anti(spark):
    """The engine-default NOT IN rewrite (joins.not_in) must plan a PLAIN
    LeftAnti — not the null-aware variant, whose broadcast-only
    restriction is the 100 TB wall q63 documents. The simple plan string
    prints NAAJ as 'LeftAnti, BuildRight, true' (trailing boolean =
    isNullAwareAntiJoin); its absence plus a LeftAnti is the guard."""
    from go_fish_spark.queries import REGISTRY

    df = REGISTRY["q78_not_in_rewrite"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "LeftAnti, BuildRight, true" not in plan, plan


def test_not_in_null_semantics_corners(spark):
    """joins.not_in must reproduce SQL NOT IN's truth table exactly —
    including the three corners the LeftAnti alone gets wrong: empty
    subquery (ALL left rows qualify, even null keys), subquery containing
    NULL (NO row qualifies), null left keys (never qualify against a
    non-empty subquery). Compared value-for-value against Spark's own
    NOT IN on the same frames."""
    from go_fish_spark.operators.joins import not_in

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (4, "d")], "k int, v string"
    )
    for sub_rows in ([], [(2,)], [(2,), (None,)], [(None,)], [(9,)]):
        sub = spark.createDataFrame(sub_rows, "sk int")
        left.createOrReplaceTempView("nil_l")
        sub.createOrReplaceTempView("nil_r")
        key = lambda t: (t[0] is None, t[0] or 0, t[1])  # noqa: E731
        expected = sorted(
            (
                (r.k, r.v)
                for r in spark.sql(
                    "SELECT * FROM nil_l WHERE k NOT IN (SELECT sk FROM nil_r)"
                ).collect()
            ),
            key=key,
        )
        got = sorted(
            ((r.k, r.v) for r in not_in(left, sub, "k", "sk").collect()),
            key=key,
        )
        assert got == expected, f"sub={sub_rows}: {got} != {expected}"


def test_q64_disjunctive_keeps_equi_join_and_pushes_or_prefixes(spark):
    """TPC-H Q19 shape: the OR-of-ANDs must not break the p_partkey
    equi-join (no nested-loop/cartesian), and each side's single-sided OR
    prefix (brand/size on part, quantity on lineitem) must reach its
    parquet scan as a pushed filter."""
    plan = plan_of(spark, "q64_tpch_q19_disjunctive")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "EqualTo(p_brand,Brand#1)" in plan          # part-side prefix
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # lineitem-side prefix


def _hint_subtrees(spark, name: str):
    """(root nodeName, tables under it) for each ResolvedHint in the
    analyzed logical plan of a registered query."""
    import re

    from go_fish_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF_DIR)
    prefixes = {"c_": "customer", "o_": "orders", "l_": "lineitem",
                "s_": "supplier", "n_": "nation", "r_": "region",
                "p_": "part"}
    found = []

    def walk(node):
        if node.nodeName() == "ResolvedHint":
            child = node.children().apply(0)
            tables = set()
            for cols in re.findall(r"Relation \[([^\]]*)\]", node.toString()):
                first = cols.split(",")[0]
                for p, t in prefixes.items():
                    if first.startswith(p):
                        tables.add(t)
            found.append((child.nodeName(), tables))
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return found


def test_tpch_battery_hints_bounded_or_scalar(spark):
    """TPC-H battery broadcast discipline (tightened per r02 verdict): a
    forced hint may cover (a) TRULY bounded dimensions — nation (25 rows)
    and region (5 rows) at any SF — or (b) a 1-row Aggregate
    (scalar-subquery emulation). Everything SF-scaled — part, orders,
    customer, lineitem, AND supplier, including filtered projections of
    them — belongs to AQE."""
    sf_scaled = {"part", "orders", "customer", "lineitem", "supplier"}
    for q in ("q65_tpch_q13_custdist", "q66_tpch_q20_nested_in",
              "q73_tpch_q12_shipmode", "q74_tpch_q14_promo",
              "q69_tpch_q6_forecast", "q75_tpch_q16_suppcnt"):
        assert _hint_subtrees(spark, q) == [], q
    for q in ("q70_tpch_q9_profit", "q71_tpch_q10_returns"):
        assert [t for _, t in _hint_subtrees(spark, q)] == [{"nation"}], q
    for root, tables in _hint_subtrees(spark, "q68_tpch_q8_market_share"):
        assert tables <= {"nation", "region"}, tables
    # q67/q72: hints touching SF-scaled tables must be the 1-row scalar
    # aggregates (global max / 0.1% threshold), never the table itself.
    for q in ("q67_tpch_q15_top_supplier", "q72_tpch_q11_important"):
        for root, tables in _hint_subtrees(spark, q):
            if tables & sf_scaled:
                assert root == "Aggregate", (q, root, tables)


def test_q71_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q71_tpch_q10_returns")


def test_q75_not_in_is_broadcast_anti(spark):
    plan = plan_of(spark, "q75_tpch_q16_suppcnt")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q69_predicates_pushed_to_scan(spark):
    plan = plan_of(spark, "q69_tpch_q6_forecast")
    assert "PushedFilters:" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_x29_incremental_dedup_is_unhinted_anti_join_on_digest(spark):
    """The historical fingerprint store is corpus-scale: the anti-join
    must carry no forced broadcast hint (AQE decides), and both join
    inputs must be reduced to the 16-byte digest before the exchange —
    scans read only (doc_id, text) / (text)."""
    plan = plan_of(spark, "x29_incremental_dedup")
    assert "LeftAnti" in plan
    assert _hint_subtrees(spark, "x29_incremental_dedup") == []
    import re

    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans and all(len(s.split(",")) <= 2 for s in scans), scans


def test_x32_substring_decontam_broadcasts_probes(spark):
    """Verbatim-probe decontamination: the probe list (bounded benchmark
    artifact) broadcasts into a nested-loop contains-join; the corpus side
    must never shuffle before the matched-ids groupBy."""
    plan = plan_of(spark, "x32_substring_decontam")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_x37_bucketed_pairs_is_equi_join_on_bucket_key(spark):
    """The sign-bit bucket key must drive an EQUI-join (hash/sort on the
    integer key — one shuffle per side), never a nested-loop/cartesian
    pair scan; the id_a < id_b predicate rides as a join condition."""
    plan = plan_of(spark, "x37_dedup_lsh_bucketed")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan  # size estimator may broadcast at tiny SF
    )


def test_x33_mix_rebalance_broadcasts_rates(spark):
    """Mixture rebalance: the per-source rates table (bounded cardinality)
    broadcasts; the corpus-side join input must carry no shuffle (its only
    Exchanges are the pass-1 totals groupBy and the final sort)."""
    plan = plan_of(spark, "x33_mix_rebalance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def _ts_touching_queries():
    """Registered queries that read events.ts — discovered from source so
    new queries are covered automatically."""
    import inspect
    import re

    from go_fish_spark.queries import REGISTRY

    out = []
    for name, qd in REGISTRY.items():
        src = inspect.getsource(qd.fn)
        if re.search(r'"events"', src) and re.search(r"\bts\b", src):
            out.append(name)
    return sorted(out)


@pytest.mark.parametrize("variant", ["timestamp", "timestamp_ntz", "bigint_nanos"])
def test_events_ts_dtype_matrix(spark, tmp_path, variant):
    """The round-2 postmortem: the driver's testdata changed events.ts from
    bigint-nanos to parquet timestamp[us] (TIMESTAMP_NTZ) and every
    unix_micros call site hard-failed. catalog.table is the normalization
    layer — whatever physical dtype the parquet serves, queries must see
    TimestampType and at least ANALYZE. This materializes all three dtype
    vintages and analyzes every ts-touching registered query against each."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from go_fish_spark.catalog import TABLES, table
    from go_fish_spark.queries import REGISTRY

    tbl = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    ts = tbl.column("ts").cast(pa.timestamp("us"))
    if variant == "timestamp":
        ts_cast = ts.cast(pa.timestamp("us", tz="UTC"))
    elif variant == "timestamp_ntz":
        ts_cast = ts
    else:  # bigint nanos — the pre-r02 testdata vintage
        ts_cast = pc.multiply(ts.cast(pa.int64()), 1000)
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_cast)

    d = tmp_path / variant
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), d / f"{t}.parquet")

    sf_dir = str(d)
    assert dict(table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    for name in _ts_touching_queries():
        df = REGISTRY[name].fn(spark, sf_dir)
        df.schema  # force analysis; AnalysisException here = regression


def test_x38_contamination_score_broadcasts_eval_shingles(spark):
    """Graded contamination: the eval shingle vocabulary broadcasts (same
    probe discipline as x21) — the corpus-side probe join must be a
    BroadcastHashJoin; the only sort-merge exchange allowed is the final
    per-doc left join-back on doc_id."""
    plan = plan_of(spark, "x38_contamination_score")
    assert "BroadcastHashJoin" in plan


def test_x39_embedding_quantization_is_map_only(spark):
    """The quantization audit is pure per-row array math: no Exchange at
    all before the final presentation sort, no Python workers."""
    plan = plan_of(spark, "x39_embedding_quantization")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # exactly one Exchange: the rangepartitioning for the output orderBy
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all("rangepartitioning" in e for e in exchanges), exchanges


def test_x40_epoch_upsample_broadcasts_factors(spark):
    """Epoch upsampling: the per-source repeat-factor table (bounded key)
    broadcasts; the corpus side must not shuffle for the join — its only
    Exchanges are the pass-1 totals groupBy and the output sort."""
    plan = plan_of(spark, "x40_epoch_upsample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_x42_gopher_rules_is_map_only(spark):
    """The rule gate is pure per-row string/array math: no joins, no
    Python workers; the only Exchange is the presentation orderBy."""
    import re

    plan = plan_of(spark, "x42_gopher_rules")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all("rangepartitioning" in e for e in exchanges), exchanges


def test_x43_dsir_bucket_models_broadcast(spark):
    """DSIR: the corpus-sized frame exchanges only on the md5-uniform
    (doc, bucket) key; the 1024-row bucket models (and their 1-row
    totals) join back as broadcasts — no sort-merge join anywhere."""
    plan = plan_of(spark, "x43_dsir_weights")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_x44_pq_corpus_never_shuffles_vectors(spark):
    """PQ/ADC: the coded corpus is scanned map-only against the BROADCAST
    query tables (the scorer joins via broadcast nested loop); no
    sort-merge/shuffled-hash join — the only hashpartitioning Exchange is
    the slim (query_id, vec_id, adist) window input, never raw vectors."""
    plan = plan_of(spark, "x44_pq_adc")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_x46_token_budget_aggregates_on_bounded_key(spark):
    """Token budget: one hash aggregation on the bounded bin key with a
    map-side partial, no joins other than the broadcast 1-row total, no
    Python workers."""
    plan = plan_of(spark, "x46_token_budget")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_x47_ivfpq_joins_on_cell_key_only(spark):
    """IVF-PQ: the candidate join is an equi-join on the cell key (both
    sides exchange once on cell); no broadcast nested loop over the full
    corpus, no Python workers in the registered expression arm."""
    plan = plan_of(spark, "x47_ivfpq")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_x68_dim_stats_single_exchange_on_bounded_dim_key(spark):
    """embedding_dim_stats: one posexplode, ONE exchange on the bounded
    dim key (= vector width), partial aggregation map-side."""
    plan = plan_of(spark, "x68_embedding_dim_stats")
    body = plan.split("===== Subqueries =====")[0]
    # exactly one hash exchange (the dim groupBy); the only other
    # exchange is the 64-row output sort's rangepartitioning
    assert body.count("hashpartitioning(dim") == 1
    assert body.count("hashpartitioning(") == 1
    assert "HashAggregate" in body  # partial+final pair


def test_x70_affixes_single_exchange_map_only_extraction(spark):
    """boilerplate_affixes: affix extraction is map-only (no join), the
    only exchange is the (kind, affix) groupBy key."""
    plan = plan_of(spark, "x70_boilerplate_affixes")
    body = plan.split("===== Subqueries =====")[0]
    assert "Join" not in body
    assert body.count("hashpartitioning(kind") == 1
    assert body.count("hashpartitioning(") == 1


def test_x67_length_drift_derivations_read_checkpointed_counts(spark):
    """length_drift: the corpus is scanned once into the bounded
    (group, bin) count frame; every KL derivation reads the materialized
    checkpoint (ExistingRDD), not the corpus scan."""
    plan = plan_of(spark, "x67_length_drift")
    body = plan.split("===== Subqueries =====")[0]
    assert "Scan ExistingRDD" in body
    assert "Scan parquet" not in body  # corpus only feeds the checkpoint


def test_registry_wide_no_cartesian_no_row_python(spark):
    """Engine-wide plan canary (round 5): across EVERY registry entry,
    (a) no CartesianProduct except the ops documented as exact O(n²)
    baselines or tiny-literal cross joins, and (b) no row-at-a-time
    BatchEvalPython anywhere — Python reaches executors only through
    Arrow (ArrowEvalPython / mapInPandas / applyInPandas). This is the
    sweep that keeps a future edit from silently planting a quadratic
    join or a per-row UDF in some rarely-reviewed entry."""
    from go_fish_spark.queries import REGISTRY

    # documented exceptions:
    #   x05 — labeled O(n²) exact-embedding baseline (SCALE.md)
    #   x64 — the brute mutual-kNN arm at this corpus size (LSH arm is
    #         the scale path; SCALE.md "x64 method swap")
    #   broadcast NESTED-LOOP joins against literal/bounded frames are
    #   fine (they are not CartesianProduct nodes)
    cartesian_ok = {"x05_dedup_embedding", "x64_mutual_knn"}
    #   q81 — the SQL-UDTF pluggability surface IS row-at-a-time Python
    #   by declared design (tasks/sql_udtf.py: convenience twin of the
    #   vectorized x24, equality- and oracle-pinned); it must stay the
    #   ONLY entry whose plan contains BatchEvalPython
    row_python_ok = {"q81_lateral_chunk_udtf"}
    offenders_cart, offenders_py = [], []
    for name, qd in REGISTRY.items():
        try:
            df = qd.fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover - fail loudly below
            offenders_cart.append((name, f"PLAN ERROR {exc}"))
            continue
        if "CartesianProduct" in plan and name not in cartesian_ok:
            offenders_cart.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan and name not in row_python_ok:
            offenders_py.append(name)
        from go_fish_spark.operators.dedup import release_caches

        release_caches()
    assert not offenders_cart, offenders_cart
    assert not offenders_py, offenders_py
