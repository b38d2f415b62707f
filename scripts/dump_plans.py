"""Generate PLANS.md — physical-plan evidence for the scale-critical
queries: the plan TREE plus every scan's ReadSchema/PushedFilters line,
so column pruning, filter pushdown, broadcast-vs-shuffle choices, and
TakeOrdered/WindowGroupLimit shapes are reviewable without running Spark.

Run: python scripts/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (query, what the plan should show)
SHOWCASE = [
    ("q01_filter_eq", "filter pushed into the parquet scan (PushedFilters)"),
    ("q07_enrich_join", "dimension broadcast + 2-column pruned events scan"),
    ("q13_join_inner", "nation hinted; SF-scaled customer un-hinted (size-estimator still broadcasts it at this SF — no shuffle — without the 100 TB OOM a forced hint would cause)"),
    ("q16_topk", "global top-k as TakeOrderedAndProject (k rows/partition)"),
    ("q30_tpch_q1", "scan-heavy aggregate: partial agg before one exchange"),
    ("q33_tpch_q3", "NO forced hints — customer/orders/lineitem strategy all AQE-decided"),
    ("q34_tpch_q5", "five-way join: only nation/region hinted; supplier and facts un-hinted"),
    ("q37_topk_per_group", "per-group top-k: partial WindowGroupLimit below the exchange"),
    ("q52_tpch_q21", "EXISTS/NOT-EXISTS pair as LeftSemi+LeftAnti self-joins, 2-3-column scans"),
    ("q48_range_frame", "time-range window frame, one shuffle on user_id"),
    ("x02_dedup_minhash_lsh", "slim (id,band,hash) rows through the banding self-join; signatures persisted"),
    ("x06_ann_cosine_topk", "queries broadcast — corpus never shuffles"),
    ("x17_tfidf", "explode collapsed map-side; broadcast corpus count; vocabulary-sized df join"),
    ("x29_incremental_dedup", "digest-only anti-join vs the historical store — 1-2-column scans, no forced hint"),
    ("x30_quality_topq", "per-stratum percent_rank: one shuffle on the stratum key"),
    ("x26_dedup_semantic", "Arrow-batched centroid assignment (no VectorUDT) → ONE shuffle on cell id → per-cell applyInPandas"),
    ("x34_unigram_logprob", "(doc,token) explode → vocab-sized frequency join → one doc-id groupBy; decimal-exact mean"),
    ("x37_dedup_lsh_bucketed", "sign-bit bucket equi-join (one shuffle per side) — never a nested-loop pair scan"),
    ("x42_gopher_rules", "rule gate is map-only: no joins, no Python, one presentation sort"),
    ("x43_dsir_weights", "one (doc,bucket) shuffle; 1024-row bucket models broadcast back"),
    ("x44_pq_adc", "coded corpus map-only vs broadcast query tables; raw vectors never shuffle"),
    ("x47_ivfpq", "cell-key equi-join of coded corpus vs probe tables — the IVF-PQ inverted file"),
    ("x48_temperature_mix", "bounded-key rate fit broadcast back; corpus filter map-only"),
    ("x56_source_cap", "under/over broadcast split — under-cap rows pass via broadcast anti-join (map-only); only over-cap keys' rows reach the rank window"),
    ("x57_bm25", "query-term isin prune at the scan side; bounded df/stats broadcast back; corpus never shuffles"),
    ("x58_training_order", "bucketed distributed rank: per-bucket window + broadcast offsets — no single-task global window"),
    ("x59_knn_classify", "queries broadcast against the corpus; neighbor table broadcast into the label join — corpus map-only twice"),
    ("x60_bigram_logprob", "one explode → distinct (doc,bigram) aggregation; bigram model re-aggregated; unigram backoff broadcast"),
    ("x61_jl_projection", "pure per-row map: projection literals inside WholeStageCodegen, zero exchanges before the presentation sort"),
    ("x63_curriculum_order", "two-level distributed rank: (stage, bucket) windows + broadcast offsets — no single-task global window"),
    ("x64_mutual_knn", "bucket equi-join ANN base (no broadcast — both sides corpus-scale) + ONE self-join of the persisted slim neighbor table"),
    ("x66_dedup_audit", "shared audit pass: both consumers scan the ONE checkpointed CC label frame (ExistingRDD), no second pair-graph/CC computation"),
    ("x67_length_drift", "one corpus pass into the checkpointed (group, bin) counts; every KL derivation reads ExistingRDD, zero corpus re-scans"),
    ("x68_embedding_dim_stats", "one posexplode → ONE hash exchange on the bounded dim key; partial aggregation map-side"),
    ("x70_boilerplate_affixes", "map-only affix extraction — no joins; one exchange on the (kind, affix) groupBy key"),
    ("x71_dupgraph_pagerank", "fixed-iteration PageRank: final round reads the checkpointed rank frame + pre-partitioned adjacency; only the slim (id, rank) frame moves per iteration"),
    ("x20_curation_pipeline", "flagship shares ONE audit pass: canonical selection reads the checkpointed CC label frame (ExistingRDD) — no second pair-graph/CC computation inside the composed plan"),
    ("x77_incremental_near_dedup", "incremental near-dedup: the signature store (derived in place from history here, a durable sig table in production) is streamed ONCE as the probe side of two broadcast hash joins — the batch's slim (id, band, bh) rows and its (id, sig) rows, both read from the batch's cached sigs — and each candidate verifies on the store row that produced it; no exchange, cache or aggregate over the store; the probe's one exchange is the groupBy of verified hits on the batch id"),
    ("x78_vocab_coverage", "top-N vocab elected by TakeOrdered (distributed heap, no global window); vocab broadcast into the map-only coverage join"),
    ("x80_corpus_diff", "both snapshots reduce to (id, digest) before ONE full-outer SortMergeJoin — text never shuffles"),
    ("x81_heavy_hitters", "MG candidate stage is the only Python (ArrowEvalPython/MapInPandas); exact verification joins the corpus to BROADCAST candidates — the token-keyed shuffle is candidate-bounded"),
    ("x82_containment_pairs", "asymmetric containment: same inverted-index self-join law as x04 — one shuffle on the shingle key, map-side partial aggregation"),
    ("q80_funnel_steps", "per-step keyed aggs over each step's own event slice; 1-row-per-user step frames broadcast into the next join (SMJ past broadcast size via AQE)"),
    ("x87_group_sketch_overlap", "round-8: reads the SHARED fitted signature frame (InMemoryTableScan — fitted once per session for x87/x93/x94/x100); ONE bounded (group × 64) groupBy; pair join entirely on the sketch frame"),
    ("x89_degree_histogram", "node-key groupBy over the symmetrized pair graph + ≤ 40-bin groupBy — no iteration, no window"),
    ("x90_threshold_sweep", "ONE x04 pair pass feeds every threshold band — a bounded-key groupBy on top, not a join per candidate threshold"),
    ("q82_event_paths", "session groupBy + array-side 3-grams (no self-joins); global top-20 via TakeOrdered over bounded path counts"),
    ("q85_rfm_segments", "three value_bucketed_rank passes: per-bucket windows + BROADCAST offset/leftover frames — no global window despite three exact global ranks"),
    ("q87_disorder_profile", "per-block parallel windows + prefix max over the bounded block-max frame (broadcast back) — the running max without a single-task sort"),
    ("x99_bpe_merge_candidates", "one corpus exchange folds to the vocab; the char-pair explode runs ON the vocab frame; TakeOrdered top-k"),
    ("x100_lsh_plan_sweep", "one exact-pair pass + map-only signatures; plans broadcast; two bounded groupBys (per-band, per-pair) — never corpus²"),
    ("x103_pair_budget_estimate", "one (shingle) exchange with partial agg to the df frame + a 40-key rollup — prices the x04 join without running it"),
    ("x105_key_skew_audit", "one key exchange with map-side combine + bounded bucket rollup"),
    ("x93_neardup_blocklist_screen", "round-7 rewrite: posexplode signatures + BROADCAST (sketch,pos,value) hash join — work ∝ position collisions, not |blocklist|; was 64×|blocklist| lambda ops per row"),
    # round 8
    ("x112_js_divergence", "ONE (group, token) exchange to the vocab-bounded count frame; totals broadcast; the pair join runs on count frames (≤ sources² law) — corpus text never joins"),
    ("x113_winnow_pair_screen", "winnowing fingerprints are per-row array expressions (window minima inside codegen); ONE exchange on the fingerprint key — an index ~2/(w+1) of x04's"),
    ("x115_sorted_neighborhood", "bucketed prefix rank (broadcast offsets — no single-task corpus window) + w equi-joins on rank+d: candidates exactly n·w; array_intersect verification inside codegen"),
    ("x116_quantile_norm", "per-source percent_rank windows — parallel across sources, never a global window; the keep flag evaluates inside codegen"),
    ("x117_waterfill_budget", "ONE source-keyed exchange with partial agg to the ≤|sources| capacity frame; saturation/level windows and the k* broadcast all run on that bounded frame"),
    ("q93_purchase_attribution", "one user-keyed join with the 7-day bounds as join filters (no corpus-wide window); per-purchase min/max struct aggregation; bounded full-outer attribution rollup"),
    ("x118_incremental_audit", "delta docs probe the signature store in one streamed scan — x77's kernel (dedup._delta_probe), whose plan shape is the x77 section: the store streamed through two broadcast hash joins, with no cache or aggregate over it; here the probe runs inside the merge's one Arrow action, so this plan shows only its result; the REDUCED graph is solved by one driver-side union-find, so the merged labels are a LocalTableScan built from one Arrow table (no CC lineage, no documents re-read, no distinct over the label table); final relabel is a broadcast join"),
    ("x120_blocking_choice", "four discipline costs from bounded key-histogram aggs — no pair join anywhere in the plan"),
    ("x122_moore_lewis", "one token exchange computing BOTH models (conditional sum); 1-row totals broadcast; scoring join on distinct (doc, token) pairs"),
    ("x123_edit_verify", "x115's bucketed rank + w equi-joins; |Δlen| prefilter inside the join condition; banded levenshtein inside codegen"),
    ("x124_dup_spans", "two digest-keyed exchanges (distinct-doc count + semi-join back); island merge windows partition by DOC — parallel, never global"),
    ("x127_hard_negatives", "queries broadcast with label constraint fused into the map-only corpus scan — no shuffle of raw vectors"),
    ("x128_pack_purity", "md5-sharded offset windows (parallel per shard); bounded (pack,source) agg; ≤|sources|·10 histogram keys"),
    ("x133_code_likeness", "map-only Column arithmetic — no joins, no Python; one presentation sort"),
    ("x134_hill_tail_index", "per-group rank windows truncated at k+1 rows; broadcast k/ref frames; bounded group agg"),
    ("x135_score_auc", "one (group,score) exchange — work bounded by distinct scores; integer rank arithmetic inside codegen"),
    ("x136_top_p_tokens", "per-group cumulative windows over integer token counts; ≤|groups| totals broadcast"),
    ("x137_ks_drift", "bounded (group x quantized-value) grid from two bounded frames; per-group windows over grid rows only"),
    ("x129_zipf_fit", "one (source, token) exchange; per-SOURCE rank windows; ≤|sources| regression agg over ≤top_n rows each"),
    # round 10
    ("x140_run_blocking_handoff", "planner-chosen pair join with the realized-count budget guard riding the plan as a broadcast 1-row frame — enforcement adds one bounded histogram agg, no second corpus pass"),
    ("x141_auc_gate_readback", "frozen per-group baseline (bounded step frame) full-outer merged with batch counts; BIGINT numerator inside codegen; ≤|groups| agg"),
    ("x144_roc_points", "ONE distinct-score aggregation (map-side combined) + descending cumulative window over the bounded frame"),
    ("x146_source_gini", "one |sources|-key exchange; rank window + final agg on the bounded frame; single division at the edge"),
    ("x147_oov_rate", "global vocab re-aggregates the SAME (source, token) frame — one corpus pass; rank window and joins on bounded frames"),
    ("x148_ivf_distortion", "centroid matrix rides the expression tree (no join); map-only scoring; one ≤|cells| exchange"),
    # round 11
    ("x157_ann_choice", "ONE union pricing job: corpus+query keys tagged by side, one exchange, per-family product-sums — no pair join, no search runs"),
    ("x163_compacted_store_readback", "generation + newer-patches union under the manifest; per-id latest-wins window over slim label rows; shard stays the partition column"),
    ("x166_ann_store_search", "probed-cell PartitionFilters on the cell-partitioned codes scan; ADC lookups inside codegen; per-query top-k window"),
    # round 12
    ("x167_ann_search_stream", "stream-accumulated results read back latest-wins; the per-batch search inside the stream is x166's partition-pruned plan (this read shows the (query_id, rank) window over the slim result log)"),
    ("x168_bpe_train", "final merge table is a driver-built literal frame — the N iterations each ran a vocab-bounded pair explode + LIMIT-1 collect; nothing corpus-sized appears after the one vocab fold"),
    ("x169_selective_compaction_readback", "per-shard folds: generation + per-shard-cut patch union under the covered map (the cut is a tiny map literal, no join); latest-wins window on slim label rows"),
    ("x171_bpe_tokenize", "the folded vocabulary read back: one corpus exchange to the vocab, N map-only merge folds, TakeOrdered top-k — corpus text never re-read per merge"),
    ("x172_bpe_fertility", "one (source, word) exchange + vocab-sized join to the folded vocabulary; exact integer sums; ≤|sources| output rows"),
    ("x173_bloom_decontam", "map-only bloom prescreen (k xxhash64 probes in codegen, one-row broadcast bit array — no join) before the survivor-bounded exact broadcast join"),
]

#: Hand-written analysis appended verbatim after the generated plans —
#: survives regeneration.
EPILOGUE = """
## q68_tpch_q8_market_share — the r04→r05 1.21× "regression" (round-6 note)

Round-5 verdict item #2 asked for the plan delta behind q68's
0.857 s → 1.034 s move. There is none: `git log 46cb3e6..7ff0daa --
queries/battery.py session.py catalog.py` is EMPTY (no q68-relevant
code or config changed between the two bench runs), and the r06 plan
dump is the shape Q8 wants — lineitem as the single probe side through
SEVEN consecutive BroadcastHashJoins (part, supplier, orders, customer,
nation×2, region all build-side at sf0.1), one exchange for the final
year groupBy, no sort-merge join anywhere:

```
BroadcastHashJoin ×7 (BuildRight)   ← part/supp/orders/cust/n1/region/n2
  Scan parquet lineitem (probe, 5 cols pruned)
Exchange hashpartitioning(o_year)   ← the only shuffle
```

Measured this round in isolation (7 back-to-back reps, sf0.1,
local[32]): walls 2.22 (cold), 1.35, 1.02, 1.00, 0.93, 0.95, 0.80 —
a 0.80–1.35 s warm band whose spread is the seven broadcast BUILDS
(driver-side collect + relation build dominates; the probe scan is
~0.2 s by itself). Both round medians sit inside that band; with
reps=3 the median still samples it. Accepted as build-side jitter on a
plan that is already optimal at this SF; at cluster scale the same
query degrades gracefully — orders/customer/part/supplier carry no
broadcast hint, so past the 10 MB threshold AQE plans them as shuffle
joins keyed on the probe's join columns while nation/region stay
pinned broadcasts.
"""


def condense(plan: str) -> str:
    """Plan tree + per-scan pruning/pushdown lines (formatted mode's node
    details are repetitive; scans carry the evidence)."""
    tree = plan.split("\n\n")[0]
    details = []
    node = None
    for line in plan.splitlines():
        m = re.match(r"\((\d+)\) (\w+)", line)
        if m:
            node = f"({m.group(1)}) {m.group(2)}"
        if re.match(r"(ReadSchema|PushedFilters|PartitionFilters|Arguments: hashpartitioning.*|Location)", line.strip()):
            key = line.strip()
            if key.startswith("Location"):
                key = re.sub(r"\[.*?(\w+)\.parquet.*\]", r"[\1.parquet]", key)
            details.append(f"  {node} {key}")
    return tree + "\n" + "\n".join(details)


def main() -> None:
    from go_fish_spark.queries import REGISTRY
    from go_fish_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# PLANS — physical-plan evidence (generated by scripts/dump_plans.py)",
        "",
        "Formatted plans at sf0.01 with AQE on (initial plans; AQE refines",
        "at runtime). Each entry condenses to the plan tree + per-scan",
        "ReadSchema/PushedFilters — the reviewable claims are column",
        "pruning, pushdown, broadcast choices, and top-k shapes.",
        "",
    ]
    for name, claim in SHOWCASE:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out += [f"## {name}", "", f"_Claim: {claim}_", "", "```",
                condense(plan), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
        f.write(EPILOGUE)
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
