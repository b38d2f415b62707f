"""Shared dedup-audit stage: ONE pair graph + ONE connected-components
run feeding every audit consumer.

A real curation pipeline computes the near-dup cluster structure once and
derives several products from it — the canonical-doc selection that
decides what survives, and the audit artifacts published next to the
release (cluster-size histogram, per-cluster stats). Recomputing the
Jaccard pair join and the iterative CC rounds per consumer is the single
most expensive duplicated work in the registry (round-4 verdict: x49 and
x62 were the two costliest entries, each rebuilding the same graph).

:func:`dedup_audit` is the sharing rule applied at the operator level:
the pair graph is built once, :func:`~go_fish_spark.operators.graph.
connected_components` runs once (its output is ``localCheckpoint``-ed, so
every consumer scans the materialized label frame instead of re-running
the iteration — the same multi-consumer persist discipline the pipeline
compiler applies to fan-out nodes, `plans/compiler.py`), and the
canonical selection + histogram are cheap derivations on top.

Reference anchor: the reference has no dedup/audit family (gap category,
SURVEY.md §2.6).

100 TB shape: inherited entirely from the parts — the pair join is the
threshold-adaptive inverted index (`operators/dedup.py`), CC is O(log
diameter) pointer jumping with per-round lineage truncation
(`operators/graph.py`), and both derivations are bounded: the canonical
window partitions by component (bounded by the largest dup cluster), the
histogram groups on ≤ ~40 power-of-2 bins.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import ngram_jaccard_pairs
from .graph import cluster_size_histogram, connected_components


@dataclass(frozen=True)
class DedupAudit:
    """The products of one shared dedup-audit pass.

    ``components``: (id, component) for every doc — localCheckpoint-ed,
    safe to fan out to any number of consumers without recompute.
    ``canonical``: one row per cluster — (component, canonical_id,
    n_members, best_quality), the quality-argmax selection (x49 shape).
    ``histogram``: power-of-2 cluster-size histogram (x62 shape).
    """

    components: DataFrame
    canonical: DataFrame
    histogram: DataFrame


def quality_canonical(
    components: DataFrame, quality: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse each component to its highest-quality member (ties to the
    lower id): (component, canonical_id, n_members, best_quality).
    ``quality`` carries (id_col, _q DOUBLE). One window over the
    component key — per-partition work bounded by the largest cluster."""
    from pyspark.sql import Window

    j = components.select(F.col("id").alias(id_col), "component").join(
        quality, id_col
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_q").desc(), F.col(id_col)
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col(id_col).alias("canonical_id"),
            "n_members",
            F.round("_q", 6).alias("best_quality"),
        )
    )


def incremental_audit_merge(
    old_components: DataFrame,
    delta_ids: DataFrame,
    delta_pairs: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    emit: str = "full",
) -> DataFrame:
    """Merge a new crawl batch into EXISTING dedup-component labels
    without re-running connected components over the corpus — the
    incremental union-find discipline (the reference's KV-state pattern,
    `state/kv.go:45-80`, applied to the dedup graph; Next #2 of the r8
    verdict).

    Inputs: ``old_components`` = (id, component) for the historical
    corpus where component = min member id (the
    :func:`~go_fish_spark.operators.graph.connected_components`
    contract); ``delta_ids`` = one ``id_col`` column of the batch's doc
    ids (DISJOINT from history — append-only maintenance; an edit that
    REMOVES similarity needs a full recompute, since component splits
    cannot be expressed as merges); ``delta_pairs`` = verified pairs
    touching ≥ 1 delta doc (e.g.
    :func:`~go_fish_spark.operators.dedup.delta_minhash_pairs`).

    Exactness: labels are min-reachable-id, so an old label IS the min
    id of its members; contracting each touched old component to its
    label-node and solving the REDUCED graph (delta ids + touched
    labels, delta edges with old endpoints rewritten to their labels)
    for min-reachable-id labels yields merged labels equal to the full
    recompute's — pairwise pair disciplines make pairs(all) =
    pairs(hist×hist) ∪ delta_pairs, and min-label CC composes over that
    union (parity-tested).

    Solve: the reduced graph is collected to the driver in ONE Arrow
    action (rewritten edges plus a self-edge per delta id) and labeled
    by :func:`_min_label_union_find`, whose smaller-root-wins union
    reproduces the :func:`~go_fish_spark.operators.graph.
    connected_components` contract. The iterative CC cost ~3-4 Spark
    jobs per round on a graph of a few hundred rows; the union-find is
    one collect. It has no ``max_iter``, so a long-chain batch that
    would exhaust CC's round budget converges.

    Output: (id, component) for history ∪ batch with ``emit="full"``;
    with ``emit="changed"`` only the rows whose label is NEW OR CHANGED
    — the batch itself plus members of touched-and-merged old
    components — i.e. the UPSERT set a label-table maintainer writes
    back. At recurring-crawl scale this is the difference between
    rewriting the archive's label table daily and appending a
    delta-bounded patch (measured in SCALE.md "Round-9 part 6": the
    full-emit incremental step still pays one corpus-wide relabel map;
    the changed-emit output is bounded by |batch| + |touched
    members|).

    100 TB shape: the TWO corpus-scale touches are slim keyed joins —
    rewriting delta-pair endpoints through the label store (delta-
    bounded rows move; a store bucketed on id makes it zero-exchange on
    the stored side) and the final relabel left-join against the
    ≤|touched components| merge map (broadcastable; with
    ``emit="changed"`` it becomes a semi-join that moves only touched
    members). History is read only through those joins, in Spark. The
    DRIVER holds the reduced graph: |delta ids| + |delta pairs| rows —
    a 10⁶-document batch with ~10⁶ pairs is ~32 MB of int64 endpoints —
    so the batch size, not the corpus, bounds driver memory."""
    if emit not in ("full", "changed"):
        raise ValueError(f"emit must be 'full' or 'changed', got {emit!r}")
    import pyarrow as pa
    from pyspark.sql import types as T

    old = old_components.select(
        F.col("id").alias("_oid"), F.col("component").alias("_ocomp")
    )
    # rewrite pair endpoints: old ids contract to their component label,
    # delta ids stay themselves (left joins; delta ids miss the store)
    e = (
        delta_pairs.select(
            F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
        )
        .join(old.withColumnRenamed("_oid", "_a"), "_a", "left")
        .withColumnRenamed("_ocomp", "_ca")
        .join(old.withColumnRenamed("_oid", "_b"), "_b", "left")
        .withColumnRenamed("_ocomp", "_cb")
        .select(
            F.coalesce("_ca", "_a").alias("id_a"),
            F.coalesce("_cb", "_b").alias("id_b"),
            F.lit(False).alias("_d"),
        )
    )
    # one self-edge per delta id marks the batch's nodes
    nodes = delta_ids.select(
        F.col(id_col).alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.lit(True).alias("_d"),
    )
    # null ids never match a join, so the iterative CC emitted no row
    # for them either
    graph = e.unionByName(nodes).dropna(subset=["id_a", "id_b"])
    id_type = graph.schema["id_a"].dataType
    tbl = graph.toArrow()
    ids, root, src_rank = _min_label_union_find(tbl["id_a"], tbl["id_b"])
    # every other node is a rewritten endpoint: a touched old label (an
    # endpoint outside history ∪ batch adds a relabel row no old row
    # matches, and bridges exactly as it did under iterative CC)
    old_node = np.ones(len(ids), dtype=bool)
    old_node[src_rank[tbl["_d"].to_numpy()]] = False
    solved = delta_pairs.sparkSession.createDataFrame(
        pa.table({"id": ids, "component": ids.take(root), "_old": old_node}),
        T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("component", id_type),
                T.StructField("_old", T.BooleanType()),
            ]
        ),
    )
    # relabel map for TOUCHED old components: label-node → merged label
    # (≤ |touched components| rows — broadcast side of the final join)
    relabel = solved.filter("_old").select(
        F.col("id").alias("_ocomp"), F.col("component").alias("_new")
    )
    batch = solved.filter(~F.col("_old")).select("id", "component")
    if emit == "changed":
        # only touched-and-RELABELED old members move: inner-join the
        # (≤ touched) relabel map, keep rows whose label actually moved
        hist_changed = (
            old_components.withColumnRenamed("component", "_ocomp")
            .join(F.broadcast(relabel), "_ocomp")
            .filter(F.col("_new") != F.col("_ocomp"))
            .select("id", F.col("_new").alias("component"))
        )
        return hist_changed.unionByName(batch)
    hist = (
        old_components.withColumnRenamed("component", "_ocomp")
        .join(F.broadcast(relabel), "_ocomp", "left")
        .select("id", F.coalesce("_new", "_ocomp").alias("component"))
    )
    return hist.unionByName(batch)


def _min_label_union_find(src, dst):
    """Connected components of a driver-side edge list (Arrow columns
    ``src``/``dst`` of one type). Ids are ranked in sorted order — Arrow
    sorts strings by UTF-8 bytes, as Spark compares them — and every
    union makes the SMALLER root the parent, so each root is its set's
    min id: the :func:`~go_fish_spark.operators.graph.
    connected_components` contract, without a round budget.

    Returns ``(ids, root, src_rank)``: the sorted distinct ids (Arrow),
    each id's root rank, and the rank of every ``src`` entry (numpy)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    both = pa.concat_arrays([src.combine_chunks(), dst.combine_chunks()])
    ids = pc.unique(both)
    ids = ids.take(pc.array_sort_indices(ids))
    ranks = pc.index_in(both, value_set=ids).to_numpy()
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    n = len(src)
    for x, y in zip(ranks[:n].tolist(), ranks[n:].tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    root = np.fromiter((find(i) for i in range(len(ids))), np.int64, len(ids))
    return ids, root, ranks[:n]


def component_cohesion(
    components: DataFrame,
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-cluster EDGE DENSITY of the dedup graph — the QA gauge for
    transitive-closure over-merging (the known failure mode of
    connected-components dedup: A~B and B~C chain into {A,B,C} even
    when A≁C): density = edges / C(n,2) per component. 1.0 = a true
    clique (every member pairwise-similar — safe to collapse to one
    canonical); low density on a large cluster = a chain/hub merge the
    threshold should probably not have closed (raise t, or verify with
    x123's edit-distance arm before collapsing).

    Inputs: ``components`` = (id, component) (the CC contract);
    ``pairs`` = the verified pair frame the components were closed
    over. Edges are CANONICALIZED first (least/greatest + distinct,
    self-loops dropped — ADVICE r10 #4): a pairs frame carrying both
    orientations or duplicate rows counts each undirected edge exactly
    once, so density can never exceed 1. Both endpoints of every
    canonical pair share a component BY CONSTRUCTION, so one endpoint
    lookup keys the edge count. Only components with ≥ 2 members are
    reported (density undefined on singletons).

    Output: (component, n_members, n_edges, density round-9) —
    integers exact, one IEEE division.

    100 TB shape: two keyed aggregations over slim frames (member
    counts on the label table, canonical-edge counts joined through
    ONE endpoint) — bounded output ≤ |components|."""
    members = (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    canon = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .filter(F.col("_a") < F.col("_b"))
        .distinct()
    )
    edges = (
        canon.select(F.col("_a").alias("id"))
        .join(components, "id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    possible = (
        F.col("n_members") * (F.col("n_members") - 1) / F.lit(2)
    ).cast("bigint")
    return (
        members.join(edges, "component", "left")
        .withColumn("n_edges", F.coalesce("n_edges", F.lit(0)))
        .select(
            "component",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.round(
                F.col("n_edges").cast("double") / possible.cast("double"),
                9,
            ).alias("density"),
        )
        .orderBy("component")
    )


def maintenance_plan(
    old_components: DataFrame,
    delta_ids: DataFrame,
    delta_pairs: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    cost_cutoff: float = 0.5,
) -> dict:
    """Incremental-vs-full maintenance POLICY (r9 verdict Next #5):
    decide whether to fold a crawl batch into the existing labels via
    :func:`incremental_audit_merge` or to re-run the full recompute —
    the same decision-procedure-as-code pattern as ``choose_blocking``
    / ``salt_plan``, priced from the DELTA PROBE's own output (the
    pairs are already in hand when this question is asked; pricing adds
    two slim aggregations over the label table, never a pair join).

    This is the pricing operator registry entry x149 certifies; no
    maintenance stream calls it. Both streams fold every batch, the
    first included, incrementally (`streaming/dedup_maintenance.fold_label_batch`
    — its fresh set already excludes labeled ids, so the edit gate
    cannot fire there, and since the merge became a driver-side
    union-find the full arm measured slower even on a batch bridging
    every cluster — SCALE.md "Store maintenance: one fold").

    The SCALE.md x118 sweep identified the crossover variable:
    TOUCHED-COMPONENT growth. The incremental step's corpus-scale work
    is the relabel semi-join over touched members (+ the batch itself);
    the full recompute's is the whole history. So:

      * **correctness gate first**: any delta id ALREADY labeled is an
        EDIT — component splits cannot be expressed as merges
        (incremental_audit_merge's documented append-only contract) —
        → ``full`` regardless of cost, reason ``edited_ids``.
      * otherwise price ``incremental_frac = (|delta| + touched
        members) / (|history| + |delta|)`` and recommend
        ``incremental`` when it is ≤ ``cost_cutoff`` (incremental also
        skips re-hashing history, so the cutoff is deliberately
        conservative), else ``full`` with reason ``touched_growth``.

    Returns {"action": "incremental"|"full", "reason", "n_history",
    "n_delta", "touched_components", "touched_members",
    "incremental_frac"}.

    100 TB shape: endpoint→label lookup and the touched-member count
    are slim keyed joins over the label table (the store is bucketed on
    id ⇒ zero-exchange on the stored side); nothing touches text."""
    n_delta = delta_ids.count()
    old_ids = old_components.select(F.col("id"))
    n_edits = delta_ids.select(
        F.col(id_col).alias("id")
    ).join(old_ids, "id", "left_semi").count()
    n_history = old_components.count()
    if n_edits > 0:
        return {
            "action": "full",
            "reason": "edited_ids",
            "n_history": n_history,
            "n_delta": n_delta,
            "n_edited": n_edits,
            "touched_components": None,
            "touched_members": None,
            "incremental_frac": None,
        }
    ends = (
        delta_pairs.select(F.col(src_col).alias("id"))
        .unionByName(delta_pairs.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    touched = (
        old_components.join(ends, "id", "left_semi")
        .select("component")
        .distinct()
    )
    stats = (
        old_components.join(touched, "component", "left_semi")
        .agg(
            F.count(F.lit(1)).alias("_members"),
            F.countDistinct("component").alias("_comps"),
        )
        .collect()[0]
    )
    t_members, t_comps = int(stats["_members"]), int(stats["_comps"])
    frac = (
        (n_delta + t_members) / (n_history + n_delta)
        if (n_history + n_delta) > 0
        else 0.0
    )
    return {
        "action": "incremental" if frac <= cost_cutoff else "full",
        "reason": (
            "bounded_touch" if frac <= cost_cutoff else "touched_growth"
        ),
        "n_history": n_history,
        "n_delta": n_delta,
        "n_edited": 0,
        "touched_components": t_comps,
        "touched_members": t_members,
        "incremental_frac": round(frac, 6),
    }


def dedup_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality: Column,
    k: int = 3,
    threshold: float = 0.3,
    pairs: DataFrame | None = None,
) -> DedupAudit:
    """Run the shared pass: Jaccard pairs (once) → connected components
    (once, materialized) → canonical selection + size histogram, both
    reading the SAME label frame. ``quality`` is the per-row quality
    expression (e.g. ``functions.text.quality_score(text_col)``).
    ``pairs``: optional pre-materialized pair frame (id_a, id_b,
    jaccard) at the SAME (k, threshold) — a pipeline that already
    holds the pair table hands it in instead of re-running the shingle
    self-join (the session-shared form lives in
    ``queries/extensions/_shared.shared_jaccard_pairs``)."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, k=k, threshold=threshold
        )
    comp = connected_components(df.select(id_col), pairs, id_col=id_col)
    q = df.select(F.col(id_col), quality.alias("_q"))
    return DedupAudit(
        components=comp,
        canonical=quality_canonical(comp, q, id_col),
        histogram=cluster_size_histogram(comp),
    )
