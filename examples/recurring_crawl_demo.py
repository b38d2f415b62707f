#!/usr/bin/env python
"""Recurring-crawl dedup maintenance demo — the round-9 production loop
composed end to end from its oracle-verified parts:

    crawl batch 1 (readStream) ->
    durable MinHash signature store (streaming/sigstore — checkpointed,
    restart-surviving, ~0.5 KB/doc) ->
    initial component labels (x02 pairs + connected components) ->
    crawl batch 2 arrives -> sigstore maintenance arm appends only the
    new batch's signatures (map-only; history never re-read) ->
    delta pairs by probing the STORE (dedup.delta_minhash_pairs) ->
    incremental label merge (audit.incremental_audit_merge — a
    driver-side union-find on the reduced graph, bounded by |batch| +
    |delta pairs|) ->
    asserted ≡ the full recompute over the mutated corpus.

Run:  python examples/recurring_crawl_demo.py [sf_dir]  (default sf0.001)

The history corpus is sf documents with doc_id % 7 != 0; the arriving
batch is the % 7 == 0 slice — the same split x118 hash-verifies against
DuckDB every round.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from go_fish_spark.catalog import table  # noqa: E402
from go_fish_spark.operators import dedup  # noqa: E402
from go_fish_spark.operators.audit import incremental_audit_merge  # noqa: E402
from go_fish_spark.operators.graph import connected_components  # noqa: E402
from go_fish_spark.session import get_spark  # noqa: E402
from go_fish_spark.streaming.sigstore import (  # noqa: E402
    read_signature_store,
    signature_store_stream,
)


def run_demo(spark, sf_dir: str, work: str) -> int:
    """The composed loop, reusable from tests (pass the session and a
    scratch dir). Returns the final cluster count."""
    incoming = os.path.join(work, "incoming")
    store = os.path.join(work, "sigstore")
    cp = os.path.join(work, "checkpoint")
    os.makedirs(incoming)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % 7 == 0
    hist, batch = docs.filter(~is_new), docs.filter(is_new)

    # day 1: history crawl lands; the maintenance arm hashes it once
    hist.write.mode("append").parquet(incoming)
    schema = "doc_id long, text string"
    q = signature_store_stream(
        spark.readStream.schema(schema).parquet(incoming),
        store, cp, portable=True,
    )
    q.awaitTermination(300)
    print(f"store after day 1: {spark.read.parquet(store).count()} sigs")

    # day-1 labels (computed once, then only MAINTAINED)
    old_pairs = dedup.minhash_lsh_pairs(
        hist, "doc_id", "text", threshold=0.35, portable=True
    )
    old_comp = connected_components(
        hist.select("doc_id"), old_pairs, id_col="doc_id"
    )
    print(f"day-1 components: {old_comp.count()} labeled docs")

    # day 2: a new batch arrives; RESTART the maintenance arm (same
    # checkpoint — only the new files are processed)
    batch.write.mode("append").parquet(incoming)
    q2 = signature_store_stream(
        spark.readStream.schema(schema).parquet(incoming),
        store, cp, portable=True,
    )
    q2.awaitTermination(300)
    sigs = read_signature_store(spark, store).withColumnRenamed(
        "doc_id", "_id"
    )
    # history slice of the store = everything not in today's batch
    # (keyed anti-join — no driver-side id list at any corpus size)
    hist_sigs = sigs.join(
        batch.select(F.col("doc_id").alias("_id")), "_id", "left_anti"
    )
    print(f"store after day 2: {sigs.count()} sigs")

    # the delta probe reads the DURABLE store — no historical text
    dpairs = dedup.delta_minhash_pairs(
        batch, hist_sigs, "doc_id", "text",
        threshold=0.35, portable=True,
    )
    merged = incremental_audit_merge(
        old_comp, batch.select("doc_id"), dpairs, id_col="doc_id"
    )
    got = sorted(map(tuple, merged.collect()))

    full = connected_components(
        docs.select("doc_id"),
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.35, portable=True
        ),
        id_col="doc_id",
    )
    want = sorted(map(tuple, full.collect()))
    assert got == want, "incremental merge diverged from full recompute"
    n_clusters = len({c for _, c in got})
    print(
        f"incremental merge ≡ full recompute: {len(got)} docs, "
        f"{n_clusters} clusters"
    )
    return n_clusters


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark(app_name="recurring-crawl-demo")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="crawl_demo_")
    try:
        run_demo(spark, sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
