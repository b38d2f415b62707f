#!/usr/bin/env python
"""Durable label-table maintenance demo — the round-10 production loop
composed end to end from its oracle-verified parts:

    crawl batches (readStream, one per trigger) ->
    `streaming/labelstore.label_store_maintenance_stream`:
      per batch, signatures append to the store FIRST (replay-safe),
      the delta probe finds the batch's pairs against the stored
      signatures, and the label table receives the bounded
      changed-emit UPSERT patch (x118/x139 discipline) ->
    a RESTARTED query on the same checkpoint resumes from the persisted
    sharded table (nothing refits) ->
    asserted ≡ the full CC recompute over everything ingested.

Run:  python examples/durable_labels_demo.py [sf_dir]  (default sf0.001)

Batches are the doc_id % 3 slices of the sf documents table — the same
split x139 hash-verifies against DuckDB every round. The label table
lands as md5-sharded parquet (`sources/sharding` rule): id-bounded
reads prune to one shard directory, and `compact_label_store` folds the
append history once the patch pile outweighs the live rows.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
import pyspark.sql.types as T  # noqa: E402

from go_fish_spark.catalog import table  # noqa: E402
from go_fish_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from go_fish_spark.operators.graph import connected_components  # noqa: E402
from go_fish_spark.session import get_spark  # noqa: E402
from go_fish_spark.streaming.labelstore import (  # noqa: E402
    compact_label_store,
    label_store_maintenance_stream,
    read_label_store,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def run_demo(spark, sf_dir: str, work: str) -> int:
    """The composed loop, reusable from tests. Returns the final
    cluster count after asserting labels ≡ full recompute."""
    incoming = os.path.join(work, "incoming")
    store = os.path.join(work, "labelstore")
    cp = os.path.join(work, "checkpoint")
    os.makedirs(incoming)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    seen = None
    for b in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == b)
        batch.write.mode("append").parquet(incoming)
        seen = batch if seen is None else seen.unionByName(batch)
        # a NEW query each trigger = a restart per batch: the loop
        # resumes from the checkpoint + the persisted table every time
        q = label_store_maintenance_stream(
            spark.readStream.schema(SCHEMA).parquet(incoming),
            store, cp, bands=32, threshold=0.3, portable=True, n_shards=16,
        )
        q.awaitTermination(300)

    got = sorted(
        map(tuple, read_label_store(
            spark, os.path.join(store, "labels")).collect())
    )
    want = sorted(
        map(
            tuple,
            connected_components(
                seen.select("doc_id"),
                minhash_lsh_pairs(
                    seen, "doc_id", "text", bands=32, threshold=0.3,
                    portable=True,
                ),
                id_col="doc_id",
            ).collect(),
        )
    )
    assert got == want, "durable label table diverged from full recompute"
    n_compact = compact_label_store(
        spark, os.path.join(store, "labels"), n_shards=16
    )
    assert n_compact == len(got)
    n_clusters = len({c for _, c in got})
    print(
        f"durable labels ≡ full recompute: {len(got)} docs, "
        f"{n_clusters} clusters after 3 upsert batches; "
        f"compacted to {n_compact} rows"
    )
    return n_clusters


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark(app_name="durable-labels-demo")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="durable_labels_demo_")
    try:
        run_demo(spark, sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
