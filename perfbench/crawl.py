"""crawl_maintenance: incremental dedup-label maintenance, closed loop.

A seeded corpus (Zipf words, near-duplicate clusters, boilerplate footer)
arrives as parquet files: one bootstrap file of ``BOOTSTRAP_DOCS``
documents and one warm-up delivery (both part of set-up), then
``DELIVERIES`` timed deliveries of ``DOCS_PER_DELIVERY`` documents. After
each file lands the caller runs one
``dedup_maintenance_stream(..., available_now=True)`` and waits for it;
the run ends with a ``read_labels`` read-back. A delivery's
latency runs from the file landing in the watched directory to the commit
of the label table (the modification time of its ``_current.json``).

Reference: the module's invariant, labels equal to connected components
of the MinHash-LSH pairs over everything ingested, recomputed here with
the DuckDB mirror of the pair query and a Python union-find.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Run, median, metric, quantile, release_caches, start_session
from gen import corpus_docs

BOOTSTRAP_DOCS = 200
DOCS_PER_DELIVERY = 100
DELIVERIES = 3  # timed, after the bootstrap and one warm-up delivery
LSH = {"n_hashes": 64, "bands": 16, "k": 3, "threshold": 0.5, "seed": 42}


class Crawl:
    """One label store fed from one watched directory."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root
        self.inbox, self.stage = os.path.join(root, "in"), os.path.join(root, "stage")
        self.labels = os.path.join(root, "labels")
        os.makedirs(self.inbox)
        os.makedirs(self.stage)
        self.docs = spark.readStream.schema("doc_id long, text string").parquet(self.inbox)
        self.n = 0

    def deliver(self, rows: list[dict]) -> tuple[float, float]:
        """Land one batch file and run the maintenance loop over it;
        returns (delivery time, label commit time), both epoch seconds."""
        from go_fish_spark.streaming.dedup_maintenance import dedup_maintenance_stream

        name = f"batch-{self.n:04d}.parquet"
        self.n += 1
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(self.stage, name))
        os.replace(os.path.join(self.stage, name), os.path.join(self.inbox, name))
        delivered = time.time()
        q = dedup_maintenance_stream(self.docs, self.labels,
                                     os.path.join(self.root, "ckpt"),
                                     portable=True, available_now=True, **LSH)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"maintenance failed: {q.exception()}")
        manifest = os.path.join(self.labels, "_current.json")
        committed = os.path.getmtime(manifest) if os.path.exists(manifest) else 0.0
        return delivered, committed

    def read_back(self):
        from go_fish_spark.streaming.dedup_maintenance import read_labels

        return read_labels(self.spark, self.labels).toPandas()


def _components(ids, pairs) -> dict[int, int]:
    """id → smallest id of its connected component (union-find)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def reference_labels(rows: list[dict], root: str) -> dict[int, int]:
    """Full recompute over every ingested document, outside Spark."""
    import duckdb
    from go_fish_spark.operators.dedup import duck_minhash_lsh_sql

    path = os.path.join(root, "reference.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        pairs = con.execute(
            duck_minhash_lsh_sql("documents", "doc_id", "text", **LSH)).fetchall()
    finally:
        con.close()
    return _components([r["doc_id"] for r in rows], [(a, b) for a, b, *_ in pairs])


def _partition(assign: dict[int, int]) -> set[frozenset]:
    groups: dict[int, set] = {}
    for i, c in assign.items():
        groups.setdefault(c, set()).add(i)
    return {frozenset(g) for g in groups.values()}


def run_crawl(run: Run) -> dict:
    from go_fish_spark.streaming.storekernel import walk_parquet_files

    tr = run.tracer
    n_docs = BOOTSTRAP_DOCS + (1 + DELIVERIES) * DOCS_PER_DELIVERY
    rows = corpus_docs(np.random.default_rng(run.seed), n_docs)
    batches = [rows[:BOOTSTRAP_DOCS]] + [
        rows[i:i + DOCS_PER_DELIVERY]
        for i in range(BOOTSTRAP_DOCS, n_docs, DOCS_PER_DELIVERY)]

    t_setup = time.perf_counter()
    spark = start_session(run)
    crawl = Crawl(spark, run.path("crawl"))
    with tr.span("session.warmup"):
        with tr.span("store.bootstrap"):
            crawl.deliver(batches[0])
        # first call of the incremental path, so timed deliveries are alike
        crawl.deliver(batches[1])
        release_caches(spark)
    setup_s = time.perf_counter() - t_setup

    latencies, failed = [], 0
    with tr.span("measure"):
        t0 = time.time()
        for b in batches[2:]:
            with tr.span("store.delivery"):
                delivered, committed = crawl.deliver(b)
            if committed < delivered:
                failed += 1
            latencies.append(max(committed - delivered, 0.0))
        with tr.span("store.readback"):
            labels = crawl.read_back()
        wall_s = time.time() - t0

    got = dict(zip(labels["id"].tolist(), labels["component"].tolist()))
    if _partition(got) != _partition(reference_labels(rows, run.root)):
        failed += 1

    def layers(log) -> dict:
        spans = [s for s in tr.spans if s["name"] == "store.delivery"]
        secs = [s["end"] - s["start"] for s in spans]
        sig_files, sig_bytes, _ = walk_parquet_files(os.path.join(crawl.labels, "_sigs"))
        current = max(d for d in os.listdir(crawl.labels) if d.startswith("v"))
        _, label_bytes, _ = walk_parquet_files(os.path.join(crawl.labels, current))
        jobs = sum(1 for s in spans for j in log.jobs.values()
                   if s["start"] * 1000 <= j.submit_ms <= s["end"] * 1000)
        return {
            "store.bootstrap_s": sum(tr.durations("store.bootstrap")),
            "store.batch_s_p50": median(secs),
            "store.batch_s_max": max(secs),
            "store.jobs_per_batch": jobs / len(spans),
            "store.sig_files": sig_files,
            "store.sig_bytes": sig_bytes,
            "store.label_bytes": label_bytes,
            "store.readback_s": sum(tr.durations("store.readback")),
        }

    return {
        "attempted": DELIVERIES + 1,
        "failed": failed,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "wall_s": metric(wall_s, "s"),
            "latency_p50_s": metric(median(latencies), "s"),
            "latency_p99_s": metric(quantile(latencies, 0.99), "s"),
        },
        "layers": layers,
    }
