"""Round-14 regressions: the r13 ADVICE findings (race-free lease
heartbeat, recall-monitor data-census guard, recursive-mtime tmp sweep)
plus the round's PQ-parameter planning work."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --- ADVICE r13 #2 / verdict Next #2: race-free lease heartbeat ---------------


def test_heartbeat_fail_stops_after_reclaim(tmp_path):
    """A TTL-reclaimed writer's heartbeat must FAIL-STOP and leave the
    NEW holder's lease intact — never resurrect the stale lease."""
    import time

    from go_fish_spark.streaming import storekernel as sk

    d = str(tmp_path)
    a = sk.acquire_lease(d, "old-holder", ttl_s=0.05)
    time.sleep(0.1)
    b = sk.acquire_lease(d, "new-holder", ttl_s=600)  # TTL reclaim
    with pytest.raises(sk.LeaseLost, match="reclaimed by 'new-holder'"):
        sk.renew_lease(d, a["nonce"])
    # the new holder's lease survived the old holder's heartbeat
    assert sk.verify_lease(d, b["nonce"])["owner"] == "new-holder"
    # and keeps working: renew + fenced publish both succeed
    assert sk.renew_lease(d, b["nonce"])["nonce"] == b["nonce"]
    sk.atomic_write_json(
        os.path.join(d, "M.json"), {"gen": 1}, fence=(d, b["nonce"])
    )


def test_heartbeat_window_race_new_holder_wins(tmp_path, monkeypatch):
    """The exact window ADVICE r13 flagged: a writer acquires the lease
    path INSIDE the heartbeat (between the old holder's rename-take and
    its link-republish). The republish must refuse (link is exclusive)
    and the old holder fail-stop — the new holder's lease is intact."""
    from go_fish_spark.streaming import storekernel as sk

    d = str(tmp_path)
    a = sk.acquire_lease(d, "old-holder", ttl_s=600)
    taken = {}
    real_read = sk._read_lease_doc

    def race_read(path):
        if f".renew.{a['nonce']}" in path and not taken:
            # the lease path is briefly absent here — a fresh acquire
            # lands exactly in the window
            taken["b"] = sk.acquire_lease(d, "racer", ttl_s=600)
        return real_read(path)

    monkeypatch.setattr(sk, "_read_lease_doc", race_read)
    with pytest.raises(sk.LeaseLost, match="claimed by a new holder"):
        sk.renew_lease(d, a["nonce"])
    monkeypatch.undo()
    assert sk.verify_lease(d, taken["b"]["nonce"])["owner"] == "racer"
    # no stray working/heartbeat files left behind
    leftovers = [
        f for f in os.listdir(d)
        if ".renew." in f or ".hb." in f or ".acq." in f
    ]
    assert leftovers == []


def test_heartbeat_takes_only_its_own_lease(tmp_path):
    """An old holder heartbeating AFTER a reclaim captures the NEW
    holder's doc in its rename-take — it must restore that doc by link
    (not discard it) before fail-stopping."""
    import time

    from go_fish_spark.streaming import storekernel as sk

    d = str(tmp_path)
    a = sk.acquire_lease(d, "old", ttl_s=0.05)
    time.sleep(0.1)
    b = sk.acquire_lease(d, "new", ttl_s=600)
    with pytest.raises(sk.LeaseLost):
        sk.renew_lease(d, a["nonce"])
    cur = sk._read_lease_doc(sk.lease_path(d))
    assert cur and cur["nonce"] == b["nonce"]  # restored verbatim


# --- ADVICE r13 #3: recall monitor skips when store DATA changed --------------


def test_cells_census_fingerprints_data_changes(spark, tmp_path):
    from test_round12 import _ann_corpus

    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 60)
    store = str(tmp_path / "ann")
    src = str(tmp_path / "in")
    df.write.parquet(src)
    annstore.ann_store_stream(
        spark.readStream.schema("vec_id long, embedding array<double>")
        .parquet(src),
        store, str(tmp_path / "cp"), n_cells=4, m=4, ksub=16,
    ).awaitTermination(120)
    doc = annstore.load_ann_manifest(store)
    c0 = annstore._cells_census(store, doc["gen"])
    assert c0  # non-empty store
    assert annstore._cells_census(store, doc["gen"]) == c0  # stable
    coarse, pq, _ = annstore.load_ann_model(store)
    coded = annstore.encode_ann_batch(
        df.filter(F.col("vec_id") < 3), coarse, pq
    )
    annstore.append_ann_patch(coded, store, batch_id=99, gen=doc["gen"])
    assert annstore._cells_census(store, doc["gen"]) != c0


def test_recall_monitor_skips_on_mid_batch_append(spark, tmp_path,
                                                  monkeypatch):
    """A patch landing BETWEEN the serving search and the truth search
    (same model version — appends don't bump it) must skip the batch's
    recall estimate, not deflate it silently (ADVICE r13 #3)."""
    from test_round12 import _ann_corpus

    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 80)
    store = str(tmp_path / "ann")
    src = str(tmp_path / "in")
    df.write.parquet(src)
    annstore.ann_store_stream(
        spark.readStream.schema("vec_id long, embedding array<double>")
        .parquet(src),
        store, str(tmp_path / "cp1"), n_cells=4, m=4, ksub=16,
    ).awaitTermination(120)
    doc = annstore.load_ann_manifest(store)
    coarse, pq, _ = annstore.load_ann_model(store)
    late = annstore.encode_ann_batch(
        df.filter(F.col("vec_id") >= 70), coarse, pq
    ).localCheckpoint()

    real_search = annstore.adc_search_store
    calls = {"n": 0}

    def racing_search(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:  # the truth search — append just before it
            annstore.append_ann_patch(
                late, store, batch_id=77, gen=doc["gen"]
            )
        return real_search(*args, **kwargs)

    monkeypatch.setattr(annstore, "adc_search_store", racing_search)
    qsrc = str(tmp_path / "q")
    df.filter(F.col("vec_id") < 8).select(
        "vec_id", "embedding"
    ).write.parquet(qsrc)
    infos = []
    annstore.ann_search_stream(
        spark.readStream.schema("vec_id long, embedding array<double>")
        .parquet(qsrc),
        store, str(tmp_path / "out"), str(tmp_path / "cp2"),
        k=5, n_probe=4, recall_mode="full_probe_adc", recall_sample=4,
        on_batch=infos.append,
    ).awaitTermination(120)
    assert infos
    assert infos[0].get("recall_skipped") == "store_data_changed_mid_batch"
    assert "recall_at_k" not in infos[0]


# --- ADVICE r13 #4: tmp-store sweep judges staleness from the whole tree ------


def test_sweep_tmp_stores_respects_nested_activity(tmp_path):
    """A scratch store whose TOP-LEVEL mtime is old but whose nested
    parquet files are fresh (exactly what a long-running entry looks
    like — deep writes never touch the root dir) must NOT be swept; a
    tree old everywhere must be."""
    import time
    import uuid

    from go_fish_spark.session import sweep_tmp_stores

    tag = uuid.uuid4().hex[:10]
    active = f"/tmp/gofish_x{tag}_active"
    dead = f"/tmp/gofish_x{tag}_dead"
    old = time.time() - 7200
    try:
        for d in (active, dead):
            os.makedirs(os.path.join(d, "labels", "shard=0"))
            with open(
                os.path.join(d, "labels", "shard=0", "part-0.parquet"), "w"
            ) as fh:
                fh.write("x")
        # age every path in both trees…
        for d in (active, dead):
            for dirpath, dirs, files in os.walk(d):
                for n in dirs + files:
                    os.utime(os.path.join(dirpath, n), (old, old))
            os.utime(d, (old, old))
        # …then a nested write lands in the ACTIVE one (root untouched)
        with open(
            os.path.join(active, "labels", "shard=0", "part-1.parquet"), "w"
        ) as fh:
            fh.write("y")
        os.utime(active, (old, old))  # root mtime stays old
        sweep_tmp_stores(app_id=None, stale_s=3600)
        assert os.path.isdir(active)  # nested activity protected it
        assert not os.path.exists(dead)
    finally:
        for d in (active, dead):
            import shutil

            shutil.rmtree(d, ignore_errors=True)


# --- r13 verdict Next #1: PQ-parameter planning against a recall target ------


def _mk_sweep_rows(*triples):
    """(m, ksub, n_probe, recall) → sweep-row dicts with the exact cost
    arithmetic pq_plan_sweep emits (dim=64, 16 cells, 1000 candidates)."""
    import math

    rows = []
    for m, ksub, n_probe, recall in triples:
        bits = m * math.ceil(math.log2(ksub))
        rows.append(
            {
                "pq_m": m, "pq_ksub": ksub, "n_probe": n_probe,
                "code_bytes": (bits + 7) // 8,
                "table_flops_per_query": 16 * 64 + n_probe * ksub * 64,
                "n_candidates": 1000, "scan_flops": 1000 * m,
                "n_queries": 8,
                "n_true": 80, "n_hit": int(recall * 80),
                "recall": recall,
            }
        )
    return rows


def test_choose_pq_params_picks_cheapest_meeting_target():
    from go_fish_spark.operators.similarity import choose_pq_params

    sweep = _mk_sweep_rows(
        (2, 16, 4, 0.20), (4, 16, 4, 0.45), (8, 16, 4, 0.80),
        (16, 16, 4, 0.90),
    )
    # m=8 (4 bytes) is the cheapest plan meeting 0.75 — m=16 meets it
    # too but costs 8 bytes/code at 100 TB scale
    rec = choose_pq_params(sweep, 0.75)
    assert rec["action"] == "proceed" and rec["pq_m"] == 8
    assert rec["code_bytes"] == 4
    # raising the target past m=8's recall flips the pick to m=16
    rec2 = choose_pq_params(sweep, 0.85)
    assert rec2["action"] == "proceed" and rec2["pq_m"] == 16
    # a target the whole grid misses reports below_target with the
    # best plan, never a silent serve
    rec3 = choose_pq_params(sweep, 0.95)
    assert rec3["action"] == "below_target" and rec3["pq_m"] == 16
    with pytest.raises(ValueError, match="min_recall"):
        choose_pq_params(sweep, 1.5)
    with pytest.raises(ValueError, match="empty"):
        choose_pq_params([], 0.5)


def test_choose_ann_flips_pq_m_on_recall_target(spark):
    """The decision-flip the r13 verdict asks for: the SAME corpus and
    budget, two recall targets — choose_ann's params block must carry
    the sweep's recommended pq_m, flipping from the cheap code to the
    wide one as the target rises."""
    from go_fish_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    sweep = _mk_sweep_rows(
        (4, 16, 4, 0.30), (16, 16, 4, 0.85),
    )
    lo = sim.choose_ann(
        emb, q, 64, min_recall=0.25, flop_budget=10**12, pq_sweep=sweep
    )
    hi = sim.choose_ann(
        emb, q, 64, min_recall=0.8, flop_budget=10**12, pq_sweep=sweep
    )
    assert lo["params"]["pq_m"] == 4
    assert hi["params"]["pq_m"] == 16
    assert lo["pq_recommendation"]["action"] == "proceed"
    assert hi["pq_recommendation"]["recall"] == 0.85
    assert hi["disciplines"]["ivfpq_adc"]["recall"] == 0.85
    assert hi["disciplines"]["ivfpq_adc"]["recall_source"] == "sweep"
    # the measured sweep recall makes ivfpq eligible without any
    # hand-carried measured_recall dict
    assert hi["disciplines"]["ivfpq_adc"]["eligible"]


def test_pq_plan_sweep_measures_monotone_recall(spark):
    """End-to-end on a real (tiny) corpus: the sweep's measured recall
    must not DECREASE as m doubles at fixed (ksub, n_probe) — more
    sub-codes always refine the same residuals (up to audit-sample
    noise, which this corpus is small enough to avoid) — and the cost
    columns must follow the exact arithmetic."""
    from go_fish_spark.operators.similarity import pq_plan_sweep

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 6)
    sw = pq_plan_sweep(
        emb, q, 64, plans=((2, 16, 4), (16, 16, 4)), k=5
    ).collect()
    by_m = {r["pq_m"]: r for r in sw}
    assert by_m[2]["code_bytes"] == 1 and by_m[16]["code_bytes"] == 8
    assert by_m[2]["n_candidates"] == by_m[16]["n_candidates"]  # routing-only
    assert by_m[16]["scan_flops"] == 8 * by_m[2]["scan_flops"]
    assert by_m[2]["n_true"] == by_m[16]["n_true"] == 30
    assert by_m[2]["n_queries"] == by_m[16]["n_queries"] == 6
    assert by_m[16]["recall"] >= by_m[2]["recall"]
    for r in sw:
        assert r["recall"] == round(r["n_hit"] / r["n_true"], 9)


# --- r13 verdict Next #5: in-run bench contention adjudication ----------------


def test_bench_rerun_adjudication_synthetic():
    """A synthetic slow entry (3x its committed history) must be re-run
    once and keep the better wall; in-bar entries and entries with no
    history must not re-run; a rerun that itself fails must keep the
    original timing and record the error."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    assert bench.needs_rerun(3.0, 1.0)  # 3x and +2.0s — past both bars
    assert not bench.needs_rerun(1.9, 1.0)  # under the 2x ratio bar
    assert not bench.needs_rerun(0.5, 0.2)  # 2.5x but under 0.3s abs
    assert not bench.needs_rerun(3.0, None)  # new entry: no history

    timings = {"slow": 3.0, "fine": 1.1, "new": 9.9, "broken": 4.0}
    history = {"slow": 1.0, "fine": 1.0, "broken": 1.0}
    ran = []

    def run_once(name):
        ran.append(name)
        if name == "broken":
            raise RuntimeError("store gone")
        return 0.9  # the contention cleared

    info = bench.adjudicate_reruns(timings, history, run_once)
    assert ran == ["broken", "slow"]  # only past-bar entries, sorted
    assert timings["slow"] == 0.9 and info["slow"]["kept"] == 0.9
    assert info["slow"]["was"] == 3.0 and info["slow"]["history"] == 1.0
    assert timings["fine"] == 1.1 and "fine" not in info
    assert timings["new"] == 9.9 and "new" not in info
    assert timings["broken"] == 4.0  # rerun failed: original kept
    assert "rerun_error" in info["broken"]

    # a rerun SLOWER than the original keeps the original
    t2 = {"slow": 3.0}
    info2 = bench.adjudicate_reruns(t2, {"slow": 1.0}, lambda n: 5.0)
    assert t2["slow"] == 3.0 and info2["slow"]["kept"] == 3.0
