"""Round-11 tests, part 1: the four r10 ADVICE fixes (label-store read
error propagation, real generation+manifest compaction, run_blocking's
uniform verified-pair contract, component_cohesion edge
canonicalization) and the r10 verdict's store hardening — atomic
cross-store commit (Next #3) and the compaction policy (Next #4).
"""

from __future__ import annotations

import os

import pytest

# Round-close suite (compaction/ann-store lifecycles); excluded from the bounded default
# run the driver's pytest window can hold (r14 verdict Next #3b) -
# scripts/close_round.py forces it back on with `-o addopts=`.
pytestmark = pytest.mark.slow


from pyspark.sql import functions as F


# --- ADVICE #1: read_label_store error propagation ---------------------------


def test_read_label_store_missing_path_is_none(spark, tmp_path):
    from go_fish_spark.streaming import labelstore as ls

    assert ls.read_label_store(spark, str(tmp_path / "nope")) is None


def test_read_label_store_corrupt_store_raises(spark, tmp_path):
    """A store directory that EXISTS but cannot be read is corruption,
    not emptiness: returning None here would send the maintenance
    stream down the bootstrap path and permanently split cross-batch
    components (ADVICE r10 #1)."""
    from go_fish_spark.streaming import labelstore as ls

    bad = tmp_path / "labels"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        df = ls.read_label_store(spark, str(bad))
        # some failure modes surface only at action time
        if df is not None:
            df.collect()


# --- ADVICE #4: component_cohesion canonicalizes edges ------------------------


def test_component_cohesion_orientation_and_dup_invariant(spark):
    """A pairs frame carrying both orientations and duplicate rows must
    count each undirected edge once — density can never exceed 1."""
    from go_fish_spark.operators.audit import component_cohesion

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, component long"
    )
    canonical = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (2, 3), (3, 2), (1, 1)],
        "id_a long, id_b long",
    )
    want = [
        (r.component, r.n_members, r.n_edges, r.density)
        for r in component_cohesion(comps, canonical).collect()
    ]
    got = [
        (r.component, r.n_members, r.n_edges, r.density)
        for r in component_cohesion(comps, messy).collect()
    ]
    assert got == want
    assert want == [(1, 3, 2, round(2 / 3, 9))]
    assert all(d <= 1.0 for (_, _, _, d) in got)


# --- ADVICE #3: run_blocking winnow branch verifies against threshold --------


def test_run_blocking_winnow_returns_verified_pairs(spark):
    """Every run_blocking discipline returns THRESHOLD-VERIFIED pairs.
    The winnow screen's candidates include any pair sharing one long
    token run even when the pair's overall Jaccard is far below the
    plan threshold — those must be filtered out before returning."""
    from go_fish_spark.operators.dedup import (
        ngram_jaccard_pairs,
        run_blocking,
        winnow_pair_screen,
    )

    shared_run = "quick brown fox jumps over the lazy dog tonight"
    filler_a = " ".join(f"atoken{i}" for i in range(40))
    filler_b = " ".join(f"btoken{i}" for i in range(40))
    rows = [
        # 1-2: true near-dups (high Jaccard)
        (1, shared_run + " alpha beta gamma"),
        (2, shared_run + " alpha beta delta"),
        # 3-4: share ONLY the run inside long distinct filler (low J)
        (3, filler_a + " " + shared_run),
        (4, filler_b + " " + shared_run),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5
    # the screen alone WOULD surface (3,4) — the premise of the test
    cand = {
        (r.id_a, r.id_b)
        for r in winnow_pair_screen(
            df, "doc_id", "text", k=3, w=4, portable=True
        ).collect()
    }
    assert (3, 4) in cand
    plan = {
        "action": "proceed",
        "chosen": "winnow_index",
        "threshold": t,
        "disciplines": {"winnow_index": {"cost": 10_000}},
        "params": {
            "k": 3, "n_hashes": 64, "bands": 16, "window": 3,
            "snm_keys": (), "winnow_w": 4, "portable": True,
        },
    }
    out = run_blocking(df, "doc_id", "text", plan)
    assert "jaccard" in out.columns
    got = {(r.id_a, r.id_b) for r in out.collect()}
    want = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=t
        ).collect()
        if (r.id_a, r.id_b) in cand
    }
    assert got == want
    assert (1, 2) in got and (3, 4) not in got
    assert all(r.jaccard >= t for r in out.collect())


# --- ADVICE #2 + r10 Next #4: generation+manifest compaction ------------------


def _mk_patches(spark, ls, path, n_batches, n_shards=4, rows_per=6):
    for b in range(n_batches):
        patch = spark.createDataFrame(
            [(i, max(0, i - b)) for i in range(rows_per)],
            "id long, component long",
        )
        ls.append_label_patch(patch, path, batch_id=b, n_shards=n_shards)


def test_compaction_generation_manifest_and_reader_of_record(
    spark, tmp_path
):
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    path = str(tmp_path / "labels")
    _mk_patches(spark, ls, path, n_batches=3)
    before = sorted(map(tuple, ls.read_label_store(spark, path).collect()))
    n = ls.compact_label_store(spark, path, n_shards=4)
    assert n == len(before)
    man = sk.read_store_manifest(path)
    assert (man["gen"], man["covered_max_batch"], man["version"]) == (1, 2, 1)
    # a full fold resets the per-shard map to a uniform cut (r12)
    assert man["covered"] == {} and man["covered_default"] == 2
    # the reader of record serves the generation — same answer
    after = sorted(map(tuple, ls.read_label_store(spark, path).collect()))
    assert after == before
    # prune removed every folded patch FILE (r12: per-file GC — the
    # directory skeleton may remain, but no live parquet file does)
    assert _live_parquet_files(path) == []
    # new patches after compaction layer on top of the generation
    patch = spark.createDataFrame([(0, 99)], "id long, component long")
    ls.append_label_patch(patch, path, batch_id=7, n_shards=4)
    got = dict(
        (r.id, r.component)
        for r in ls.read_label_store(spark, path).collect()
    )
    assert got[0] == 99 and got[1] == before[1][1]
    # second compaction folds again: gen 2; gen 1 is RETAINED one cycle
    # (ADVICE r11 #3 — a reader of the old manifest may still hold a
    # lazy frame over it) and pruned only by the THIRD fold
    n2 = ls.compact_label_store(spark, path, n_shards=4)
    assert n2 == len(before)
    man2 = sk.read_store_manifest(path)
    assert man2["gen"] == 2 and man2["covered_max_batch"] == 7
    assert os.path.exists(sk.store_generation_path(path, 1))
    got2 = dict(
        (r.id, r.component)
        for r in ls.read_label_store(spark, path).collect()
    )
    assert got2 == got
    ls.append_label_patch(
        spark.createDataFrame([(0, 98)], "id long, component long"),
        path, batch_id=8, n_shards=4,
    )
    ls.compact_label_store(spark, path, n_shards=4)
    assert not os.path.exists(sk.store_generation_path(path, 1))
    assert os.path.exists(sk.store_generation_path(path, 2))


def _live_parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def test_torn_compaction_invisible_until_repoint(spark, tmp_path):
    """A crash AFTER the new generation is written but BEFORE the
    manifest repoint leaves the reader on the old (complete) view; a
    re-run of compaction recovers by rewriting the torn generation."""
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    path = str(tmp_path / "labels")
    _mk_patches(spark, ls, path, n_batches=2)
    before = sorted(map(tuple, ls.read_label_store(spark, path).collect()))
    # simulate the torn write: generation 1 exists, no manifest
    latest = ls.read_label_store(spark, path)
    ls.append_label_patch(
        latest, sk.store_generation_path(path, 1), batch_id=1, n_shards=4
    )
    assert sk.read_store_manifest(path) is None
    assert (
        sorted(map(tuple, ls.read_label_store(spark, path).collect()))
        == before
    )
    # recovery: compaction re-runs end-to-end
    n = ls.compact_label_store(spark, path, n_shards=4)
    assert n == len(before)
    assert (
        sorted(map(tuple, ls.read_label_store(spark, path).collect()))
        == before
    )


def test_read_label_shard_prunes_after_compaction(spark, tmp_path):
    from go_fish_spark.streaming import labelstore as ls

    path = str(tmp_path / "labels")
    patch = spark.createDataFrame(
        [(i, i % 3) for i in range(40)], "id long, component long"
    )
    ls.append_label_patch(patch, path, batch_id=0, n_shards=8)
    ls.compact_label_store(spark, path, n_shards=8)
    ls.append_label_patch(
        spark.createDataFrame([(17, 42)], "id long, component long"),
        path, batch_id=1, n_shards=8,
    )
    out = ls.read_label_shard(spark, path, 17, n_shards=8)
    rows = out.collect()
    assert [(r.id, r.component) for r in rows] == [(17, 42)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan


# --- r10 Next #3: atomic cross-store commit -----------------------------------


def test_store_commit_forward_only(tmp_path):
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    d = str(tmp_path)
    assert sk.read_commit(d) is None
    sk.publish_commit(d, 5)
    assert sk.read_commit(d) == 5
    sk.publish_commit(d, 3)  # a replayed batch can't move it back
    assert sk.read_commit(d) == 5
    sk.publish_commit(d, 6)
    assert sk.read_commit(d) == 6


def test_committed_reader_never_sees_sig_label_skew(spark, tmp_path):
    """Reader isolation across BOTH crash windows of a batch commit:
    (a) sigs appended, labels not; (b) sigs+labels appended, manifest
    not published. In both, read_committed_store serves the previous
    matched (sig, label) pair; after publish it serves the new pair."""
    from go_fish_spark.operators.dedup import minhash_signature
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk
    from go_fish_spark.streaming.sigstore import append_sig_patch

    store = str(tmp_path / "store")
    labels_path = os.path.join(store, "labels")
    sig_dir = os.path.join(store, "_sigs")
    os.makedirs(store)

    def _append_sigs(rows, batch_id):
        append_sig_patch(
            spark.createDataFrame(rows, "doc_id long, text string").select(
                F.col("doc_id").alias("_id"),
                minhash_signature("text", 64, 3, 42, True).alias("_sig"),
            ),
            sig_dir, batch_id, id_col="_id", n_shards=4,
        )

    # batch 0: full commit
    b0 = [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")]
    _append_sigs(b0, 0)
    ls.append_label_patch(
        spark.createDataFrame([(1, 1), (2, 2)], "id long, component long"),
        labels_path, batch_id=0, n_shards=4,
    )
    sk.publish_commit(store, 0)
    view0 = ls.read_committed_store(spark, store)
    assert view0["committed_batch"] == 0
    ids0 = {r._id for r in view0["sigs"].collect()}
    lab0 = {r.id for r in view0["labels"].collect()}
    assert ids0 == lab0 == {1, 2}

    # window (a): batch 1 sigs landed, labels did not (crash)
    b1 = [(3, "iota kappa lambda mu")]
    _append_sigs(b1, 1)
    view_a = ls.read_committed_store(spark, store)
    assert {r._id for r in view_a["sigs"].collect()} == {1, 2}
    assert {r.id for r in view_a["labels"].collect()} == {1, 2}

    # window (b): labels landed too, manifest not yet published
    ls.append_label_patch(
        spark.createDataFrame([(3, 3)], "id long, component long"),
        labels_path, batch_id=1, n_shards=4,
    )
    view_b = ls.read_committed_store(spark, store)
    assert {r._id for r in view_b["sigs"].collect()} == {1, 2}
    assert {r.id for r in view_b["labels"].collect()} == {1, 2}

    # publish: both surfaces advance together
    sk.publish_commit(store, 1)
    view1 = ls.read_committed_store(spark, store)
    assert {r._id for r in view1["sigs"].collect()} == {1, 2, 3}
    assert {r.id for r in view1["labels"].collect()} == {1, 2, 3}


# --- r10 Next #4: compaction policy --------------------------------------------


def test_compaction_plan_many_small_vs_few_large(spark, tmp_path):
    from go_fish_spark.streaming import labelstore as ls

    many = str(tmp_path / "many")
    _mk_patches(spark, ls, many, n_batches=10, n_shards=2, rows_per=4)
    plan = ls.compaction_plan(many, file_cutoff=4.0, min_patch_files=8)
    assert plan["action"] == "compact"
    assert plan["read_amp"] >= 4.0

    few = str(tmp_path / "few")
    _mk_patches(spark, ls, few, n_batches=2, n_shards=2, rows_per=4)
    plan2 = ls.compaction_plan(few, file_cutoff=4.0, min_patch_files=8)
    assert plan2["action"] == "skip"

    # post-compaction: read_amp collapses to ~1, policy says skip,
    # and the read-back is unchanged (parity)
    before = sorted(map(tuple, ls.read_label_store(spark, many).collect()))
    ls.compact_label_store(spark, many, n_shards=2)
    plan3 = ls.compaction_plan(many, file_cutoff=4.0, min_patch_files=8)
    assert plan3["action"] == "skip"
    assert plan3["read_amp"] <= 1.0
    after = sorted(map(tuple, ls.read_label_store(spark, many).collect()))
    assert after == before


# --- r10 Next #2: choose_ann / run_ann -----------------------------------------


def _ann_corpus(spark, n, dim=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((16, dim)) * 5
    X = centers[rng.integers(0, 16, n)] + rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


_ANN_RECALLS = {"ivf_probe": 0.9, "ivfpq_adc": 0.85, "lsh_buckets": 0.5}


def test_choose_ann_flips_brute_ivf_ivfpq_across_scales(spark):
    """The done-condition decision test (r10 verdict Next #2): a fixed
    (min_recall=0.8, flop_budget=150k) contract chooses brute force at
    1x, IVF at 10x, IVF-PQ at 30x — highest-recall discipline that
    fits the budget, the x120 SCALE sweep for the ANN family."""
    from go_fish_spark.operators.similarity import choose_ann

    want = {150: "brute_force", 1500: "ivf_probe", 4500: "ivfpq_adc"}
    for n, expect in want.items():
        df = _ann_corpus(spark, n)
        plan = choose_ann(
            df, df.filter("vec_id < 20"), 16,
            min_recall=0.8, flop_budget=150_000,
            measured_recall=_ANN_RECALLS,
        )
        assert plan["action"] == "proceed", (n, plan["action"])
        assert plan["chosen"] == expect, (n, plan["chosen"])
        d = plan["disciplines"]
        # the decision rule: every discipline with recall under the
        # contract is ineligible; the chosen one fits the budget and
        # no eligible-and-affordable discipline has higher recall
        assert not d["lsh_buckets"]["eligible"]
        assert d[expect]["within_budget"]
        better = [
            nm for nm, dd in d.items()
            if dd["eligible"] and dd["within_budget"]
            and dd["recall"] > d[expect]["recall"]
        ]
        assert better == []


def test_choose_ann_measure_instrument_makes_ann_eligible(spark):
    """With no hand-carried recall dict and a budget brute force
    busts, measure=True runs the planner's own x79-style instrument
    and re-decides — the approximate disciplines become eligible with
    measured recall on well-separated clusters."""
    from go_fish_spark.operators.similarity import choose_ann

    df = _ann_corpus(spark, 1500)
    q = df.filter("vec_id < 20")
    plan = choose_ann(
        df, q, 16, min_recall=0.7, flop_budget=150_000,
        measure=True, measure_sample_queries=10,
    )
    assert plan["action"] == "proceed"
    assert plan["chosen"] != "brute_force"
    assert "instrument_recall" in plan
    chosen = plan["disciplines"][plan["chosen"]]
    assert chosen.get("recall_source") == "instrument"
    assert chosen["recall"] >= 0.7


def test_run_ann_executes_chosen_and_matches_direct_call(spark):
    from go_fish_spark.operators.similarity import (
        brute_force_topk,
        choose_ann,
        fit_quantizer_det,
        ivf_topk_expr,
        run_ann,
    )

    df = _ann_corpus(spark, 150)
    q = df.filter("vec_id < 20")
    plan = choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=150_000,
        measured_recall=_ANN_RECALLS,
    )
    assert plan["chosen"] == "brute_force"
    got = sorted(map(tuple, run_ann(df, q, plan).collect()))
    want = sorted(map(tuple, brute_force_topk(df, q, k=10).collect()))
    assert got == want

    # force the IVF arm through the same handoff
    plan_ivf = dict(plan, chosen="ivf_probe")
    quant = fit_quantizer_det(df, "vec_id", "embedding", 16)
    got_ivf = sorted(
        map(tuple, run_ann(df, q, plan_ivf, quantizer=quant).collect())
    )
    want_ivf = sorted(
        map(
            tuple,
            ivf_topk_expr(df, q, quant, k=10, n_probe=4).collect(),
        )
    )
    assert got_ivf == want_ivf


def test_run_ann_guard_trips_on_mutated_corpus(spark):
    """The TOCTOU enforcement: price on corpus A, execute on the 10x
    corpus B — the in-plan guard aborts at first evaluation."""
    import pytest as _pytest

    from go_fish_spark.operators.similarity import choose_ann, run_ann

    small = _ann_corpus(spark, 150)
    q = small.filter("vec_id < 20")
    plan = choose_ann(
        small, q, 16, min_recall=0.8, flop_budget=150_000,
        measured_recall=_ANN_RECALLS,
    )
    assert plan["chosen"] == "brute_force"
    mutated = _ann_corpus(spark, 1500)
    with _pytest.raises(Exception, match="run_ann: realized"):
        run_ann(mutated, q, plan).count()


def test_run_ann_rejects_unrunnable_plan(spark):
    import pytest as _pytest

    from go_fish_spark.operators.similarity import choose_ann, run_ann

    df = _ann_corpus(spark, 1500)
    q = df.filter("vec_id < 20")
    plan = choose_ann(df, q, 16, min_recall=0.99, flop_budget=100)
    assert plan["action"] in ("over_budget", "no_discipline")
    with _pytest.raises(ValueError, match="not runnable"):
        run_ann(df, q, plan)


# --- r10 Next #6: WAV/MP4 header metadata ---------------------------------------


def test_wav_roundtrip_and_stdlib_cross_check():
    """synth_wav parses back exactly, and the stdlib wave module —
    an independent reader — agrees on every encoded field."""
    import io
    import wave as wavemod

    from go_fish_spark.operators.multimodal import (
        _parse_media_header,
        synth_wav,
    )

    buf = synth_wav(44100, 2, 1000)
    fmt, brand, sr, ch, bits, dur = _parse_media_header(buf)
    assert (fmt, brand, sr, ch, bits) == ("wav", None, 44100, 2, 16)
    assert dur == 1000 * 1000 // 44100
    w = wavemod.open(io.BytesIO(buf))
    assert (w.getframerate(), w.getnchannels(), w.getnframes(),
            w.getsampwidth()) == (44100, 2, 1000, 2)


def test_mp4_roundtrip_v0_and_v1():
    import struct

    from go_fish_spark.operators.multimodal import (
        _parse_media_header,
        synth_mp4,
    )

    fmt, brand, sr, ch, bits, dur = _parse_media_header(
        synth_mp4("mp42", 600, 1234)
    )
    assert (fmt, brand, dur) == ("mp4", "mp42", 1234 * 1000 // 600)
    assert sr is None and ch is None and bits is None

    # hand-build an mvhd VERSION 1 box (64-bit times)
    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 90000)
        + struct.pack(">Q", 450000)
        + b"\x00" * 80,
    )
    buf = box(b"ftyp", b"avc1" + struct.pack(">I", 0) + b"avc1") + box(
        b"moov", mvhd1
    )
    fmt, brand, _, _, _, dur = _parse_media_header(buf)
    assert (fmt, brand, dur) == ("mp4", "avc1", 450000 * 1000 // 90000)


def test_media_header_poison_bytes_never_throw():
    from go_fish_spark.operators.multimodal import (
        _parse_media_header,
        synth_mp4,
        synth_wav,
    )

    cases = [
        b"",
        b"RIFF",                         # truncated RIFF
        b"RIFFxxxxWAVE",                 # WAVE with no chunks
        synth_wav(8000, 1, 10)[:20],     # cut mid-fmt
        synth_mp4("isom", 600, 5)[:10],  # cut mid-ftyp
        b"\x00" * 64,
    ]
    for buf in cases:
        fmt, *_ = _parse_media_header(buf)
        assert fmt in ("unknown", "wav", "mp4")  # no exception is the bar


def test_wav_riff_odd_chunk_padding():
    """RIFF chunks pad to even sizes; a walker that forgets the pad
    byte misses the data chunk behind an odd-sized chunk."""
    import struct

    from go_fish_spark.operators.multimodal import _parse_media_header

    fmt_payload = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 + pad
    data = b"data" + struct.pack("<I", 32) + b"\x00" * 32
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_payload)) \
        + fmt_payload + odd + data
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    fmt, _, sr, ch, bits, dur = _parse_media_header(buf)
    assert (fmt, sr, ch, bits) == ("wav", 8000, 1, 16)
    assert dur == 32 * 1000 // 16000


def test_extract_media_meta_mixed_frame(spark):
    """One binary frame carrying WAV, MP4, and junk rows: per-row
    format routing with NULL-field statuses, row-preserving."""
    from go_fish_spark.operators.multimodal import (
        extract_media_meta,
        synth_mp4,
        synth_wav,
    )

    rows = [
        (1, bytearray(synth_wav(16000, 1, 160))),
        (2, bytearray(synth_mp4("isom", 1000, 2500))),
        (3, bytearray(b"not media at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in extract_media_meta(df).collect()}
    assert got[1].format == "wav" and got[1].sample_rate == 16000
    assert got[1].duration_ms == 160 * 1000 // 16000
    assert got[2].format == "mp4" and got[2].brand == "isom"
    assert got[2].duration_ms == 2500
    assert got[3].format == "unknown" and got[3].status == "unsupported"
    assert got[3].duration_ms is None


# --- choose-ann CLI pre-flight ---------------------------------------------


def test_cli_choose_ann(tmp_path, spark):
    """choose-ann prints the decision JSON and exits 0 on proceed / 1
    otherwise; --run executes under the enforced budget."""
    import json
    import os
    import subprocess
    import sys

    df = _ann_corpus(spark, 120)
    corpus = str(tmp_path / "emb.parquet")
    df.write.mode("overwrite").parquet(corpus)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "choose-ann",
         corpus, "--dim", "16", "--min-recall", "1.0",
         "--flop-budget", "2000000", "--query-limit", "10",
         "--run", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.strip().splitlines() if l]
    ran = json.loads(lines[-1])
    plan = json.loads("\n".join(lines[:-1]))
    assert plan["action"] == "proceed" and plan["chosen"] == "brute_force"
    assert ran["ran"] == "brute_force" and ran["topk_rows"] > 0
    # an unmeetable budget exits non-zero
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "choose-ann",
         corpus, "--dim", "16", "--min-recall", "1.0",
         "--flop-budget", "10", "--query-limit", "10",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 1
    assert json.loads(proc.stdout)["action"] == "over_budget"


# --- r11: durable IVF-PQ ANN store ---------------------------------------------


def test_ann_store_stream_restart_edit_and_parity(spark, tmp_path):
    """The sigstore restart discipline for the ANN index: batch 0
    bootstraps (fits + publishes the frozen model), a RESTARTED query
    on the same checkpoint processes batch 1 exactly once, an edited
    (re-appended) vector supersedes cell AND codes, and the final
    read-back equals a one-shot encode of the current corpus."""
    import os

    from pyspark.sql import functions as F

    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 90)
    src = str(tmp_path / "in")
    store = str(tmp_path / "ann")
    cp = str(tmp_path / "cp")
    os.makedirs(src)

    def drain():
        annstore.ann_store_stream(
            spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).parquet(src),
            store, cp, n_cells=8, m=4, ksub=16,
        ).awaitTermination(120)

    df.filter("vec_id % 2 = 0").write.mode("append").parquet(src)
    drain()
    assert annstore.load_ann_manifest(store)["gen"] == 1
    df.filter("vec_id % 2 = 1").write.mode("append").parquet(src)
    drain()  # a NEW query on the same checkpoint — restart semantics
    # edit: vector 4 moves (negated) — re-append supersedes
    edited = df.filter("vec_id = 4").select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    edited.write.mode("append").parquet(src)
    drain()

    coarse, pq, _doc = annstore.load_ann_model(store)
    current = df.filter("vec_id != 4").unionByName(edited)
    want = sorted(
        map(
            tuple,
            annstore.encode_ann_batch(current, coarse, pq)
            .select("_id", "cell", F.col("codes").cast("string"))
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            annstore.read_ann_store(spark, store)
            .select("_id", "cell", F.col("codes").cast("string"))
            .collect(),
        )
    )
    assert got == want


def test_ann_refit_plan_and_generation_commit(spark, tmp_path):
    """Refit is priced (JS divergence of cell distributions) and runs
    as a generation commit: new model + re-encoded gen N+1, manifest
    repointed LAST, old generation pruned; a torn refit (generation
    written, manifest not) leaves readers untouched."""
    import os

    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 120)
    store = str(tmp_path / "ann")
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    coded = annstore.encode_ann_batch(df, coarse, pq)
    mass = annstore._cell_hist(coded, 8)
    annstore.publish_ann_model(store, coarse, pq, cell_mass=mass, gen=1)
    annstore.append_ann_patch(coded, store, 0, gen=1)

    doc = annstore.load_ann_manifest(store)
    assert annstore.ann_refit_plan(doc, mass)["action"] == "incremental"
    skew = [0] * 8
    skew[2] = 500
    drifted = annstore.ann_refit_plan(doc, skew)
    assert drifted["action"] == "refit"
    assert drifted["js_divergence"] > drifted["cutoff"]

    # torn refit: write the would-be generation 2, never repoint
    before = sorted(
        map(tuple, annstore.read_ann_store(spark, store)
            .select("_id", "cell").collect())
    )
    annstore.append_ann_patch(coded, store, 0, gen=2)
    assert annstore.load_ann_manifest(store)["gen"] == 1
    assert sorted(
        map(tuple, annstore.read_ann_store(spark, store)
            .select("_id", "cell").collect())
    ) == before

    # real refit: gen bumps; gen 1 is RETAINED one cycle (ADVICE r11
    # #3 — a reader of the old manifest may still hold a lazy frame
    # over it) and pruned only by the NEXT fold; search still serves
    n = annstore.refit_ann_store(
        spark, store, df, n_cells=8, m=4, ksub=16
    )
    assert n == 120
    doc2 = annstore.load_ann_manifest(store)
    # the torn generation-2 attempt is REWRITTEN, not skipped
    assert doc2["gen"] == 2 and doc2["version"] > doc["version"]
    assert os.path.exists(annstore._cells_path(store, 1))
    out = annstore.adc_search_store(
        spark, store, df.filter("vec_id < 3"), k=5, n_probe=2
    )
    assert out.groupBy("query_id").count().count() == 3
    # the next fold prunes generation 1 and retains generation 2
    annstore.compact_ann_store(spark, store)
    assert annstore.load_ann_manifest(store)["gen"] == 3
    assert not os.path.exists(annstore._cells_path(store, 1))
    assert os.path.exists(annstore._cells_path(store, 2))


def test_ann_store_search_prunes_cell_partitions(spark, tmp_path):
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 100)
    store = str(tmp_path / "ann")
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 0, gen=1
    )
    out = annstore.adc_search_store(
        spark, store, df.filter("vec_id < 2"), k=5, n_probe=2
    )
    want = sorted(
        map(
            tuple,
            sim.ivfpq_topk_expr(
                df, df.filter("vec_id < 2"), coarse, pq, k=5, n_probe=2
            ).collect(),
        )
    )
    assert sorted(map(tuple, out.collect())) == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_choose_ann_prices_from_the_store(spark, tmp_path):
    """coded= (the sigs= discipline): pricing from the durable index's
    cell rows yields the SAME plan as re-assigning the corpus."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 300)
    q = df.filter("vec_id < 20")
    quant = sim.fit_quantizer_det(df, "vec_id", "embedding", 16)
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 16, 4, 16)
    store = str(tmp_path / "ann")
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 0, gen=1
    )
    base = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=150_000,
        measured_recall=_ANN_RECALLS, quantizer=quant,
    )
    from_store = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=150_000,
        measured_recall=_ANN_RECALLS, quantizer=quant,
        coded=annstore.read_ann_store(spark, store),
    )
    # the coarse quantizer (hash-ordered sample, same seed) matches
    # fit_ivfpq_det's coarse stage, so cell histograms agree exactly
    assert from_store["cand_ivf"] == base["cand_ivf"]
    assert from_store["chosen"] == base["chosen"]
    assert from_store["disciplines"] == base["disciplines"]


def test_coverage_pipeline_spec_batch_and_streaming(spark, tmp_path):
    """The SHIPPED examples/coverage_pipeline.json chains the three
    round-11 frozen-statistics gates (oov_gate → source_cap_gate →
    coverage_gate) as declarable tasks; loaded verbatim (paths
    rewired) it must admit exactly the doc that clears all three, in
    BATCH and — unchanged — in STREAMING mode."""
    import json
    import os

    from go_fish_spark.plans.compiler import compile_pipeline
    from go_fish_spark.plans.spec import parse_spec

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = json.load(
        open(os.path.join(repo, "examples/coverage_pipeline.json"))
    )
    indir = tmp_path / "in"
    indir.mkdir()
    outdir = str(tmp_path / "out")
    spec["sources"]["crawl"]["options"]["path"] = str(indir)
    spec["sinks"]["admitted"]["options"]["path"] = outdir

    rows = [
        # 1: in-vocab text, capped-but-under source, well-crawled -> kept
        dict(doc_id=1, text="the model data training pipeline",
             source="books"),
        # 2: mostly OOV -> oov_gate drops
        dict(doc_id=2, text="zz qq ww ee rr tt yy uu", source="books"),
        # 3: dominant source (web share 0.9 > 0.8) -> source_cap_gate
        dict(doc_id=3, text="the model data training", source="web"),
        # 4: under-crawled source (forum unseen 0.35 > 0.2) ->
        # coverage_gate routes it away from training
        dict(doc_id=4, text="the model data training", source="forum"),
    ]
    (indir / "docs.json").write_text(
        "\n".join(json.dumps(r) for r in rows)
    )

    compile_pipeline(spark, parse_spec(spec), streaming=False).run()
    got = spark.read.schema(
        "doc_id long, text string, source string"
    ).json(outdir).collect()
    assert [r.doc_id for r in got] == [1]

    out2 = str(tmp_path / "out2")
    spec["sinks"]["admitted"]["options"]["path"] = out2
    compiled = compile_pipeline(spark, parse_spec(spec), streaming=True)
    for q in compiled.start(str(tmp_path / "ckpt"), available_now=True):
        q.awaitTermination(120)
    streamed = spark.read.schema(
        "doc_id long, text string, source string"
    ).json(out2).collect()
    assert [r.doc_id for r in streamed] == [1]


def test_run_ann_serves_ivfpq_from_the_store(spark, tmp_path):
    """The planner → durable-index handoff: a plan whose chosen
    discipline is IVF-PQ executes against the store (store_dir=) and
    matches the direct IVF-PQ search; the guard still trips when the
    store grew past the priced estimate."""
    import pytest as _pytest

    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 4500)
    q = df.filter("vec_id < 20")
    quant = sim.fit_quantizer_det(df, "vec_id", "embedding", 16)
    plan = sim.choose_ann(
        df, q, 16, min_recall=0.8, flop_budget=150_000,
        measured_recall=_ANN_RECALLS, quantizer=quant,
    )
    assert plan["chosen"] == "ivfpq_adc"

    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 16, 4, 16)
    store = str(tmp_path / "ann")
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    annstore.append_ann_patch(
        annstore.encode_ann_batch(df, coarse, pq), store, 0, gen=1
    )
    got = sorted(
        map(tuple, sim.run_ann(df, q, plan, store_dir=store).collect())
    )
    want = sorted(
        map(
            tuple,
            sim.ivfpq_topk_expr(
                df, q, coarse, pq, k=10, n_probe=4
            ).collect(),
        )
    )
    assert got == want

    # mutate the STORE past the estimate: the realized count now comes
    # from the store's own histogram, so the guard trips
    bigger = _ann_corpus(spark, 45000, seed=11).filter("vec_id >= 4500")
    annstore.append_ann_patch(
        annstore.encode_ann_batch(bigger, coarse, pq), store, 1, gen=1
    )
    with _pytest.raises(Exception, match="run_ann: realized"):
        sim.run_ann(df, q, plan, store_dir=store).count()


def test_label_store_random_append_compact_interleavings(spark, tmp_path):
    """Seeded randomized sweep: arbitrary interleavings of patch
    appends (with id overlaps and label moves) and compactions must
    always read back the latest-wins reference state — the
    manifest/generation reader is order-insensitive by construction."""
    import random

    from go_fish_spark.streaming import labelstore as ls

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        path = str(tmp_path / f"labels_{seed}")
        ref: dict[int, int] = {}
        batch_id = 0
        for _step in range(8):
            if ref and rng.random() < 0.3:
                n = ls.compact_label_store(spark, path, n_shards=4)
                assert n == len(ref)
                continue
            ids = rng.sample(range(20), rng.randint(1, 6))
            rows = []
            for i in ids:
                # merges only move labels DOWN (the store's law)
                comp = min(ref.get(i, i), rng.randint(0, i) if i else 0)
                ref[i] = comp
                rows.append((i, comp))
            ls.append_label_patch(
                spark.createDataFrame(rows, "id long, component long"),
                path, batch_id=batch_id, n_shards=4,
            )
            batch_id += 1
        if not ref:
            continue
        got = dict(
            (r.id, r.component)
            for r in ls.read_label_store(spark, path).collect()
        )
        assert got == ref, f"seed {seed} diverged"


def test_cli_label_store_committed_read(tmp_path, spark):
    """label-store read --committed serves only the atomically
    published (sig, label) version."""
    import json
    import os
    import subprocess
    import sys

    from go_fish_spark.operators.dedup import minhash_signature
    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk
    from go_fish_spark.streaming.sigstore import append_sig_patch

    store = str(tmp_path / "store")
    os.makedirs(store)
    append_sig_patch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta")], "doc_id long, text string"
        ).select(
            F.col("doc_id").alias("_id"),
            minhash_signature("text", 64, 3, 42, True).alias("_sig"),
        ),
        os.path.join(store, "_sigs"), 0, id_col="_id", n_shards=4,
    )
    ls.append_label_patch(
        spark.createDataFrame([(1, 1)], "id long, component long"),
        os.path.join(store, "labels"), batch_id=0, n_shards=4,
    )
    sk.publish_commit(store, 0)
    # batch 1 half-landed (labels only, never published)
    ls.append_label_patch(
        spark.createDataFrame([(2, 2)], "id long, component long"),
        os.path.join(store, "labels"), batch_id=1, n_shards=4,
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "label-store",
         store, "read", "--committed", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout)
    assert out == {"rows": 1, "committed_batch": 0, "sig_rows": 1}


# --- property tests: guarantee classes under randomization ---------------------


def test_winnow_guarantee_property_randomized(spark):
    """Winnowing's GUARANTEE class, checked under randomization: any
    document pair sharing a token run of length >= w+k-1 MUST surface
    in winnow_pair_screen (Schleimer et al. 2003's detection bound) —
    three seeded corpora of random-token docs with planted shared
    runs."""
    import random

    from go_fish_spark.operators.dedup import winnow_pair_screen

    k, w = 3, 4
    run_len = w + k - 1  # 6 tokens: the guaranteed-detection bound
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        vocab = [f"t{j}" for j in range(500)]
        planted = " ".join(
            rng.choice(vocab) for _ in range(run_len)
        )
        rows = []
        planted_pairs = set()
        for i in range(12):
            toks = [rng.choice(vocab) for _ in range(rng.randint(10, 30))]
            if i % 3 == 0:  # plant the run in docs 0,3,6,9
                pos = rng.randint(0, len(toks))
                toks[pos:pos] = planted.split()
            rows.append((i, " ".join(toks)))
        carriers = [i for i in range(12) if i % 3 == 0]
        for a in carriers:
            for b in carriers:
                if a < b:
                    planted_pairs.add((a, b))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b)
            for r in winnow_pair_screen(
                df, "doc_id", "text", k=k, w=w, portable=True
            ).collect()
        }
        missing = planted_pairs - got
        assert not missing, f"seed {seed}: guarantee violated {missing}"


def test_fit_quantizer_det_partition_invariance(spark):
    """The deterministic fit's engine-independence contract, checked at
    its weakest point: the SAME centroids regardless of physical
    partitioning (the hash-total-order sample is a pure function of
    the keys, never of partition layout)."""
    import numpy as np

    from go_fish_spark.operators.similarity import fit_quantizer_det

    df = _ann_corpus(spark, 300)
    c1 = fit_quantizer_det(
        df.repartition(1), "vec_id", "embedding", 8
    )._centers
    c7 = fit_quantizer_det(
        df.repartition(7, "vec_id"), "vec_id", "embedding", 8
    )._centers
    assert np.array_equal(c1, c7)


def test_ann_store_compaction_policy_and_fold(spark, tmp_path):
    """The labelstore compaction discipline at index grain: many small
    per-batch appends price 'compact'; the fold keeps the model (no
    refit), bumps the data generation with the manifest repointed
    LAST, prunes the old one, and the read-back AND the search are
    unchanged."""
    from go_fish_spark.operators import similarity as sim
    from go_fish_spark.streaming import annstore

    df = _ann_corpus(spark, 120)
    store = str(tmp_path / "ann")
    coarse, pq = sim.fit_ivfpq_det(df, "vec_id", "embedding", 8, 4, 16)
    annstore.publish_ann_model(store, coarse, pq, gen=1)
    for b in range(6):
        annstore.append_ann_patch(
            annstore.encode_ann_batch(
                df.filter(F.col("vec_id") % 6 == b), coarse, pq
            ),
            store, b, gen=1,
        )
    plan = annstore.ann_compaction_plan(store, file_cutoff=3.0)
    assert plan["action"] == "compact" and plan["read_amp"] >= 3.0
    before = sorted(
        map(
            tuple,
            annstore.read_ann_store(spark, store)
            .select("_id", "cell", F.col("codes").cast("string"))
            .collect(),
        )
    )
    q = df.filter("vec_id < 3")
    search_before = sorted(
        map(
            tuple,
            annstore.adc_search_store(
                spark, store, q, k=5, n_probe=2
            ).collect(),
        )
    )
    n = annstore.compact_ann_store(spark, store)
    assert n == 120
    doc = annstore.load_ann_manifest(store)
    assert doc["gen"] == 2
    import os

    # generation 1 retained one cycle (ADVICE r11 #3)
    assert os.path.exists(annstore._cells_path(store, 1))
    plan2 = annstore.ann_compaction_plan(store, file_cutoff=3.0)
    assert plan2["action"] == "skip" and plan2["read_amp"] <= 1.0
    after = sorted(
        map(
            tuple,
            annstore.read_ann_store(spark, store)
            .select("_id", "cell", F.col("codes").cast("string"))
            .collect(),
        )
    )
    assert after == before
    search_after = sorted(
        map(
            tuple,
            annstore.adc_search_store(
                spark, store, q, k=5, n_probe=2
            ).collect(),
        )
    )
    assert search_after == search_before


# --- r11 hardening: torn-first-append bootstrap + committed-cut compaction ----


def test_read_label_store_empty_dir_bootstraps(spark, tmp_path):
    """A directory that exists but holds NO committed parquet footer
    (a crash during the very first append) is 'nothing committed' —
    the reader returns None and the stream bootstraps instead of
    dying; a dir with a VISIBLE corrupt file still raises."""
    from go_fish_spark.streaming import labelstore as ls

    empty = tmp_path / "labels"
    empty.mkdir()
    (empty / "_temporary").mkdir()  # the torn-write residue shape
    assert ls.read_label_store(spark, str(empty)) is None


def test_compaction_never_folds_or_drops_unpublished_batches(
    spark, tmp_path
):
    """Out-of-band compaction on a maintenance-stream store (sibling
    COMMIT.json) folds ONLY published batches: a half-committed batch
    is neither baked into the generation (where the committed reader
    would see it early) nor deleted by the prune — it stays a patch
    and publishes later."""
    import os

    from go_fish_spark.streaming import labelstore as ls
    from go_fish_spark.streaming import storekernel as sk

    store = str(tmp_path / "store")
    labels = os.path.join(store, "labels")
    os.makedirs(store)
    ls.append_label_patch(
        spark.createDataFrame([(1, 1), (2, 2)], "id long, component long"),
        labels, batch_id=0, n_shards=4,
    )
    sk.publish_commit(store, 0)
    # batch 1 half-landed: labels appended, never published
    ls.append_label_patch(
        spark.createDataFrame([(3, 3)], "id long, component long"),
        labels, batch_id=1, n_shards=4,
    )
    n = ls.compact_label_store(spark, labels, n_shards=4)
    assert n == 2  # only the published rows folded
    man = sk.read_store_manifest(labels)
    assert man["covered_max_batch"] == 0
    # committed reader: still exactly the published view
    view = ls.read_committed_store(spark, store)
    assert {r.id for r in view["labels"].collect()} == {1, 2}
    # the unpublished patch SURVIVED the prune and layers on the gen
    raw = sorted(
        map(tuple, ls.read_label_store(spark, labels).collect())
    )
    assert raw == [(1, 1), (2, 2), (3, 3)]
    # once published, the batch becomes visible and compactable
    sk.publish_commit(store, 1)
    view2 = ls.read_committed_store(spark, store)
    assert {r.id for r in view2["labels"].collect()} == {1, 2, 3}
    n2 = ls.compact_label_store(spark, labels, n_shards=4)
    assert n2 == 3
