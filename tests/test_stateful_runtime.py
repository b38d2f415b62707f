"""Generic keyed-state task runtime tests (≡ arbitrary kv.Set/kv.Get rule
logic, `state/kv.go:45-80`): custom accumulation across micro-batches,
state clearing, and streaming-pipeline compilation."""

from __future__ import annotations

import json

import pandas as pd
import pytest


def write_events(dirpath, events, fname="b0.json"):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / fname, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_custom_stateful_accumulator(spark, tmp_path):
    """A user task: running max of value per user, carried across
    micro-batches in task-managed state."""
    from go_fish_spark.streaming import sources
    from go_fish_spark.tasks.stateful_runtime import run_stateful

    indir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    write_events(indir, [
        dict(user_id=1, v=5.0), dict(user_id=1, v=3.0), dict(user_id=2, v=1.0),
    ], "b0.json")

    def running_max(key, rows, state):
        cur = state.get("max", float("-inf"))
        cur = max(cur, rows["v"].max())
        out = pd.DataFrame({"user_id": [key[0]], "running_max": [cur]})
        return out, {"max": cur}

    events = sources.json_stream(
        spark, str(indir), "user_id long, v double", max_files_per_trigger=1
    )
    result = run_stateful(
        events, ["user_id"], running_max, "user_id long, running_max double"
    )
    q = (
        result.writeStream.format("json").option("path", outdir)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    # batch 2: lower value must NOT lower the running max; higher must raise
    write_events(indir, [dict(user_id=1, v=4.0), dict(user_id=2, v=9.0)], "b1.json")
    q2 = (
        result.writeStream.format("json").option("path", outdir)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)

    out = spark.read.schema("user_id long, running_max double").json(outdir)
    rows = sorted((r.user_id, r.running_max) for r in out.collect())
    assert rows == [(1, 5.0), (1, 5.0), (2, 1.0), (2, 9.0)]


def test_stateful_state_clear(spark, tmp_path):
    """Returning None state clears it (≡ kv.Delete / the window drain
    pattern, `agg_rules/cloudTrail_agg.go:78-96`)."""
    from go_fish_spark.streaming import sources
    from go_fish_spark.tasks.stateful_runtime import run_stateful

    indir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    write_events(indir, [dict(user_id=1, v=1.0), dict(user_id=1, v=1.0)], "b0.json")

    def drain_count(key, rows, state):
        # accumulate then immediately drain: every batch starts from zero
        n = state.get("n", 0) + len(rows)
        return pd.DataFrame({"user_id": [key[0]], "n": [n]}), None

    events = sources.json_stream(
        spark, str(indir), "user_id long, v double", max_files_per_trigger=1
    )
    result = run_stateful(events, ["user_id"], drain_count, "user_id long, n long")
    q = (
        result.writeStream.format("json").option("path", outdir)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    write_events(indir, [dict(user_id=1, v=1.0)], "b1.json")
    q2 = (
        result.writeStream.format("json").option("path", outdir)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    out = spark.read.schema("user_id long, n long").json(outdir)
    # drained: batch2 count restarts at 1, not 3
    assert sorted(r.n for r in out.collect()) == [1, 2]


def test_streaming_pipeline_compile(spark, tmp_path):
    """Streaming compile of a pipeline spec: json-dir source → rules →
    two sinks, started as one query per sink."""
    from go_fish_spark.plans import compile_pipeline, parse_spec

    indir = tmp_path / "in"
    write_events(indir, [
        dict(event_id=1, kind="a"), dict(event_id=2, kind="b"),
        dict(event_id=3, kind="a"),
    ])
    out_a, out_b = str(tmp_path / "oa"), str(tmp_path / "ob")
    spec = parse_spec({
        "sources": {"src": {"type": "json", "options": {
            "path": str(indir), "schema": "event_id long, kind string"}}},
        "rules": {
            "as": {"source": "src", "task": "filter_eq", "sink": "sa",
                    "options": {"column": "kind", "value": "a"}},
            "bs": {"source": "src", "task": "filter_eq", "sink": "sb",
                    "options": {"column": "kind", "value": "b"}},
        },
        "sinks": {
            "sa": {"type": "json", "options": {"path": out_a}},
            "sb": {"type": "json", "options": {"path": out_b}},
        },
        "states": {},
    })
    compiled = compile_pipeline(spark, spec, streaming=True)
    with pytest.raises(ValueError, match="use start"):
        compiled.run()
    queries = compiled.start(str(tmp_path / "ckpt"), available_now=True)
    for q in queries:
        q.awaitTermination(120)
    a = spark.read.schema("event_id long, kind string").json(out_a)
    b = spark.read.schema("event_id long, kind string").json(out_b)
    assert sorted(r.event_id for r in a.collect()) == [1, 3]
    assert [r.event_id for r in b.collect()] == [2]
