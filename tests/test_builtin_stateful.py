"""Declarative stateful built-in tasks — the reference's golden stateful
scenarios driven purely from a JSON pipeline spec (no user Python):

* s2s enrichment golden ≡ `integration_test.go:185-276`: an AssumeRole-
  like write event then a CreateUser-like read event → the read event
  emits the enriched entity "user/Bob"; an unmatched key falls back raw.
* keyed counter golden ≡ `integration_test.go:319-416`: three no-MFA
  events for one principal → one row with Occurrences == 3.
* streaming: the same s2s spec compiled streaming carries state ACROSS
  micro-batches (write in batch 1 enriches a read in batch 2).
"""

from __future__ import annotations

import json

from go_fish_spark.plans import compile_pipeline, parse_spec


def _s2s_spec(source):
    return {
        "sources": {"in": source},
        "rules": {
            "enrich": {
                "source": "in",
                "task": "s2s_enrich",
                "sink": "out",
                "state": "kv",
                "options": {
                    "key": "user_id",
                    "time": "ts",
                    "tiebreak": "event_id",
                    "write_when": "event_type = 'signup'",
                    "write_value": "concat('user/', name)",
                },
            }
        },
        "sinks": {"out": {"type": "memory"}},
        "states": {"kv": {"type": "KV"}},
    }


ROWS_SCHEMA = "event_id long, ts long, user_id long, event_type string, name string"
ROWS = [
    # Bob signs up (the kv.Set arm), then acts (the kv.Get arm)
    (1, 10, 7, "signup", "Bob"),
    (2, 20, 7, "purchase", None),
    # user 9 never signed up → raw-key fallback (`:128-130`)
    (3, 15, 9, "purchase", None),
]


def test_s2s_enrich_golden_batch(spark):
    spec = parse_spec(
        _s2s_spec(
            {"type": "memory", "options": {"rows": ROWS, "schema": ROWS_SCHEMA}}
        )
    )
    out = compile_pipeline(spark, spec).result("out")
    got = {r.event_id: r.entity for r in out.collect()}
    assert got[2] == "user/Bob"  # ≡ the golden Entity (`:190-204`)
    assert got[3] == "9"  # kv miss → raw key
    assert got[1] == "user/Bob"  # the write event itself sees its write


def test_keyed_counter_golden_batch(spark):
    """3 qualifying events → one row, occurrences 3 (`:324-337`)."""
    spec = parse_spec(
        {
            "sources": {
                "in": {
                    "type": "memory",
                    "options": {
                        "rows": [
                            (1, 10, 7, "false"),
                            (2, 20, 7, "false"),
                            (3, 30, 7, "false"),
                            (4, 40, 8, "true"),
                        ],
                        "schema": "event_id long, ts long, user_id long, mfa string",
                    },
                }
            },
            "rules": {
                "agg": {
                    "source": "in",
                    "task": "keyed_counter",
                    "sink": "out",
                    "options": {
                        "key": "user_id",
                        "when": "mfa = 'false'",
                        "time": "ts",
                    },
                }
            },
            "sinks": {"out": {"type": "memory"}},
            "states": {},
        }
    )
    out = compile_pipeline(spark, spec).result("out").collect()
    assert len(out) == 1
    row = out[0]
    assert (row.user_id, row.occurrences, row.first_seen) == (7, 3, 10)


def test_example_specs_validate():
    """Every shipped example pipeline must parse, validate, and resolve
    its tasks (≡ NewPipeline loading every plugin before Store)."""
    import glob
    import os

    from go_fish_spark.plans.compiler import resolve_tasks

    root = os.path.join(os.path.dirname(__file__), "..", "examples")
    specs = sorted(glob.glob(os.path.join(root, "*.json")))
    assert specs, "no example pipelines found"
    for path in specs:
        with open(path) as f:
            spec = parse_spec(f.read())
        resolve_tasks(spec)


def test_s2s_enrich_streaming_state_across_batches(spark, tmp_path):
    """The SAME spec compiled streaming: state written in micro-batch 1
    enriches events of micro-batch 2 (≡ BoltDB persistence across the
    process lifetime; checkpointLocation carries it across triggers)."""
    indir = tmp_path / "in"
    indir.mkdir()
    outdir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write_batch(fname, events):
        with open(indir / fname, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    write_batch("b0.json", [
        dict(event_id=1, ts=10, user_id=7, event_type="signup", name="Bob"),
    ])

    spec = parse_spec(
        _s2s_spec(
            {
                "type": "json",
                "options": {"path": str(indir), "schema": ROWS_SCHEMA},
            }
        )
        | {"sinks": {"out": {"type": "json", "options": {"path": outdir}}}}
    )
    compiled = compile_pipeline(spark, spec, streaming=True)
    [q] = compiled.start(ckpt, available_now=True)
    q.awaitTermination(120)

    write_batch("b1.json", [
        dict(event_id=2, ts=20, user_id=7, event_type="purchase", name=None),
    ])
    [q2] = compiled.start(ckpt, available_now=True)
    q2.awaitTermination(120)

    out = spark.read.schema(ROWS_SCHEMA + ", entity string").json(outdir)
    got = {r.event_id: r.entity for r in out.collect()}
    # batch-2 purchase enriched by batch-1 signup: cross-batch state
    assert got == {1: "user/Bob", 2: "user/Bob"}


def test_example_pipeline_streams_state_across_deliveries(spark, tmp_path):
    """The shipped two-sink example, streamed over two deliveries: the
    AssumeRole in delivery 1 enriches the delivery-2 event on ``r1``
    (cross-batch ``s2s_enrich`` state), and the no-MFA count for ``r1``
    runs on from 1 to 2 (cross-batch ``keyed_counter`` state)."""
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "cloudtrail_s2s_pipeline.json"
    )
    with open(path) as f:
        raw = json.load(f)
    indir = tmp_path / "in"
    indir.mkdir()
    raw["sources"]["trail"]["options"]["path"] = str(indir)
    for name in raw["sinks"]:
        raw["sinks"][name]["options"]["path"] = str(tmp_path / name)
    spec = parse_spec(raw)
    schema = raw["sources"]["trail"]["options"]["schema"]

    deliveries = [
        dict(event_id=1, ts="2024-01-01T00:00:00Z", role_id="r1",
             event_name="AssumeRole", principal="alice", mfa="false"),
        dict(event_id=2, ts="2024-01-01T00:01:00Z", role_id="r1",
             event_name="GetObject", principal="bob", mfa="false"),
    ]
    for i, event in enumerate(deliveries):
        (indir / f"b{i}.json").write_text(json.dumps(event) + "\n")
        compiled = compile_pipeline(spark, spec, streaming=True)
        for q in compiled.start(str(tmp_path / "ckpt"), available_now=True):
            q.awaitTermination(120)

    enriched = spark.read.schema(schema + ", entity string").json(
        str(tmp_path / "enriched")
    )
    assert {r.event_id: r.entity for r in enriched.collect()} == {
        1: "user/alice",
        2: "user/alice",
    }
    alerts = spark.read.schema(
        "role_id string, occurrences long, first_seen timestamp"
    ).json(str(tmp_path / "alerts"))
    rows = alerts.filter("role_id = 'r1'").collect()
    assert sorted(r.occurrences for r in rows) == [1, 2]
