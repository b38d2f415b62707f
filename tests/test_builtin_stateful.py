"""Declarative stateful built-in tasks — the reference's golden stateful
scenarios driven purely from a JSON pipeline spec (no user Python):

* s2s enrichment golden ≡ `integration_test.go:185-276`: an AssumeRole-
  like write event then a CreateUser-like read event → the read event
  emits the enriched entity "user/Bob"; an unmatched key falls back raw.
* keyed counter golden ≡ `integration_test.go:319-416`: three no-MFA
  events for one principal → one row with Occurrences == 3.
* streaming: the same s2s spec compiled streaming carries state ACROSS
  micro-batches (write in batch 1 enriches a read in batch 2).
* the other keyed tasks on the same KV log — a user-written
  ``StatefulTask`` and ``pit_features`` — accumulate, clear, replay after
  a crash and equal the batch arm.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

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


# ---------------------------------------------------------------------------
# Streaming keyed state: the batch branch once per micro-batch over a
# batch-stamped KV log (streaming/kvlog.py).

TRAIL_SCHEMA = (
    "event_id long, ts timestamp, role_id string, event_name string, "
    "principal string, mfa string"
)


def _trail_deliveries(n=4, per=6):
    """``n`` deliveries over three roles, event time increasing across
    deliveries: AssumeRole writes, reads, and no-MFA events in each."""
    out, eid = [], 0
    for _ in range(n):
        batch = []
        for _ in range(per):
            eid += 1
            batch.append(dict(
                event_id=eid, ts=f"2024-01-01T00:{eid:02d}:00Z",
                role_id=f"r{(eid * 7) % 3}",
                event_name="AssumeRole" if eid % 4 == 1 else "GetObject",
                principal=f"p{eid}", mfa="true" if eid % 3 == 0 else "false",
            ))
        out.append(batch)
    return out


def _trail_reference(deliveries):
    """(event_id → entity, sorted (role, occurrences) emissions): go-fish's
    record-at-a-time semantics, one keyed_counter row per touched role per
    delivery."""
    kv, counts, entity, emitted = {}, {}, {}, []
    for batch in deliveries:
        touched = set()
        for e in batch:
            if e["event_name"] == "AssumeRole":
                kv[e["role_id"]] = "user/" + e["principal"]
            entity[e["event_id"]] = kv.get(e["role_id"], e["role_id"])
            if e["mfa"] == "false":
                counts[e["role_id"]] = counts.get(e["role_id"], 0) + 1
                touched.add(e["role_id"])
        emitted += [(r, counts[r]) for r in touched]
    return entity, sorted(emitted)


def _trail_raw(tmp_path):
    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "cloudtrail_s2s_pipeline.json"
    )
    with open(path) as f:
        raw = json.load(f)
    raw["sources"]["trail"]["options"]["path"] = str(tmp_path / "in")
    for name in raw["sinks"]:
        raw["sinks"][name]["options"]["path"] = str(tmp_path / name)
    return raw


def _deliver(spark, tmp_path, i, batch):
    indir = tmp_path / "in"
    indir.mkdir(exist_ok=True)
    (indir / f"b{i:03d}.json").write_text(
        "".join(json.dumps(e) + "\n" for e in batch)
    )


def _drain(spark, raw, tmp_path):
    """Start the streaming spec from its checkpoint and run it dry."""
    queries = compile_pipeline(spark, parse_spec(raw), streaming=True).start(
        str(tmp_path / "ckpt"), available_now=True
    )
    for q in queries:
        q.awaitTermination(180)
    return queries


def _emitted(spark, tmp_path):
    """What the sinks committed (their _spark_metadata logs decide)."""
    enriched = spark.read.schema(TRAIL_SCHEMA + ", entity string").json(
        str(tmp_path / "enriched")
    ).collect()
    alerts = spark.read.schema(
        "role_id string, occurrences long, first_seen timestamp"
    ).json(str(tmp_path / "alerts")).collect()
    return enriched, alerts


def _assert_exactly_once(spark, tmp_path, deliveries):
    entity, counts = _trail_reference(deliveries)
    enriched, alerts = _emitted(spark, tmp_path)
    assert sorted(r.event_id for r in enriched) == sorted(entity)  # once each
    assert {r.event_id: r.entity for r in enriched} == entity
    assert sorted((r.role_id, r.occurrences) for r in alerts) == counts


def test_streamed_deliveries_equal_run_over_concatenated_input(spark, tmp_path):
    """(c) k deliveries through start() equal run() over all of them: the
    entity of every event, and each key's latest count and first_seen."""
    raw = _trail_raw(tmp_path)
    deliveries = _trail_deliveries()
    for i, batch in enumerate(deliveries):
        _deliver(spark, tmp_path, i, batch)
        _drain(spark, raw, tmp_path)
    enriched, alerts = _emitted(spark, tmp_path)

    batch = compile_pipeline(spark, parse_spec(raw))
    want_entity = {r.event_id: r.entity for r in batch.result("enriched").collect()}
    assert {r.event_id: r.entity for r in enriched} == want_entity
    latest = {}
    for r in alerts:
        if r.occurrences > latest.get(r.role_id, (0,))[0]:
            latest[r.role_id] = (r.occurrences, r.first_seen)
    want = {r.role_id: (r.occurrences, r.first_seen)
            for r in batch.result("alerts").collect()}
    assert latest == want
    _assert_exactly_once(spark, tmp_path, deliveries)


def test_crash_after_kv_patch_before_sink_commit_replays_once(spark, tmp_path):
    """(a) Batch 1's KV patches are written but neither its sink log entry
    nor Spark's commit is: the restarted queries replay batch 1 against the
    KV cut at < 1 and rewrite the same patch, so every event is emitted
    exactly once with the reference entity and count."""
    raw = _trail_raw(tmp_path)
    deliveries = _trail_deliveries(3)
    for i, batch in enumerate(deliveries[:2]):
        _deliver(spark, tmp_path, i, batch)
        _drain(spark, raw, tmp_path)
    for sink in ("enriched", "alerts"):
        assert glob.glob(str(tmp_path / "ckpt" / sink / "kv" / "*" / "patch-1.parquet"))
        for p in (tmp_path / sink / "_spark_metadata" / "1",
                  tmp_path / sink / "_spark_metadata" / ".1.crc",
                  tmp_path / "ckpt" / sink / "commits" / "1",
                  tmp_path / "ckpt" / sink / "commits" / ".1.crc"):
            p.unlink()
    _drain(spark, raw, tmp_path)  # replays batch 1
    _deliver(spark, tmp_path, 2, deliveries[2])
    _drain(spark, raw, tmp_path)
    _assert_exactly_once(spark, tmp_path, deliveries)


def test_crash_after_sink_commit_before_kv_patch_replays_once(spark, tmp_path, monkeypatch):
    """(b) The queries die after batch 1's sink commit and before its KV
    patch: the restart replays batch 1, the file sink skips the committed
    id, the patch is written, and batch 2 reads the state it carries."""
    from go_fish_spark.streaming.kvlog import KVLog

    raw = _trail_raw(tmp_path)
    deliveries = _trail_deliveries(3)
    _deliver(spark, tmp_path, 0, deliveries[0])
    _drain(spark, raw, tmp_path)

    commit = KVLog.commit

    def crash_on_batch_1(self):
        if self.batch_id == 1:
            raise RuntimeError("crash before the KV patch")
        commit(self)

    monkeypatch.setattr(KVLog, "commit", crash_on_batch_1)
    _deliver(spark, tmp_path, 1, deliveries[1])
    for q in compile_pipeline(spark, parse_spec(raw), streaming=True).start(
        str(tmp_path / "ckpt"), available_now=True
    ):
        with pytest.raises(Exception, match="crash before the KV patch"):
            q.awaitTermination(180)
    for sink in ("enriched", "alerts"):
        assert (tmp_path / sink / "_spark_metadata" / "1").exists()
        assert not glob.glob(str(tmp_path / "ckpt" / sink / "kv" / "*" / "patch-1.parquet"))

    monkeypatch.setattr(KVLog, "commit", commit)
    _drain(spark, raw, tmp_path)  # replays batch 1: sink skip, patch written
    _deliver(spark, tmp_path, 2, deliveries[2])
    _drain(spark, raw, tmp_path)
    _assert_exactly_once(spark, tmp_path, deliveries)


def test_kv_fold_keeps_state_and_reads_each_row_once(spark, tmp_path, monkeypatch):
    """(d) With folds forced every few batches, the output still matches
    the reference, a fold's generation replaces the patches it covers, and
    streaming progress counts every delivered row exactly once (the source
    is read once per micro-batch)."""
    from go_fish_spark.streaming import kvlog

    monkeypatch.setattr(kvlog, "_FILE_CUTOFF", 2)
    monkeypatch.setattr(kvlog, "_MIN_PATCHES", 2)
    raw = _trail_raw(tmp_path)
    deliveries = _trail_deliveries(6, per=4)
    input_rows = 0
    for i, batch in enumerate(deliveries):
        _deliver(spark, tmp_path, i, batch)
        for q in _drain(spark, raw, tmp_path):
            input_rows += sum(p["numInputRows"] for p in q.recentProgress)
        for t in list(kvlog._FOLDS.values()):
            t.join(120)
    assert input_rows == 2 * sum(len(b) for b in deliveries)  # two sinks
    _assert_exactly_once(spark, tmp_path, deliveries)
    kv_root = tmp_path / "ckpt" / "enriched" / "kv" / "enrich"
    manifest = json.loads((kv_root / "MANIFEST.json").read_text())
    assert not [p for p in kv_root.glob("patch-*.parquet")
                if int(p.stem.split("-")[1]) <= manifest["covered"]]


def test_start_rejects_memory_sink_behind_keyed_state(spark, tmp_path):
    (tmp_path / "in").mkdir()
    spec = parse_spec(_s2s_spec({
        "type": "json", "options": {"path": str(tmp_path / "in"), "schema": ROWS_SCHEMA},
    }))
    compiled = compile_pipeline(spark, spec, streaming=True)
    with pytest.raises(ValueError, match=r"'memory' unsupported in streaming downstream of keyed-state rules \['enrich'\]"):
        compiled.start(str(tmp_path / "ckpt"), available_now=True)


def test_start_rejects_checkpoint_with_python_operator_state(spark, tmp_path):
    """A sink checkpoint written by the applyInPandasWithState engine holds
    state/ — resuming it would silently start from an empty KV."""
    raw = _trail_raw(tmp_path)
    (tmp_path / "in").mkdir()
    (tmp_path / "ckpt" / "enriched" / "state" / "0").mkdir(parents=True)
    compiled = compile_pipeline(spark, parse_spec(raw), streaming=True)
    with pytest.raises(ValueError, match="holds applyInPandasWithState state for \\['enrich'\\]"):
        compiled.start(str(tmp_path / "ckpt"), available_now=True)
    assert not spark.streams.active


def test_file_sink_log_writer_commits_each_batch_id_once(spark, tmp_path):
    """Batch ids 0, 1, 1: the log holds 0 and 1, the replayed id writes no
    file, and a reader sees only the committed rows."""
    from go_fish_spark.streaming.sinks import file_sink_log_writer

    out = tmp_path / "out"
    write = file_sink_log_writer(spark, str(out))
    for batch_id, v in ((0, 0), (1, 1), (1, 2)):
        write(spark.createDataFrame([(v,)], "v long").coalesce(1), batch_id)
    log = sorted(p.name for p in (out / "_spark_metadata").iterdir()
                 if not p.name.startswith("."))
    assert log == ["0", "1"]
    assert len(list(out.glob("part-*.json"))) == 2
    assert sorted(r.v for r in spark.read.schema("v long").json(str(out)).collect()) == [0, 1]


def test_jvm_class_lookup_falls_back_then_names_what_is_missing(spark):
    from py4j.java_gateway import JavaClass

    from go_fish_spark.streaming.sinks import FILE_STREAM_SINK_CLASSES, jvm_class

    # the 4.1 name, or the pre-4.1 one — whichever this Spark ships
    assert isinstance(jvm_class(spark._jvm, FILE_STREAM_SINK_CLASSES), JavaClass)
    real = "org.apache.spark.sql.execution.datasources.json.JsonFileFormat"
    assert jvm_class(spark._jvm, ["org.example.Missing", real])._fqn == real
    with pytest.raises(RuntimeError, match="org.example.Missing"):
        jvm_class(spark._jvm, ["org.example.Missing", "org.example.AlsoMissing"])


def test_multi_source_keyed_spec_streams_as_one_tagged_union(spark, tmp_path):
    """Two sources upstream of one keyed rule stream as one query: the
    AssumeRole source feeds ``s2s_enrich`` through a rule→rule sink edge,
    its writes enrich the other source's events in a later delivery, and
    each delivered row is read once."""
    (tmp_path / "roles").mkdir()
    (tmp_path / "events").mkdir()
    src = {"type": "json", "options": {"schema": TRAIL_SCHEMA}}
    raw = {
        "sources": {
            "roles": {**src, "options": {**src["options"], "path": str(tmp_path / "roles")}},
            "events": {**src, "options": {**src["options"], "path": str(tmp_path / "events")}},
        },
        "rules": {
            "assumed": {"source": "roles", "task": "passthrough", "sink": "enrich"},
            "enrich": {"source": "events", "task": "s2s_enrich", "sink": "out",
                       "options": {"key": "role_id", "time": "ts", "tiebreak": "event_id",
                                   "write_when": "event_name = 'AssumeRole'",
                                   "write_value": "concat('user/', principal)",
                                   "fallback": "role_id"}},
        },
        "sinks": {"out": {"type": "json", "options": {"path": str(tmp_path / "out")}}},
        "states": {},
    }
    deliveries = [
        {"roles": [dict(event_id=1, ts="2024-01-01T00:00:00Z", role_id="r1",
                        event_name="AssumeRole", principal="alice", mfa="false")],
         "events": [dict(event_id=2, ts="2024-01-01T00:01:00Z", role_id="r2",
                         event_name="GetObject", principal=None, mfa="false")]},
        {"events": [dict(event_id=3, ts="2024-01-01T00:02:00Z", role_id="r1",
                         event_name="GetObject", principal=None, mfa="false")]},
    ]
    input_rows = 0
    for i, delivery in enumerate(deliveries):
        for name, events in delivery.items():
            (tmp_path / name / f"b{i}.json").write_text(
                "".join(json.dumps(e) + "\n" for e in events))
        [q] = _drain(spark, raw, tmp_path)
        input_rows += sum(p["numInputRows"] for p in q.recentProgress)
    assert input_rows == 3
    out = spark.read.schema(TRAIL_SCHEMA + ", entity string").json(str(tmp_path / "out"))
    assert {r.event_id: r.entity for r in out.collect()} == {
        1: "user/alice", 2: "r2", 3: "user/alice"}


# ---------------------------------------------------------------------------
# The other keyed-state tasks on the same KV log: a user-written
# StatefulTask and pit_features (q92's features).


def _keyed_raw(tmp_path, schema, task, options=None):
    """json source (``<tmp>/in``) → one keyed rule → json sink (``<tmp>/out``)."""
    return {
        "sources": {"in": {"type": "json", "options": {
            "path": str(tmp_path / "in"), "schema": schema}}},
        "rules": {"r": {"source": "in", "task": task, "sink": "out",
                        "options": options or {}}},
        "sinks": {"out": {"type": "json", "options": {"path": str(tmp_path / "out")}}},
        "states": {},
    }


def _register_stateful(name, key, output_schema, process):
    """Register a StatefulTask subclass whose process() is ``process``. The
    class is local, so it travels to the Python workers by value."""
    from go_fish_spark.tasks import register_task
    from go_fish_spark.tasks.builtin_stateful import StatefulTask

    @register_task(name)
    class UserTask(StatefulTask):
        def process(self, key, rows, state):
            return process(key, rows, state)

    UserTask.key, UserTask.output_schema = key, output_schema
    return name


def _deliver_and_drain(spark, tmp_path, raw, i, events):
    _deliver(spark, tmp_path, i, events)
    return _drain(spark, raw, tmp_path)


def _running_max_task():
    import pandas as pd

    def running_max(key, rows, state):
        cur = state.get("max", float("-inf"))
        cur = max(cur, rows["v"].max())
        out = pd.DataFrame({"user_id": [key[0]], "running_max": [cur]})
        return out, {"max": cur}

    return _register_stateful(
        "test_running_max", "user_id", "user_id long, running_max double", running_max
    )


def test_custom_stateful_accumulator(spark, tmp_path):
    """A user task: running max of value per user, carried across
    micro-batches in task-managed state."""
    raw = _keyed_raw(tmp_path, "user_id long, v double", _running_max_task())
    outdir = str(tmp_path / "out")
    _deliver_and_drain(spark, tmp_path, raw, 0, [
        dict(user_id=1, v=5.0), dict(user_id=1, v=3.0), dict(user_id=2, v=1.0),
    ])
    # batch 2: lower value must NOT lower the running max; higher must raise
    _deliver_and_drain(spark, tmp_path, raw, 1, [dict(user_id=1, v=4.0), dict(user_id=2, v=9.0)])

    out = spark.read.schema("user_id long, running_max double").json(outdir)
    rows = sorted((r.user_id, r.running_max) for r in out.collect())
    assert rows == [(1, 5.0), (1, 5.0), (2, 1.0), (2, 9.0)]


def test_stateful_state_clear(spark, tmp_path):
    """Returning None state clears it (≡ kv.Delete / the window drain
    pattern, `agg_rules/cloudTrail_agg.go:78-96`)."""
    import pandas as pd

    def drain_count(key, rows, state):
        # accumulate then immediately drain: every batch starts from zero
        n = state.get("n", 0) + len(rows)
        return pd.DataFrame({"user_id": [key[0]], "n": [n]}), None

    task = _register_stateful("test_drain_count", "user_id", "user_id long, n long", drain_count)
    raw = _keyed_raw(tmp_path, "user_id long, v double", task)
    outdir = str(tmp_path / "out")
    _deliver_and_drain(spark, tmp_path, raw, 0, [dict(user_id=1, v=1.0), dict(user_id=1, v=1.0)])
    _deliver_and_drain(spark, tmp_path, raw, 1, [dict(user_id=1, v=1.0)])
    out = spark.read.schema("user_id long, n long").json(outdir)
    # drained: batch2 count restarts at 1, not 3
    assert sorted(r.n for r in out.collect()) == [1, 2]


PIT_SCHEMA = "user_id long, ts timestamp, event_type string, value double"
PIT_OUT = ("user_id long, n_events_before long, n_types_before long, "
           "recency_days int, total_value double")
PIT_CUTOFF = "2024-01-21 00:00:00"


def test_pit_stream_null_event_type(spark, tmp_path):
    """Round-8 review fix: a NULL event_type pre-cutoff row must not
    kill the stateful serializer (sorted over None/str) and must be
    excluded from n_types_before exactly as batch countDistinct
    excludes NULLs."""
    raw = _keyed_raw(tmp_path, PIT_SCHEMA, "pit_features", {"cutoff": PIT_CUTOFF})
    _deliver_and_drain(spark, tmp_path, raw, 0, [
        dict(user_id=1, ts="2024-01-02 10:00:00", event_type="view",
             value=1.0),
        dict(user_id=1, ts="2024-01-03 10:00:00", event_type=None,
             value=2.0),
    ])
    out = spark.read.schema(PIT_OUT).json(str(tmp_path / "out")).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_events_before == 2      # the null-typed event still counts
    assert r.n_types_before == 1       # ...but not its type
    assert r.total_value == 3.0


def _running_max_case():
    deliveries = [[dict(user_id=1 + (i * 5 + j) % 3, v=float((i * 7 + j * 3) % 11))
                   for j in range(4)] for i in range(4)]
    return (_running_max_task(), {}, "user_id long, v double",
            "user_id long, running_max double", deliveries)


def _pit_case():
    types = ["view", "cart", None, "purchase"]
    deliveries = [[dict(user_id=1 + (i + j) % 3,
                        ts=f"2024-01-{(i * 5 + j * 3) % 27 + 1:02d} 0{j}:00:00",
                        event_type=types[(i + j) % 4],
                        value=None if (i * j) % 5 == 3 else (i - j) * 0.25)
                   for j in range(4)] for i in range(4)]
    return "pit_features", {"cutoff": PIT_CUTOFF}, PIT_SCHEMA, PIT_OUT, deliveries


@pytest.mark.parametrize("case", [_running_max_case, _pit_case], ids=["user_task", "pit_features"])
def test_keyed_task_crash_replay_and_batch_equals_stream(spark, tmp_path, monkeypatch, case):
    """A user StatefulTask and pit_features over four deliveries: (b) batch
    1 dies after its sink commit and before its KV patch, (a) batch 2's
    sink commit is lost after its KV patch, and each replays; every batch
    still emits each key it touched exactly once, with the value the batch
    arm computes over the deliveries so far, and (c) the latest emission
    per key equals ``result()`` over the concatenated input."""
    from go_fish_spark.streaming.kvlog import KVLog

    task, options, schema, out_schema, deliveries = case()
    raw = _keyed_raw(tmp_path, schema, task, options)

    def batch_rows(batches):
        d = tmp_path / f"batch{len(os.listdir(tmp_path))}"
        d.mkdir()
        (d / "in.json").write_text("".join(json.dumps(e) + "\n" for b in batches for e in b))
        spec = _keyed_raw(tmp_path, schema, task, options)
        spec["sources"]["in"]["options"]["path"] = str(d)
        return [tuple(r) for r in compile_pipeline(spark, parse_spec(spec)).result("out").collect()]

    want = []
    for i, b in enumerate(deliveries):
        touched = {r[0] for r in batch_rows([b])}
        want += [r for r in batch_rows(deliveries[: i + 1]) if r[0] in touched]
    kv_root = tmp_path / "ckpt" / "out" / "kv" / "r"
    meta, commits = tmp_path / "out" / "_spark_metadata", tmp_path / "ckpt" / "out" / "commits"

    _deliver_and_drain(spark, tmp_path, raw, 0, deliveries[0])
    commit = KVLog.commit

    def crash_on_batch_1(self):
        if self.batch_id == 1:
            raise RuntimeError("crash before the KV patch")
        commit(self)

    monkeypatch.setattr(KVLog, "commit", crash_on_batch_1)
    _deliver(spark, tmp_path, 1, deliveries[1])
    for q in compile_pipeline(spark, parse_spec(raw), streaming=True).start(
        str(tmp_path / "ckpt"), available_now=True
    ):
        with pytest.raises(Exception, match="crash before the KV patch"):
            q.awaitTermination(180)
    assert (meta / "1").exists() and not (kv_root / "patch-1.parquet").exists()
    monkeypatch.setattr(KVLog, "commit", commit)
    _drain(spark, raw, tmp_path)  # (b) replays batch 1: sink skip, patch written

    _deliver_and_drain(spark, tmp_path, raw, 2, deliveries[2])
    assert (kv_root / "patch-2.parquet").exists()
    for p in (meta / "2", meta / ".2.crc", commits / "2", commits / ".2.crc"):
        p.unlink()
    _drain(spark, raw, tmp_path)  # (a) replays batch 2 against the KV cut at < 2
    _deliver_and_drain(spark, tmp_path, raw, 3, deliveries[3])

    emitted = [tuple(r) for r in spark.read.schema(out_schema).json(str(tmp_path / "out")).collect()]
    assert sorted(emitted) == sorted(want)
    latest = {r[0]: r for r in want}  # want is in delivery order
    assert latest == {r[0]: r for r in batch_rows(deliveries)}
