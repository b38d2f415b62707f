"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import http.client
import json

import pytest

from go_fish_spark.plans import ValidationError, compile_pipeline, parse_spec, resolve_tasks
from go_fish_spark.plans.api import PipelineAPI
from go_fish_spark.plans.registry import PipelineRegistry


def test_rule_to_rule_sink_delivers(spark):
    """A rule whose sink names another rule must DELIVER its output to
    that rule (`pipeline.go:318-322` addEdge(rule, sink-rule)): the target
    rule's input = its own source ∪ feeder outputs."""
    spec = parse_spec({
        "sources": {
            "in1": {"type": "memory", "options": {"rows": [("a",), ("abc",)], "schema": "value string"}},
            "in2": {"type": "memory", "options": {"rows": [("a",), ("zz",)], "schema": "value string"}},
        },
        "rules": {
            # B reads in1 and sinks INTO rule A
            "B": {"source": "in1", "task": "passthrough", "sink": "A"},
            # A reads in2 plus whatever B feeds it, keeps only 'a'
            "A": {"source": "in2", "task": "filter_eq", "sink": "out",
                   "options": {"column": "value", "value": "a"}},
        },
        "sinks": {"out": {"type": "memory"}},
        "states": {},
    })
    compiled = compile_pipeline(spark, spec)
    # 'a' arrives twice: once from in2 directly, once fed through B from in1
    assert sorted(r.value for r in compiled.result("A").collect()) == ["a", "a"]


def test_malformed_spec_raises_validation_error():
    with pytest.raises(ValidationError, match="plugin"):
        # the reference's own field name 'plugin' instead of 'task'
        parse_spec({"sources": {}, "rules": {"r": {"source": "s", "plugin": "x.so"}},
                    "sinks": {}, "states": {}})
    with pytest.raises(ValidationError, match="JSON object"):
        parse_spec('"hello"')
    with pytest.raises(ValidationError, match="must be an object"):
        parse_spec({"sources": [1, 2], "rules": {}, "sinks": {}, "states": {}})


def test_resolve_tasks_rejects_unknown():
    spec = parse_spec({
        "sources": {"in": {"type": "memory", "options": {"rows": [("a",)], "schema": "value string"}}},
        "rules": {"r": {"source": "in", "task": "no_such_task", "sink": "out"}},
        "sinks": {"out": {"type": "memory"}},
        "states": {},
    })
    with pytest.raises(ValidationError, match="no_such_task"):
        resolve_tasks(spec)


def _req(api, method, path, body=None):
    conn = http.client.HTTPConnection("127.0.0.1", api.port, timeout=10)
    conn.request(method, path, body=body)
    resp = conn.getresponse()
    data = resp.read().decode()
    conn.close()
    return resp.status, data


@pytest.fixture()
def api(tmp_path):
    a = PipelineAPI(PipelineRegistry(str(tmp_path / "reg")), runner=None)
    a.start()
    yield a
    a.stop()


def test_api_400_on_malformed_body(api):
    status, body = _req(api, "POST", "/pipelines",
                        '{"rules": {"r": {"source": "s", "plugin": "x.so"}}}')
    assert status == 400


def test_api_400_on_unknown_task(api):
    spec = json.dumps({
        "sources": {"in": {"type": "memory", "options": {"rows": [["a"]], "schema": "value string"}}},
        "rules": {"r": {"source": "in", "task": "ghost_task", "sink": "out"}},
        "sinks": {"out": {"type": "memory"}},
        "states": {},
    })
    status, body = _req(api, "POST", "/pipelines", spec)
    assert status == 400 and "ghost_task" in body


def test_api_path_traversal_is_404(api, tmp_path):
    outside = tmp_path / "secret.json"
    outside.write_text('{"secret": true}')
    rel = f"../../{outside.name}"
    status, body = _req(api, "GET", f"/pipelines/{rel}")
    assert status == 404
    # the 404 echoes the id; the file CONTENT must not leak
    assert '"secret"' not in body


def test_registry_rejects_traversal_ids(tmp_path):
    reg = PipelineRegistry(str(tmp_path / "reg"))
    assert reg.get("../etc/passwd") is None
    with pytest.raises(KeyError):
        reg.store("{}", uuid="../evil")


def test_streaming_multi_sink_starts_and_bad_sink_type_fails_fast(spark, tmp_path):
    """Two memory sinks in one streaming spec start one query each and
    both tables fill; an unknown sink type (spec.py does not check sink
    types) fails at start(), not asynchronously inside a micro-batch."""
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b.json").write_text('{"event_id": 1}\n')

    def spec(sinks):
        return parse_spec({
            "sources": {"src": {"type": "json", "options": {"path": str(indir), "schema": "event_id long"}}},
            "rules": {
                "r1": {"source": "src", "task": "passthrough", "sink": "multi_m1"},
                "r2": {"source": "src", "task": "passthrough", "sink": "multi_m2"},
            },
            "sinks": sinks,
            "states": {},
        })

    compiled = compile_pipeline(
        spark, spec({"multi_m1": {"type": "memory"}, "multi_m2": {"type": "memory"}}),
        streaming=True,
    )
    queries = compiled.start(str(tmp_path / "ckpt"), available_now=True)
    assert len(queries) == 2
    for q in queries:
        q.awaitTermination(120)
    for table in ("multi_m1", "multi_m2"):
        assert [r.event_id for r in spark.table(table).collect()] == [1]

    compiled = compile_pipeline(
        spark,
        spec({"multi_m1": {"type": "memory"},
              "multi_m2": {"type": "jsonl", "options": {"path": str(tmp_path / "o")}}}),
        streaming=True,
    )
    with pytest.raises(ValueError, match="'jsonl' unsupported in streaming"):
        compiled.start(str(tmp_path / "ckpt2"), available_now=True)
    assert not [q for q in spark.streams.active if q.name == "multi_m1"]


def test_filter_length_max_is_inclusive(spark):
    from go_fish_spark.tasks import get_task

    df = spark.createDataFrame([("a",), ("abc",), ("abcd",)], "value string")
    task = get_task("filter_length", column="value", max_length=3)
    task.init(None)
    assert sorted(r.value for r in task.apply(df).collect()) == ["a", "abc"]


def test_dedup_release_caches(spark):
    from go_fish_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string")
    dedup.minhash_lsh_pairs(df, "doc_id", "text").count()
    assert dedup.release_caches() >= 1
    assert dedup.release_caches() == 0
