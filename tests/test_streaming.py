"""Streaming golden tests — the reference's two stateful integration
scenarios (`integration_test.go:185-276` s2s join, `:319-416` windowed agg)
replayed through Structured Streaming with file sources and memory sinks.
"""

from __future__ import annotations

import json
import time

import pytest

EVENT_SCHEMA = (
    "event_id long, ts timestamp, event_type string, key string, "
    "principal string, principal_id string"
)


def write_events(dirpath, events, fname="batch0.json"):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / fname, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def run_to_memory(df, name, mode="append"):
    from go_fish_spark.streaming import sinks

    q = sinks.memory_sink(df, name, output_mode=mode, trigger_available_now=True)
    q.awaitTermination(120)
    return q


def test_s2s_enrichment_golden(spark, tmp_path):
    """≡ integration_test.go:185-276: AssumeRole stores role-id→principal;
    a later CreateUser by that role emits Entity 'user/Bob'. A read with no
    prior write falls back to the raw principal id (`cloudTrail_s2s_join.
    go:124-130`)."""
    from go_fish_spark.streaming import sources, stateful

    indir = tmp_path / "in"
    write_events(
        indir,
        [
            # ≡ assumeRoleEvent.json: kv.Set("AROLE:Bob-EC2-dev" → "user/Bob")
            dict(event_id=1, ts="2024-01-01T00:00:00Z", event_type="AssumeRole",
                 key="AROLE:Bob-EC2-dev", principal="user/Bob", principal_id="ignored"),
            # ≡ createUserEvent.json: read kv["AROLE:Bob-EC2-dev"] → hit
            dict(event_id=2, ts="2024-01-01T00:05:00Z", event_type="CreateUser",
                 key="AROLE:Bob-EC2-dev", principal=None, principal_id="AROLE:Bob-EC2-dev"),
            # state miss → fallback to raw principal_id
            dict(event_id=3, ts="2024-01-01T00:06:00Z", event_type="CreateUser",
                 key="AROLE:nobody", principal=None, principal_id="AROLE:nobody"),
        ],
    )
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
    enriched = stateful.s2s_enrichment_stream(
        events,
        write_kind="AssumeRole",
        value_col="principal",
        emit_kind="CreateUser",
        fallback_col="principal_id",
    )
    run_to_memory(enriched, "s2s_out")
    rows = {r.event_id: r.entity for r in spark.sql("SELECT * FROM s2s_out").collect()}
    assert rows == {2: "user/Bob", 3: "AROLE:nobody"}


def test_s2s_state_persists_across_batches(spark, tmp_path):
    """The KV write must survive into later micro-batches (BoltDB
    durability ≡ checkpointed state)."""
    from go_fish_spark.streaming import sources, stateful, sinks

    indir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    write_events(indir, [
        dict(event_id=1, ts="2024-01-01T00:00:00Z", event_type="AssumeRole",
             key="k1", principal="user/Alice", principal_id="x"),
    ], "b0.json")

    outdir = str(tmp_path / "out")
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA, max_files_per_trigger=1)
    enriched = stateful.s2s_enrichment_stream(
        events, write_kind="AssumeRole", value_col="principal",
        emit_kind="CreateUser", fallback_col="principal_id",
    )
    # memory sink can't recover from a checkpoint; use the file sink
    q = sinks.json_sink(enriched, outdir, ckpt, trigger_available_now=True)
    q.awaitTermination(120)

    # second batch, later file: the read must hit batch-1's state
    write_events(indir, [
        dict(event_id=2, ts="2024-01-01T01:00:00Z", event_type="CreateUser",
             key="k1", principal=None, principal_id="fallback"),
    ], "b1.json")
    q2 = sinks.json_sink(enriched, outdir, ckpt, trigger_available_now=True)
    q2.awaitTermination(120)
    out = spark.read.schema("event_id long, ts timestamp, key string, entity string").json(outdir)
    rows = {r.event_id: r.entity for r in out.collect()}
    assert rows == {2: "user/Alice"}


def test_windowed_agg_golden(spark, tmp_path):
    """≡ integration_test.go:319-416: three no-MFA events for one entity →
    one window row with occurrences=3."""
    from go_fish_spark.streaming import sources, stateful

    indir = tmp_path / "in"
    write_events(
        indir,
        [
            dict(event_id=i, ts=f"2024-01-01T00:0{i}:00Z", event_type="CreateUser",
                 key="role/AssumeNothing", principal=None, principal_id="p")
            for i in range(1, 4)
        ],
    )
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
    agged = stateful.windowed_count_stream(events, "ts", "1 hour", ["key"])
    run_to_memory(agged, "agg_out", mode="update")
    rows = spark.sql("SELECT key, occurrences FROM agg_out").collect()
    assert len(rows) == 1
    assert rows[0].key == "role/AssumeNothing"
    assert rows[0].occurrences == 3


def test_global_count_stream(spark, tmp_path):
    """≡ Counter (`state/count.go:18-31`)."""
    from go_fish_spark.streaming import sources, stateful

    indir = tmp_path / "in"
    write_events(
        indir,
        [dict(event_id=i, ts="2024-01-01T00:00:00Z", event_type="t",
              key="k", principal=None, principal_id="p") for i in range(4)],
    )
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
    counted = stateful.global_count_stream(events)
    run_to_memory(counted, "cnt_out", mode="update")
    assert spark.sql("SELECT cnt FROM cnt_out").collect()[0].cnt == 4


def test_keyed_counter_tws_golden(spark, tmp_path):
    """≡ integration_test.go:319-416 keyed agg on the Spark-4
    StatefulProcessor API (transformWithStateInPandas): three no-MFA
    events for one entity → running count reaches 3; a second micro-batch
    proves the ValueState persists across batches (BoltDB durability ≡
    checkpointed state). Skipped on runtimes without the API."""
    from go_fish_spark.streaming import sinks, sources, stateful

    if not stateful.has_transform_with_state():
        pytest.skip("transformWithStateInPandas not available")

    indir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    write_events(
        indir,
        [
            dict(event_id=i, ts=f"2024-01-01T00:0{i}:00Z", event_type="CreateUser",
                 key="role/AssumeNothing", principal=None, principal_id="p")
            for i in range(1, 4)
        ],
        "b0.json",
    )
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
    counted = stateful.keyed_counter_tws_stream(events)
    q = sinks.json_sink(counted, outdir, ckpt, trigger_available_now=True)
    q.awaitTermination(120)

    out_schema = "key string, occurrences long"
    rows = spark.read.schema(out_schema).json(outdir).collect()
    assert [(r.key, r.occurrences) for r in rows] == [("role/AssumeNothing", 3)]

    # batch 2: two more events for the same key — state must carry the 3
    write_events(
        indir,
        [
            dict(event_id=i, ts=f"2024-01-01T01:0{i}:00Z", event_type="CreateUser",
                 key="role/AssumeNothing", principal=None, principal_id="p")
            for i in range(4, 6)
        ],
        "b1.json",
    )
    q2 = sinks.json_sink(counted, outdir, ckpt, trigger_available_now=True)
    q2.awaitTermination(120)
    totals = sorted(
        r.occurrences
        for r in spark.read.schema(out_schema).json(outdir).collect()
    )
    assert totals == [3, 5]


def test_stream_incremental_dedup_vs_static_store(spark, tmp_path):
    """x29's streaming form: a recurring crawl arrives as a STREAM and is
    deduped against the static historical digest store via a stream-static
    LEFT ANTI join on md5(text) — the store stays a bounded-per-batch
    lookup, no stream-side state needed for the cross-corpus half."""
    import pyspark.sql.functions as F

    from go_fish_spark.streaming import sources

    hist = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    hist_digests = hist.select(F.md5("text").alias("_digest")).distinct()

    indir = tmp_path / "in"
    write_events(
        indir,
        [
            dict(event_id=10, ts="2024-01-01T00:00:00Z", event_type="doc",
                 key="seen before", principal=None, principal_id="p"),
            dict(event_id=11, ts="2024-01-01T00:01:00Z", event_type="doc",
                 key="brand new", principal=None, principal_id="p"),
            dict(event_id=12, ts="2024-01-01T00:02:00Z", event_type="doc",
                 key="also seen", principal=None, principal_id="p"),
        ],
    )
    stream = sources.json_stream(spark, str(indir), EVENT_SCHEMA).select(
        F.col("event_id").alias("doc_id"), F.col("key").alias("text")
    )
    fresh = stream.join(
        hist_digests,
        F.md5(stream["text"]) == hist_digests["_digest"],
        "left_anti",
    )
    run_to_memory(fresh, "incr_dedup_out")
    rows = spark.sql("SELECT doc_id, text FROM incr_dedup_out").collect()
    assert [(r.doc_id, r.text) for r in rows] == [(11, "brand new")]


def test_session_window_stream(spark, tmp_path):
    """Streaming session windows (gap-based), the idiomatic generalization
    of the reference's drain-on-interval (`window.go:38-49`) — batch
    analogue is q22_sessionize."""
    import pyspark.sql.functions as F
    from go_fish_spark.streaming import sources

    indir = tmp_path / "in"
    write_events(
        indir,
        [
            # two bursts for k separated by > 30 min → two sessions
            dict(event_id=1, ts="2024-01-01T00:00:00Z", event_type="t", key="k", principal=None, principal_id="p"),
            dict(event_id=2, ts="2024-01-01T00:10:00Z", event_type="t", key="k", principal=None, principal_id="p"),
            dict(event_id=3, ts="2024-01-01T02:00:00Z", event_type="t", key="k", principal=None, principal_id="p"),
        ],
    )
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
    sessions = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # session windows only support append mode: a session emits when the
    # watermark passes its close. The final watermark lands at 02:00, so
    # the burst of events 1-2 (session closed 00:40) emits with n=2; the
    # 02:00 session stays open in state.
    run_to_memory(sessions, "sess_out", mode="append")
    rows = [(r.key, r.n) for r in spark.sql("SELECT key, n FROM sess_out").collect()]
    assert rows == [("k", 2)]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup ≡ the KV get-or-create collapse (`agg_rules/
    cloudTrail_agg.go:39-63`) via dropDuplicatesWithinWatermark: repeats
    of the same event_id inside the watermark horizon are suppressed."""
    from go_fish_spark.streaming import sources

    indir = tmp_path / "in"
    write_events(
        indir,
        [
            dict(event_id=1, ts="2024-01-01T00:00:00Z", event_type="t", key="k", principal=None, principal_id="p"),
            dict(event_id=1, ts="2024-01-01T00:00:30Z", event_type="t", key="k", principal=None, principal_id="p"),
            dict(event_id=2, ts="2024-01-01T00:01:00Z", event_type="t", key="k", principal=None, principal_id="p"),
            dict(event_id=2, ts="2024-01-01T00:01:10Z", event_type="t", key="k", principal=None, principal_id="p"),
        ],
    )
    events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
    deduped = events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    run_to_memory(deduped, "dedup_out")
    ids = sorted(r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect())
    assert ids == [1, 2]


def test_stream_stream_join(spark, tmp_path):
    """Native stream-stream inner join with watermarks — the fully
    Spark-managed form of the s2s enrichment (state for both sides lives
    in the state store; SURVEY §2.4 maps the KV join to exactly this)."""
    import pyspark.sql.functions as F
    from go_fish_spark.streaming import sources

    adir, bdir = tmp_path / "a", tmp_path / "b"
    write_events(adir, [
        dict(event_id=1, ts="2024-01-01T00:00:00Z", event_type="signup", key="u1", principal="user/Ann", principal_id="x"),
    ])
    write_events(bdir, [
        dict(event_id=2, ts="2024-01-01T00:03:00Z", event_type="purchase", key="u1", principal=None, principal_id="y"),
        dict(event_id=3, ts="2024-01-01T00:04:00Z", event_type="purchase", key="u2", principal=None, principal_id="z"),
    ])
    left = (
        sources.json_stream(spark, str(adir), EVENT_SCHEMA)
        .select(F.col("key"), F.col("principal"), F.col("ts").alias("reg_ts"))
        .withWatermark("reg_ts", "1 hour")
    )
    right = (
        sources.json_stream(spark, str(bdir), EVENT_SCHEMA)
        .select(F.col("key"), F.col("event_id"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "1 hour")
    )
    joined = left.join(
        right,
        (left["key"] == right["key"])
        & (right["buy_ts"] >= left["reg_ts"])
        & (right["buy_ts"] <= left["reg_ts"] + F.expr("INTERVAL 1 HOUR")),
    ).select(right["event_id"], left["principal"])
    run_to_memory(joined, "ssj_out")
    rows = {r.event_id: r.principal for r in spark.sql("SELECT * FROM ssj_out").collect()}
    # u1's purchase joins the signup inside the window; u2 has no match
    assert rows == {2: "user/Ann"}


def test_metrics_listener(spark, tmp_path):
    """≡ monitoring.go counters via StreamingQueryListener."""
    from go_fish_spark.streaming import sinks, sources
    from go_fish_spark.streaming.monitoring import MetricsListener

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        indir = tmp_path / "in"
        write_events(
            indir,
            [dict(event_id=i, ts="2024-01-01T00:00:00Z", event_type="t",
                  key="k", principal=None, principal_id="p") for i in range(5)],
        )
        events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
        q = sinks.memory_sink(events, "mon_out", trigger_available_now=True)
        q.awaitTermination(120)
        # listener callbacks are async; poll briefly
        deadline = time.time() + 20
        while time.time() < deadline:
            snap = listener.snapshot()
            if snap.queries_started >= 1 and snap.events_received >= 5:
                break
            time.sleep(0.5)
        snap = listener.snapshot()
        assert snap.queries_started >= 1
        assert snap.events_received >= 5
    finally:
        spark.streams.removeListener(listener)


def test_cloudwatch_monitoring_golden_flush():
    """≡ `monitoring_test.go:26-43` (TestCloudWatchMonitoring): with a
    mock client, incrPipelines('foo') + flush() must deliver at least one
    metric datum whose first value is 1.0 — plus the full reference
    payload shape (`monitoring.go:146-180`): namespace, Pipeline
    dimension, Count unit, both metric names."""
    from go_fish_spark.streaming.monitoring import CloudWatchMonitoringService

    class MockCW:
        def __init__(self):
            self.calls = []

        def put_metric_data(self, namespace, metric_data):
            self.calls.append((namespace, metric_data))

    mock = MockCW()
    cw = CloudWatchMonitoringService(
        namespace="testCloudWatchMonitoring",
        resolution_sec=1,
        client=mock,
        clock=lambda: 1234.0,
    )
    cw.incr_pipelines("foo")
    cw.flush()
    assert len(mock.calls) >= 1
    ns, data = mock.calls[0]
    assert ns == "testCloudWatchMonitoring"
    assert data[0]["Value"] == 1.0
    assert data[0]["MetricName"] == "Pipelines"
    assert data[0]["Unit"] == "Count"
    assert data[0]["Dimensions"] == [{"Name": "Pipeline", "Value": "foo"}]
    assert data[1]["MetricName"] == "EventsReceived"
    assert data[1]["Value"] == 0.0

    # events accumulate between flushes (buffered, not reset — the
    # reference reports running totals)
    cw.incr_event_received("foo")
    cw.incr_event_received("foo")
    cw.flush()
    _, data2 = mock.calls[-1]
    assert data2[1]["Value"] == 2.0


def test_cloudwatch_default_boto3_adapter_payload_mapping():
    """With no injected client the default transport is boto3
    (`monitoring.py:_Boto3CloudWatchClient`) — the SQS-sink pattern.
    Verify the adapter maps the internal (namespace, metric_data) call
    onto boto3's keyword shape and converts epoch-float timestamps to
    aware datetimes, using a fake boto client so no AWS call happens."""
    from datetime import datetime, timezone

    from go_fish_spark.streaming.monitoring import (
        CloudWatchMonitoringService,
        _Boto3CloudWatchClient,
    )

    class FakeBoto:
        def __init__(self):
            self.calls = []

        def put_metric_data(self, **kwargs):
            self.calls.append(kwargs)

    fake = FakeBoto()
    cw = CloudWatchMonitoringService(
        namespace="ns",
        client=_Boto3CloudWatchClient(client=fake),
        clock=lambda: 1234.0,
    )
    cw.incr_pipelines("p")
    cw.flush()
    assert fake.calls and fake.calls[0]["Namespace"] == "ns"
    data = fake.calls[0]["MetricData"]
    assert data[0]["MetricName"] == "Pipelines"
    assert data[0]["Timestamp"] == datetime.fromtimestamp(
        1234.0, tz=timezone.utc
    )


def test_cloudwatch_default_real_boto3_client_construction(monkeypatch):
    """Guarded real-client construction: boto3 is installed in this
    environment, so `CloudWatchMonitoringService.flush` with no injected
    client must build the default adapter (we pin a region so client
    construction never depends on ambient AWS config, and stub the send
    so nothing leaves the process)."""
    import pytest

    pytest.importorskip("boto3")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    from go_fish_spark.streaming.monitoring import _Boto3CloudWatchClient

    adapter = _Boto3CloudWatchClient()
    assert adapter._boto is not None
    sent = []
    adapter._boto = type(
        "S", (), {"put_metric_data": lambda self, **kw: sent.append(kw)}
    )()
    adapter.put_metric_data("ns", [{"MetricName": "Pipelines", "Value": 1.0}])
    assert sent[0]["Namespace"] == "ns"


def test_monitoring_service_dispatch():
    """≡ `monitoringConfiguration.init` (`monitoring.go:33-46`): typed
    dispatch incl. the exact invalid-type rejection."""
    import pytest

    from go_fish_spark.streaming.monitoring import (
        CloudWatchMonitoringService,
        NoopMonitoringService,
        PrometheusMonitoringService,
        monitoring_service,
    )

    assert isinstance(monitoring_service(None), NoopMonitoringService)
    assert isinstance(
        monitoring_service({"monitoringService": ""}), NoopMonitoringService
    )
    prom = monitoring_service(
        {"monitoringService": "prometheus", "prometheus": {"namespace": "ns"}}
    )
    assert isinstance(prom, PrometheusMonitoringService)
    prom.incr_pipelines("p1")
    prom.incr_event_received("p1")
    text = prom.render()
    assert 'nsPipelines{pipelineName="p1"} 1' in text
    assert 'nsEventsReceived{pipelineName="p1"} 1' in text
    cw = monitoring_service(
        {
            "monitoringService": "cloudwatch",
            "cloudWatch": {"namespace": "n", "resolutionSec": 30},
        }
    )
    assert isinstance(cw, CloudWatchMonitoringService)
    assert cw.resolution_sec == 30
    with pytest.raises(ValueError, match="Invalid monitoring service type"):
        monitoring_service({"monitoringService": "statsd"})


def test_cloudwatch_flush_daemon_flushes_on_interval():
    """≡ `flushDaemon` (`monitoring.go:134-142`): the background thread
    flushes roughly every resolution interval until stopped."""
    import time as _t

    from go_fish_spark.streaming.monitoring import CloudWatchMonitoringService

    class MockCW:
        def __init__(self):
            self.calls = []

        def put_metric_data(self, namespace, metric_data):
            self.calls.append((namespace, metric_data))

    mock = MockCW()
    cw = CloudWatchMonitoringService(resolution_sec=1, client=mock)
    cw.incr_pipelines("p")
    cw.start_flush_daemon()
    try:
        deadline = _t.time() + 10
        while _t.time() < deadline and not mock.calls:
            _t.sleep(0.1)
    finally:
        cw.stop_flush_daemon()
    assert mock.calls, "daemon never flushed"


def test_idempotent_batch_writer_replay_safe(spark, tmp_path):
    """Re-delivering the SAME batch id must not duplicate rows (crash
    between sink-write and checkpoint-commit replays the batch); a new
    batch id appends normally."""
    from go_fish_spark.streaming.sinks import idempotent_batch_writer

    out = str(tmp_path / "out")
    w = idempotent_batch_writer(out)
    batch = spark.createDataFrame([(1,), (2,)], "v long")
    w(batch, 0)
    w(batch, 0)  # replay of batch 0 — rewrite, not append
    got = spark.read.schema("v long").json(out + "/batch_id=0")
    assert sorted(r.v for r in got.collect()) == [1, 2]
    w(spark.createDataFrame([(3,)], "v long"), 1)
    allrows = spark.read.json(out)  # partition discovery adds batch_id
    assert sorted((r.batch_id, r.v) for r in allrows.collect()) == [
        (0, 1), (0, 2), (1, 3),
    ]


def test_idempotent_json_sink_end_to_end(spark, tmp_path):
    import json as _json

    from go_fish_spark.streaming import sources
    from go_fish_spark.streaming.sinks import idempotent_json_sink

    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "b0.json", "w") as f:
        for v in (10, 20):
            f.write(_json.dumps({"v": v}) + "\n")
    stream = sources.json_stream(spark, str(indir), "v long")
    q = idempotent_json_sink(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    got = spark.read.json(str(tmp_path / "out"))
    assert sorted(r.v for r in got.collect()) == [10, 20]
    assert "batch_id" in got.columns


def test_json_idempotent_sink_type_in_pipeline_spec(spark, tmp_path):
    """The json_idempotent sink type is spec-declarable and replay-safe
    end to end."""
    import json as _json

    from go_fish_spark.plans import compile_pipeline, parse_spec

    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "b0.json", "w") as f:
        f.write(_json.dumps({"value": "a"}) + "\n")
        f.write(_json.dumps({"value": "b"}) + "\n")
    outdir = str(tmp_path / "out")
    spec = parse_spec({
        "sources": {"src": {"type": "json", "options": {
            "path": str(indir), "schema": "value string"}}},
        "rules": {"keep": {"source": "src", "task": "filter_eq", "sink": "out",
                            "options": {"column": "value", "value": "a"}}},
        "sinks": {"out": {"type": "json_idempotent",
                           "options": {"path": outdir}}},
        "states": {},
    })
    compiled = compile_pipeline(spark, spec, streaming=True)
    [q] = compiled.start(str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    got = spark.read.json(outdir)
    assert [r.value for r in got.collect()] == ["a"]
    assert "batch_id" in got.columns


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static join: each micro-batch enriches against a batch
    dimension table (the lookup-table pattern; the static side is
    re-resolved per batch, no state store involved)."""
    import json as _json

    from go_fish_spark.streaming import sources

    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "b0.json", "w") as f:
        for uid, v in [(1, 10.0), (2, 20.0), (9, 90.0)]:
            f.write(_json.dumps({"user_id": uid, "v": v}) + "\n")
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = sources.json_stream(spark, str(indir), "user_id long, v double")
    from pyspark.sql import functions as F

    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "user_id", "v", F.coalesce("tier", F.lit("none")).alias("tier")
    )
    q = (
        enriched.writeStream.format("memory").queryName("ss_join_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r.user_id, r.tier) for r in spark.sql("SELECT * FROM ss_join_out").collect()
    )
    assert rows == [(1, "gold"), (2, "silver"), (9, "none")]


def test_stream_stream_left_outer_join_null_extends_after_watermark(spark, tmp_path):
    """Outer stream-stream join: unmatched left rows may only emit once
    the watermark has passed their join window (until then a match could
    still arrive). A later second batch pushes the watermark; the
    unmatched row must then appear NULL-extended — this is the
    state-eviction contract that bounds join state at scale."""
    import pyspark.sql.functions as F
    from go_fish_spark.streaming import sinks, sources

    adir, bdir = tmp_path / "a", tmp_path / "b"
    write_events(adir, [
        dict(event_id=1, ts="2024-01-01T00:00:00Z", event_type="signup", key="u1", principal="user/Ann", principal_id="x"),
        dict(event_id=4, ts="2024-01-01T00:01:00Z", event_type="signup", key="u9", principal="user/Zed", principal_id="w"),
    ])
    write_events(bdir, [
        dict(event_id=2, ts="2024-01-01T00:03:00Z", event_type="purchase", key="u1", principal=None, principal_id="y"),
    ])
    left = (
        sources.json_stream(spark, str(adir), EVENT_SCHEMA)
        .select(F.col("key"), F.col("principal"), F.col("ts").alias("reg_ts"))
        .withWatermark("reg_ts", "10 minutes")
    )
    right = (
        sources.json_stream(spark, str(bdir), EVENT_SCHEMA)
        .select(F.col("key").alias("rkey"), F.col("event_id"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = left.join(
        right,
        (left["key"] == right["rkey"])
        & (right["buy_ts"] >= left["reg_ts"])
        & (right["buy_ts"] <= left["reg_ts"] + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("key", "principal", "event_id")
    q = sinks.memory_sink(joined, "ssloj_out", output_mode="append",
                          trigger_available_now=True)
    q.awaitTermination(120)
    got = {(r.key, r.event_id) for r in spark.sql("SELECT * FROM ssloj_out").collect()}
    assert got == {("u1", 2)}  # u9 still pending: a match could arrive

    # Batch 2: an event far past u9's window pushes both watermarks.
    write_events(bdir, [
        dict(event_id=3, ts="2024-01-02T12:00:00Z", event_type="purchase", key="zz", principal=None, principal_id="z"),
    ], fname="batch1.json")
    write_events(adir, [
        dict(event_id=5, ts="2024-01-02T12:00:00Z", event_type="signup", key="zz2", principal="user/New", principal_id="v"),
    ], fname="batch1.json")
    q2 = sinks.memory_sink(joined, "ssloj_out2", output_mode="append",
                           trigger_available_now=True)
    q2.awaitTermination(120)
    got2 = {(r.key, r.event_id) for r in spark.sql("SELECT * FROM ssloj_out2").collect()}
    assert ("u9", None) in got2, got2


def test_stream_quality_bar_vs_static_thresholds(spark, tmp_path):
    """x30's streaming form: per-stratum quality cutoffs are FIT on a
    static/historical corpus (window sort there, bounded output), then a
    live stream is selected with the pure broadcast-join + filter
    (apply_quality_thresholds) — no window, no stream-side state. Golden:
    streaming the same rows keeps exactly the batch window-form's set
    (no tie straddles the 50% boundary here)."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators import sampling
    from go_fish_spark.streaming import sources

    rows = [
        (1, "en", 0.9), (2, "en", 0.7), (3, "en", 0.5), (4, "en", 0.3),
        (5, "fr", 0.8), (6, "fr", 0.2),
    ]
    hist = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    thr = sampling.group_quality_thresholds(hist, "lang", "score", 0.5, "doc_id")

    batch_kept = {
        r.doc_id
        for r in sampling.top_fraction_per_group(
            hist, "lang", "score", 0.5, "doc_id"
        ).collect()
    }

    indir = tmp_path / "in"
    write_events(
        indir,
        [dict(doc_id=i, lang=g, score=s) for i, g, s in rows],
    )
    stream = sources.json_stream(
        spark, str(indir), "doc_id long, lang string, score double"
    )
    kept = sampling.apply_quality_thresholds(stream, "lang", "score", thr)
    run_to_memory(kept, "qbar_out")
    stream_kept = {r.doc_id for r in spark.sql("SELECT doc_id FROM qbar_out").collect()}
    # en (4 docs): percent_rank ≤ 0.5 keeps 0.9, 0.7; fr (2 docs): keeps 0.8.
    assert stream_kept == batch_kept == {1, 2, 5}


def test_stream_rebalance_mix_vs_static_rates(spark, tmp_path):
    """x33's streaming form: acceptance rates are FIT on the static
    historical mix (group_rates — one bounded groupBy), then the live
    stream is thinned row-by-row with the broadcast rates + deterministic
    key-hash draw (apply_rates). Golden: the stream keeps exactly the
    rows the batch pass-2 keeps for the same rates table."""
    from go_fish_spark.operators import sampling
    from go_fish_spark.streaming import sources

    rows = [(i, "web" if i < 8 else "books", 100) for i in range(10)]
    hist = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    rates = sampling.group_rates(hist, "source", "n_tokens")

    batch_kept = {
        r.doc_id for r in sampling.apply_rates(hist, "doc_id", "source", rates).collect()
    }
    # The mix is 8:2 → web thinned to rate 5/8, books kept whole.
    assert {i for i in range(8, 10)} <= batch_kept

    indir = tmp_path / "in"
    write_events(
        indir,
        [dict(doc_id=i, source=g, n_tokens=t) for i, g, t in rows],
    )
    stream = sources.json_stream(
        spark, str(indir), "doc_id long, source string, n_tokens long"
    )
    kept = sampling.apply_rates(stream, "doc_id", "source", rates)
    run_to_memory(kept, "remix_out")
    stream_kept = {r.doc_id for r in spark.sql("SELECT doc_id FROM remix_out").collect()}
    assert stream_kept == batch_kept


def test_stream_normalized_dedup_vs_batch(spark, tmp_path):
    """x35's streaming form: the normalize-then-digest shuffle key works
    unchanged as a STREAMING aggregation key — groupBy(md5(normalized))
    with min-id canonical + running count (update-capable aggregates;
    count_distinct is the one batch-only column). Golden: complete-mode
    output equals the batch operator's (canonical_id, n_copies)."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators.dedup import normalized_dedup
    from go_fish_spark.streaming import sinks, sources

    rows = [
        (1, "Hello, World!"), (2, "hello world"), (3, "HELLO  world?!"),
        (4, "quite different"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    batch_out = {
        (r.canonical_id, r.n_copies)
        for r in normalized_dedup(batch, "doc_id", "text").collect()
    }
    assert batch_out == {(1, 3), (4, 1)}

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    agg = (
        stream.groupBy(F.md5(norm).alias("_digest"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )
    q = sinks.memory_sink(agg, "ndedup_out", output_mode="complete",
                          trigger_available_now=True)
    q.awaitTermination(120)
    stream_out = {
        (r.canonical_id, r.n_copies)
        for r in spark.sql("SELECT * FROM ndedup_out").collect()
    }
    assert stream_out == batch_out


def test_stream_gopher_gate_vs_batch(spark, tmp_path):
    """x42's streaming form: the rule gate is a pure per-row expression,
    so the SAME gopher_keep filter runs unchanged on a stream — no state,
    no watermark, no window. Golden: the stream keeps exactly the docs
    the batch gate keeps."""
    from go_fish_spark.functions import text as tx
    from go_fish_spark.streaming import sources

    rows = [
        (1, " ".join(["the", "a", "of"] + ["wordy"] * 60)),   # passes
        (2, "the a tiny doc"),                                 # too short
        (3, " ".join(["zz"] * 60)),                            # no stopwords
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")

    def gate(df):
        return df.filter(tx.gopher_keep(tx.gopher_flags(tx.gopher_metrics("text"))))

    batch_kept = {r.doc_id for r in gate(batch).collect()}
    assert batch_kept == {1}

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    run_to_memory(gate(stream), "gopher_out")
    stream_kept = {
        r.doc_id for r in spark.sql("SELECT doc_id FROM gopher_out").collect()
    }
    assert stream_kept == batch_kept


def test_stream_dsir_scoring_vs_batch(spark, tmp_path):
    """x43's streaming form: bucket log-ratios are FIT on static history
    (fit_bucket_ratios — bounded table), frozen into one map literal, and
    a live stream is scored with a pure per-row fold (score_with_ratios —
    no explode, no join, no state). Golden: streaming scores equal the
    batch dsir_weights output bit-for-bit (decimal accumulation is
    order-independent)."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators import dsir
    from go_fish_spark.streaming import sources

    rows = [
        (1, "alpha beta gamma"), (2, "alpha beta gamma"),
        (10, "zeta eta theta"), (11, "zeta eta theta iota"),
        (100, "alpha zeta beta"),
    ]
    hist = spark.createDataFrame(rows, "doc_id long, text string")
    target = F.col("doc_id") < 10
    batch = {
        (r.doc_id, r.n_tokens, r.dsir_logweight)
        for r in dsir.dsir_weights(hist, "doc_id", "text", target, n_buckets=64).collect()
    }
    ratios = dsir.fit_bucket_ratios(hist, "text", target, n_buckets=64)
    # expression form on the same batch == grouped form, bit-for-bit
    expr_batch = {
        (r.doc_id, r.n_tokens, r.dsir_logweight)
        for r in dsir.score_with_ratios(hist, "doc_id", "text", ratios, 64).collect()
    }
    assert expr_batch == batch

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    run_to_memory(
        dsir.score_with_ratios(stream, "doc_id", "text", ratios, 64), "dsir_out"
    )
    stream_scores = {
        (r.doc_id, r.n_tokens, r.dsir_logweight)
        for r in spark.sql("SELECT * FROM dsir_out").collect()
    }
    assert stream_scores == batch


def test_stream_bm25_scoring_vs_batch(spark, tmp_path):
    """x57's streaming form: corpus stats (N, avgdl, per-term df) are FIT
    on static history (fit_bm25_stats — bounded dict), frozen into
    per-term literal expressions, and a live stream is scored with a pure
    per-row array-filter fold (bm25_score_with_stats — no explode, no
    join, no state). Golden: streaming scores equal the batch bm25_scores
    output bit-for-bit on the fit corpus (idf is built from literal N/df
    INSIDE Spark so ln runs on the same libm in both forms)."""
    from go_fish_spark.operators import retrieval
    from go_fish_spark.streaming import sources

    rows = [
        (1, "alpha beta alpha gamma"),
        (2, "alpha delta"),
        (3, "delta delta delta"),
        (4, "epsilon zeta"),          # matches nothing -> dropped
    ]
    terms = ["alpha", "delta"]
    hist = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in retrieval.bm25_scores(hist, "doc_id", "text", terms).collect()
    }
    assert {d for d, *_ in batch} == {1, 2, 3}
    stats = retrieval.fit_bm25_stats(hist, "text", terms)
    expr_batch = {
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in retrieval.bm25_score_with_stats(
            hist, "doc_id", "text", stats, terms
        ).collect()
    }
    assert expr_batch == batch

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    run_to_memory(
        retrieval.bm25_score_with_stats(stream, "doc_id", "text", stats, terms),
        "bm25_out",
    )
    stream_scores = {
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in spark.sql("SELECT * FROM bm25_out").collect()
    }
    assert stream_scores == batch


def test_stream_nearest_centroid_vs_batch(spark, tmp_path):
    """x65's streaming form: label centroids fit on static history
    (fit_label_centroids — decimal-exact), classification is a pure
    column expression over centroid literals (nearest_centroid_label) —
    identical predictions on the same rows via batch or a stream."""
    from go_fish_spark.operators.similarity import (
        fit_label_centroids,
        nearest_centroid_label,
    )
    from go_fish_spark.streaming import sources

    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        (5, [0.6, 0.4], 0), (6, [0.4, 0.6], 1),
    ]
    hist = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    labels, cent = fit_label_centroids(hist, "label", "embedding", 2)
    pred = nearest_centroid_label("embedding", labels, cent)
    batch = {
        r.vec_id: r.p for r in hist.select("vec_id", pred.alias("p")).collect()
    }
    assert batch == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0, 6: 1}

    indir = tmp_path / "in"
    write_events(indir, [dict(vec_id=i, embedding=v) for i, v, _ in rows])
    stream = sources.json_stream(
        spark, str(indir), "vec_id long, embedding array<double>"
    )
    run_to_memory(stream.select("vec_id", pred.alias("p")), "rocchio_out")
    got = {
        r.vec_id: r.p for r in spark.sql("SELECT * FROM rocchio_out").collect()
    }
    assert got == batch


def test_stream_source_cap_vs_batch(spark, tmp_path):
    """x56's streaming form: per-key admission thresholds are FIT on
    static history (source_cap_thresholds — bounded table, one row per
    over-cap key), then a stream is capped by a pure broadcast-join
    filter (apply_cap_thresholds). Golden: applying the thresholds to
    the history itself reproduces the batch source_cap survivor set
    exactly, batch and streaming."""
    import pyspark.sql.functions as F

    from go_fish_spark.operators.sampling import (
        apply_cap_thresholds,
        source_cap,
        source_cap_thresholds,
    )
    from go_fish_spark.streaming import sources

    rows = [(i, "hot") for i in range(20)] + [(100 + i, "cold") for i in range(3)]
    hist = spark.createDataFrame(rows, "doc_id long, source string")
    batch = {
        (r.source, r.doc_id)
        for r in source_cap(hist, "source", "doc_id", cap=5).collect()
    }
    th = source_cap_thresholds(hist, "source", "doc_id", cap=5)
    assert th.count() == 1  # only the over-cap key carries a threshold
    frozen = {
        (r.source, r.doc_id)
        for r in apply_cap_thresholds(hist, th, "source", "doc_id").collect()
    }
    assert frozen == batch

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, source=s) for i, s in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, source string")
    run_to_memory(
        apply_cap_thresholds(stream, th, "source", "doc_id"), "cap_out"
    )
    got = {
        (r.source, r.doc_id)
        for r in spark.sql("SELECT source, doc_id FROM cap_out").collect()
    }
    assert got == batch


def test_stream_order_keys_finalize_to_batch_positions(spark, tmp_path):
    """x58/x63's micro-batch story (round-5 verdict item): an exact 1..n
    position is a property of a CLOSED set, so the STREAM attaches only
    the deterministic sort key (hash_order_key) and stage
    (curriculum_stage) — pure map-only expressions — and the batch
    finalizer ranks at epoch close. Parity: sorting the streamed
    (stage, key, id) tuples reproduces global_hash_order's and
    curriculum_order's exact positions."""
    from go_fish_spark.operators.sampling import (
        curriculum_order,
        curriculum_stage,
        global_hash_order,
        hash_order_key,
    )
    from go_fish_spark.streaming import sources

    rows = [(i, float((i * 37) % 100) / 100.0) for i in range(40)]
    hist = spark.createDataFrame(rows, "doc_id long, score double")

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, score=s) for i, s in rows])
    stream = sources.json_stream(
        spark, str(indir), "doc_id long, score double"
    )
    keyed = stream.select(
        "doc_id",
        curriculum_stage("score", n_stages=4).alias("stage"),
        hash_order_key("doc_id", "s").alias("okey"),
    )
    run_to_memory(keyed, "order_keys_out")
    streamed = spark.table("order_keys_out").collect()
    assert len(streamed) == 40

    # epoch-close finalization: rank the streamed keys
    flat_rank = {
        r.doc_id: pos + 1
        for pos, r in enumerate(
            sorted(streamed, key=lambda r: (r.okey, r.doc_id))
        )
    }
    cur_rank = {
        r.doc_id: pos + 1
        for pos, r in enumerate(
            sorted(streamed, key=lambda r: (r.stage, r.okey, r.doc_id))
        )
    }
    batch_flat = {
        r.doc_id: r.position
        for r in global_hash_order(
            hist.select("doc_id"), "doc_id", "s"
        ).collect()
    }
    batch_cur = {
        r.doc_id: r.position
        for r in curriculum_order(
            hist, "doc_id", "score", n_stages=4, seed="s"
        ).collect()
    }
    assert flat_rank == batch_flat
    assert cur_rank == batch_cur


def test_kafka_reader_options_contract():
    """Broker-free contract test (round-5 verdict item): pins the Kafka
    config surface ≡ `input/kafka.go:25-58` — broker list, single-topic
    subscription (the reference consumes every partition of one topic),
    OffsetNewest ≡ startingOffsets=latest as the DEFAULT, and
    maxOffsetsPerTrigger as the back-pressure knob. Both call sites
    (streaming.sources.kafka_stream and the compiler's kafka source arm)
    build their reader from this one mapping."""
    from go_fish_spark.streaming.sources import kafka_options

    assert kafka_options("b1:9092,b2:9092", "events") == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "latest",
    }
    assert kafka_options(
        "b:9092", "t", starting_offsets="earliest",
        max_offsets_per_trigger=5000,
    ) == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "5000",
    }


def test_stream_decontamination_vs_batch(spark, tmp_path):
    """x21's streaming form: the benchmark's distinct shingle set is FIT
    on the static eval corpus (fit_eval_shingles — bounded, the x32
    collected-probe argument), frozen into a literal array, and a live
    stream is flagged with a pure per-row array_intersect count
    (contamination_hits_expr — no explode/join/state). Golden: streaming
    hits equal the batch contaminated_docs output exactly."""
    from go_fish_spark.operators import decontam
    from go_fish_spark.streaming import sources

    train_rows = [
        (1, "the quick brown fox jumps over things"),
        (2, "totally unrelated words here now ok"),
        (3, "a quick brown fox appears twice quick brown fox"),
        (4, "one two three four five six"),
    ]
    eval_rows = [(100, "saw a quick brown fox run"), (101, "one two three")]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    batch = {
        (r.doc_id, r.n_hits)
        for r in decontam.contaminated_docs(train, ev, "doc_id", "text").collect()
    }
    sh = decontam.fit_eval_shingles(ev, "text")
    frozen_batch = {
        (r.doc_id, r.n_hits)
        for r in decontam.contaminated_docs_frozen(
            train, "doc_id", "text", sh
        ).collect()
    }
    assert frozen_batch == batch and batch  # non-trivial

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in train_rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    run_to_memory(
        decontam.contaminated_docs_frozen(stream, "doc_id", "text", sh),
        "decontam_out",
    )
    streamed = {
        (r.doc_id, r.n_hits)
        for r in spark.table("decontam_out").collect()
    }
    assert streamed == batch


def test_stream_chunk_and_multimodal_decode_vs_batch(spark, tmp_path):
    """Two more map-only curation stages proven batch ≡ streaming:
    chunk_documents (posexplode windowing — x24) and the multimodal
    ingest→decode path (Arrow mapInPandas — x11/x12) both run unchanged
    on a Structured Streaming frame and reproduce the batch output
    row-for-row."""
    from go_fish_spark.operators.chunking import chunk_documents
    from go_fish_spark.operators.multimodal import decode_features, ingest_binary
    from go_fish_spark.streaming import sources

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "one two three"),
        (3, "x " * 40),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_chunks = sorted(
        map(tuple, chunk_documents(batch_df, "doc_id", "text", win=4, stride=3).collect())
    )
    batch_feats = sorted(
        map(tuple, decode_features(
            ingest_binary(batch_df, "doc_id", "text", media_type="text")
        ).collect())
    )

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    run_to_memory(
        chunk_documents(stream, "doc_id", "text", win=4, stride=3),
        "chunks_out",
    )
    run_to_memory(
        decode_features(ingest_binary(stream, "doc_id", "text", media_type="text")),
        "feats_out",
    )
    assert sorted(map(tuple, spark.table("chunks_out").collect())) == batch_chunks
    assert sorted(map(tuple, spark.table("feats_out").collect())) == batch_feats


def test_stream_length_drift_vs_batch(spark, tmp_path):
    """x67's streaming form (the profile family's monitor arm): the
    corpus length-bin distribution is FIT on static history
    (fit_length_baseline — a ≤ 40-bin bounded collect), frozen into
    per-bin literals, and the stream is scored by length_drift_frozen —
    a SINGLE streaming-legal aggregation (conditional bin counts inside
    one groupBy, KL as a post-agg expression). Goldens: (a) on the fit
    corpus the frozen form equals batch length_drift bit-for-bit with
    new_bin_docs == 0; (b) the same plan over a file stream in complete
    mode equals the frozen batch; (c) docs landing in a bin absent from
    the baseline are reported in new_bin_docs, not folded into kl."""
    from go_fish_spark.operators import profile
    from go_fish_spark.streaming import sources

    rows = [
        ("web", "x" * 3), ("web", "x" * 5), ("web", "x" * 17),
        ("web", "x" * 33), ("books", "x" * 1000), ("books", "x" * 1500),
        ("books", "x" * 90), ("books", None),
    ]
    corpus = spark.createDataFrame(rows, "source string, text string")
    baseline = profile.fit_length_baseline(corpus, "text")
    assert sum(baseline.values()) == 7  # NULL text excluded

    batch = {
        r.source: (r.n_docs, r.kl)
        for r in profile.length_drift(corpus, "source", "text").collect()
    }
    frozen = {
        r.source: (r.n_docs, r.kl, r.new_bin_docs)
        for r in profile.length_drift_frozen(
            corpus, "source", "text", baseline
        ).collect()
    }
    assert {g: (n, kl) for g, (n, kl, _) in frozen.items()} == batch
    assert all(nb == 0 for (_, _, nb) in frozen.values())

    indir = tmp_path / "in"
    write_events(
        indir, [dict(source=s, text=t) for s, t in rows]
    )
    stream = sources.json_stream(
        spark, str(indir), "source string, text string"
    )
    run_to_memory(
        profile.length_drift_frozen(stream, "source", "text", baseline),
        "drift_out",
        mode="complete",
    )
    streamed = {
        r.source: (r.n_docs, r.kl, r.new_bin_docs)
        for r in spark.sql("SELECT * FROM drift_out").collect()
    }
    assert streamed == frozen

    # (c) a producer suddenly shipping megadocs: bin 2^20 is empty in the
    # baseline → counted in new_bin_docs, kl stays finite
    drifted = spark.createDataFrame(
        [("web", "x" * (1 << 20)), ("web", "x" * 3)],
        "source string, text string",
    )
    out = profile.length_drift_frozen(
        drifted, "source", "text", baseline
    ).collect()[0]
    assert out.new_bin_docs == 1 and out.n_docs == 2
    assert out.kl is not None


def test_stream_interval_enrich_join_vs_batch(spark, tmp_path):
    """The native stream-stream arm of the s2s enrichment
    (stateful.interval_enrich_stream — Spark's watermarked interval
    join, no Python state): bounded-age matches resolve to the write's
    value, unmatched reads emit ONCE with the fallback when the
    watermark passes their window. The batch oracle is the SAME function
    on batch frames (withWatermark is a batch no-op); streaming output
    must equal it row-for-row. Sentinel rows in a second file push the
    watermark so outer results flush; sentinel reads themselves stay
    unflushed (their own window never closes) and are filtered."""
    from go_fish_spark.streaming import sources, stateful

    def t(sec):
        return f"2024-01-01T00:{sec // 60:02d}:{sec % 60:02d}Z"

    writes = [
        dict(key="k1", ts=t(100), principal="user/Bob"),
        dict(key="k1", ts=t(40), principal="user/Old"),
        dict(key="k3", ts=t(950), principal="user/New"),
    ]
    reads = [
        dict(event_id=1, ts=t(120), key="k1", principal_id="fb1"),
        dict(event_id=2, ts=t(90), key="k1", principal_id="fb2"),
        dict(event_id=3, ts=t(50), key="k2", principal_id="fb3"),
        dict(event_id=4, ts=t(1000), key="k3", principal_id="fb4"),
        dict(event_id=5, ts=t(20), key="k1", principal_id="fb5"),
    ]
    w_schema = "key string, ts timestamp, principal string"
    r_schema = "event_id long, ts timestamp, key string, principal_id string"

    import pyspark.sql.functions as F

    batch_r = spark.createDataFrame(
        [tuple(r.values()) for r in reads],
        "event_id long, ts string, key string, principal_id string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch_w = spark.createDataFrame(
        [tuple(w.values()) for w in writes],
        "key string, ts string, principal string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = stateful.interval_enrich_stream(
        batch_r, batch_w, max_age="60 seconds"
    )
    golden = {
        (r.event_id, r.entity, r.write_ts is None) for r in batch.collect()
    }
    assert golden == {
        (1, "user/Bob", False),   # write@100 in [60, 120]
        (2, "user/Old", False),   # write@40 in [30, 90]
        (3, "fb3", True),         # k2 never written
        (4, "user/New", False),   # write@950 in [940, 1000]
        (5, "fb5", True),         # window [-40, 20] precedes all writes
    }

    wdir, rdir = tmp_path / "w", tmp_path / "r"
    write_events(wdir, writes)
    write_events(rdir, reads)
    # second trigger: far-future sentinels advance BOTH watermarks past
    # every real match window so the outer rows flush
    write_events(
        wdir, [dict(key="__flush__", ts=t(7200), principal="x")],
        fname="batch1.json",
    )
    write_events(
        rdir,
        [dict(event_id=99, ts=t(7200), key="__flush__", principal_id="x")],
        fname="batch1.json",
    )
    out = stateful.interval_enrich_stream(
        sources.json_stream(spark, str(rdir), r_schema, max_files_per_trigger=1),
        sources.json_stream(spark, str(wdir), w_schema, max_files_per_trigger=1),
        max_age="60 seconds",
    )
    run_to_memory(out, "interval_enrich_out")
    streamed = {
        (r.event_id, r.entity, r.write_ts is None)
        for r in spark.sql(
            "SELECT * FROM interval_enrich_out WHERE key != '__flush__'"
        ).collect()
    }
    assert streamed == golden


def test_stream_dedup_within_watermark_vs_batch(spark, tmp_path):
    """Native bounded-state streaming dedup
    (stateful.dedup_within_watermark_stream): within the watermark
    exactly one copy of each key survives — equal to batch
    dropDuplicates on the same full-row keys; the key state is EVICTED
    behind the watermark (the property that makes streaming dedup
    runnable forever), demonstrated by a far-later re-arrival of an
    already-seen key surviving as a new row."""
    from go_fish_spark.streaming import sources, stateful

    keys = ["k", "payload"]
    schema = "k string, payload string, ts timestamp"
    early = [
        dict(k="a", payload="p1", ts="2024-01-01T00:00:01Z"),
        dict(k="a", payload="p1", ts="2024-01-01T00:00:02Z"),  # dup
        dict(k="b", payload="p2", ts="2024-01-01T00:00:03Z"),
        dict(k="a", payload="p9", ts="2024-01-01T00:00:04Z"),  # other payload
    ]
    # state eviction is applied AFTER the batch's dedup check (observed:
    # a re-arrival in the same batch whose watermark crosses the expiry
    # still dedups), so the watermark must cross the early keys' expiry
    # TWO batches before the re-arrival: batch1 advances it, batch2's
    # commit evicts, batch3's re-arrival finds the state gone
    advance = [dict(k="w", payload="adv", ts="2024-01-01T03:00:00Z")]
    advance2 = [dict(k="w2", payload="adv2", ts="2024-01-01T04:00:00Z")]
    late = [
        dict(k="a", payload="p1", ts="2024-01-01T05:00:00Z"),
    ]
    indir = tmp_path / "in"
    write_events(indir, early)
    write_events(indir, advance, fname="batch1.json")
    write_events(indir, advance2, fname="batch2.json")
    write_events(indir, late, fname="batch3.json")
    # the file source orders micro-batches by mtime — pin it so the
    # early file really is trigger 1 (equal mtimes raced in CI)
    import os

    for i, fname in enumerate(
        ["batch0.json", "batch1.json", "batch2.json", "batch3.json"]
    ):
        os.utime(indir / fname, (1000 + i, 1000 + i))
    out = stateful.dedup_within_watermark_stream(
        sources.json_stream(spark, str(indir), schema, max_files_per_trigger=1),
        keys,
        time_col="ts",
    )
    run_to_memory(out, "dedup_wm_out")
    got = sorted(
        (r.k, r.payload) for r in spark.sql("SELECT * FROM dedup_wm_out").collect()
    )
    # within-watermark survivors equal batch dropDuplicates over the
    # early batch; the late re-arrival of (a, p1) survives AGAIN because
    # its state was evicted — the bounded-state contract, not a bug
    batch_early = sorted(
        (r.k, r.payload)
        for r in stateful.dedup_within_watermark_stream(
            spark.createDataFrame(
                [(e["k"], e["payload"], e["ts"]) for e in early],
                "k string, payload string, ts string",
            ), keys,
        ).collect()
    )
    assert batch_early == [("a", "p1"), ("a", "p9"), ("b", "p2")]
    assert got == sorted(
        batch_early + [("a", "p1"), ("w", "adv"), ("w2", "adv2")]
    )


def test_stream_dedup_rate_vs_batch(spark, tmp_path):
    """x52's streaming arm (stateful.dedup_rate_streams): totals and
    within-watermark distincts as two streaming-legal plans, combined at
    epoch close into the dup-rate report — equal to the batch
    count/count-distinct per window."""
    import pyspark.sql.functions as F

    from go_fish_spark.streaming import sources, stateful

    rows = [
        # hour 0: 3 events, 2 distinct payloads
        dict(ts="2024-01-01T00:05:00Z", props="a"),
        dict(ts="2024-01-01T00:15:00Z", props="a"),
        dict(ts="2024-01-01T00:25:00Z", props="b"),
        # hour 1: 2 events, 1 distinct
        dict(ts="2024-01-01T01:10:00Z", props="c"),
        dict(ts="2024-01-01T01:50:00Z", props="c"),
    ]
    indir = tmp_path / "in"
    write_events(indir, rows)
    schema = "ts timestamp, props string"
    ev = sources.json_stream(spark, str(indir), schema)
    totals, distincts = stateful.dedup_rate_streams(ev, "props")
    run_to_memory(totals, "ddr_tot", mode="complete")
    run_to_memory(distincts, "ddr_dis", mode="complete")
    out = {
        r.window_start.isoformat(): (r.n_events, r.n_distinct, r.dup_rate)
        for r in stateful.combine_dedup_rate(
            spark.table("ddr_tot"), spark.table("ddr_dis")
        ).collect()
    }
    batch = {
        r.w.isoformat(): (r.n, r.d, r.rate)
        for r in spark.createDataFrame(
            [(x["ts"], x["props"]) for x in rows], "ts string, props string"
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.date_trunc("hour", "ts").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("props").alias("d"),
            F.round(
                1.0 - F.count_distinct("props").cast("double") / F.count(F.lit(1)), 6
            ).alias("rate"),
        )
        .collect()
    }
    assert out == batch
    assert list(out.values()) == [(3, 2, round(1 / 3, 6)), (2, 1, 0.5)]


def test_stream_neardup_gate_vs_batch_store(spark, tmp_path):
    """x77's streaming companion (neardup_gate task): blocklist sketches
    fit once (fit_blocklist_sketches — bounded; empty-shingle entries
    excluded at fit), frozen into task config, applied as a pure
    per-row expression. Goldens: (a) the gate drops exactly the docs
    incremental_near_dedup marks dup_of_history against the same
    blocklist (the gate checks every sketch, so it can only be ⊇ the
    banded path — on this data they coincide); (b) near-dups with a
    rotated token are caught (what decontam_gate's exact shingles
    miss); (c) streaming output equals batch row-for-row; (d) short
    docs pass (sentinel sketches are excluded at fit)."""
    from go_fish_spark.operators.dedup import (
        fit_blocklist_sketches,
        incremental_near_dedup,
        sketch_store,
    )
    from go_fish_spark.streaming import sources
    from go_fish_spark.tasks.registry import get_task

    block = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"),
         (101, "xy")],  # < k tokens: excluded at fit
        "doc_id long, text string",
    )
    sketches = fit_blocklist_sketches(block, "text", portable=True)
    assert len(sketches) == 1

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),   # exact
        (2, "the quick brown fox jumps over the lazy dog yesterday"),  # near
        (3, "completely unrelated words in this document here now"),
        (4, "ab"),  # short → passes
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    gate = get_task("neardup_gate", sketches=sketches, threshold=0.5)
    kept = sorted(r.doc_id for r in gate.apply(batch).collect())
    assert kept == [3, 4]

    # agreement with the banded store path on the same blocklist
    store = sketch_store(block.filter("doc_id = 100"), "doc_id", "text",
                         portable=True)
    st = {
        r.doc_id: r.status
        for r in incremental_near_dedup(
            batch, store, "doc_id", "text", portable=True
        ).collect()
    }
    dropped = {i for i, s in st.items() if s == "dup_of_history"}
    assert dropped == {1, 2} and set(kept) & dropped == set()

    indir = tmp_path / "in"
    write_events(indir, [dict(doc_id=i, text=t) for i, t in rows])
    stream = sources.json_stream(spark, str(indir), "doc_id long, text string")
    run_to_memory(gate.apply(stream), "neardup_gate_out")
    streamed = sorted(
        r.doc_id for r in spark.sql("SELECT * FROM neardup_gate_out").collect()
    )
    assert streamed == kept


def test_stream_anomaly_gate_vs_batch(spark, tmp_path):
    """q86's streaming companion (anomaly_gate task): per-type value
    baselines fit once on history (fit_value_baselines — bounded
    collect; degenerate types omitted), frozen into task config,
    applied as a pure per-row when-chain. Goldens: (a) the injected
    outlier is flagged, normal values are not; (b) a type absent from
    the baselines scores NULL and is NOT an anomaly; (c) streaming
    output equals batch row-for-row; (d) mode='drop' removes exactly
    the flagged rows and restores the input schema."""
    from go_fish_spark.operators.profile import fit_value_baselines
    from go_fish_spark.streaming import sources
    from go_fish_spark.tasks.registry import get_task

    hist = spark.createDataFrame(
        [("a", float(v)) for v in (10, 11, 9, 10, 12, 8, 10, 11, 9, 10)]
        + [("flat", 5.0), ("flat", 5.0)],   # zero variance → omitted
        "event_type string, value double",
    )
    base = fit_value_baselines(hist, "event_type", "value")
    assert set(base) == {"a"}

    rows = [(1, "a", 10.5), (2, "a", 99.0), (3, "new_type", 1000.0)]
    batch = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    gate = get_task("anomaly_gate", baselines=base, z_threshold=3.0)
    out = {r.event_id: r for r in gate.apply(batch).collect()}
    assert not out[1].is_anomaly
    assert out[2].is_anomaly                  # ~75 sigma outlier
    assert out[3].zscore is None and not out[3].is_anomaly

    drop = get_task(
        "anomaly_gate", baselines=base, z_threshold=3.0, mode="drop"
    )
    kept = drop.apply(batch)
    assert sorted(r.event_id for r in kept.collect()) == [1, 3]
    assert kept.columns == batch.columns

    indir = tmp_path / "in"
    write_events(
        indir,
        [dict(event_id=i, event_type=t, value=v) for i, t, v in rows],
    )
    stream = sources.json_stream(
        spark, str(indir), "event_id long, event_type string, value double"
    )
    run_to_memory(gate.apply(stream), "anomaly_gate_out")
    streamed = {
        r.event_id: (r.zscore, r.is_anomaly)
        for r in spark.sql("SELECT * FROM anomaly_gate_out").collect()
    }
    assert streamed == {
        i: (out[i].zscore, out[i].is_anomaly) for i in out
    }


def test_s2s_state_survives_checkpointed_restart(spark, tmp_path):
    """THE production property of keyed state: a write stored in run 1
    must enrich an emit that arrives in run 2 — a separate streaming
    query started from the same checkpoint (the distributed analogue of
    the reference re-opening its BoltDB file on restart,
    `state/kv.go:23-43`). Also pins exactly-once output: run 2 appends
    only the new emit, not a replay of run 1's."""
    import glob as _glob
    import json as _json

    from go_fish_spark.streaming import sources, stateful

    indir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def drain():
        events = sources.json_stream(spark, str(indir), EVENT_SCHEMA)
        enriched = stateful.s2s_enrichment_stream(
            events,
            write_kind="AssumeRole",
            value_col="principal",
            emit_kind="CreateUser",
            fallback_col="principal_id",
        )
        q = (
            enriched.writeStream.format("json")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def emitted():
        return {
            r["event_id"]: r["entity"]
            for f in _glob.glob(outdir + "/*.json")
            for line in open(f)
            if line.strip()
            for r in [_json.loads(line)]
        }

    # run 1: the WRITE plus one emit (sanity that enrichment works live)
    write_events(
        indir,
        [
            dict(event_id=1, ts="2024-01-01T00:00:00Z",
                 event_type="AssumeRole", key="AROLE:Bob-EC2-dev",
                 principal="user/Bob", principal_id="ignored"),
            dict(event_id=2, ts="2024-01-01T00:05:00Z",
                 event_type="CreateUser", key="AROLE:Bob-EC2-dev",
                 principal=None, principal_id="AROLE:Bob-EC2-dev"),
        ],
    )
    drain()
    assert emitted() == {2: "user/Bob"}

    # between runs: ONLY an emit arrives — the principal it needs lives
    # in run 1's checkpointed state
    write_events(
        indir,
        [
            dict(event_id=5, ts="2024-01-01T01:00:00Z",
                 event_type="CreateUser", key="AROLE:Bob-EC2-dev",
                 principal=None, principal_id="AROLE:Bob-EC2-dev"),
        ],
        fname="batch1.json",
    )
    drain()  # a NEW query object, same checkpoint
    assert emitted() == {2: "user/Bob", 5: "user/Bob"}


def test_stream_pit_features_vs_batch(spark, tmp_path):
    """q92's streaming arm (pit_feature_stream): features maintained
    incrementally across THREE micro-batches under the cutoff
    discipline equal the batch q92 feature computation row-for-row —
    and post-cutoff rows (including a purchase inside the label
    window) provably never leak into any emission. The latest emission
    per user is the one with the largest n_events_before (the count is
    strictly increasing), and total_value matches the batch
    round-12 → decimal → round-6 discipline exactly."""
    import pyspark.sql.functions as F

    from go_fish_spark.streaming import sources
    from go_fish_spark.streaming.stateful import pit_feature_stream

    cutoff = "2024-01-21 00:00:00"
    pre = [
        # user 1: three events, two types, fractional values
        (1, "2024-01-02 10:00:00", "view", 1.05),
        (1, "2024-01-10 09:30:00", "view", 2.345678901234),
        (1, "2024-01-19 23:59:59", "cart", 0.1),
        # user 2: one event, NULL value
        (2, "2024-01-15 12:00:00", "view", None),
        # user 3: events split across different files/batches
        (3, "2024-01-01 00:00:00", "view", 10.0),
        (3, "2024-01-20 08:00:00", "purchase", 5.5),
    ]
    post = [  # label-window rows: MUST NOT touch the features
        (1, "2024-01-22 10:00:00", "purchase", 100.0),
        (3, "2024-01-25 10:00:00", "view", 999.0),
        (4, "2024-01-23 10:00:00", "view", 1.0),  # post-cutoff-only user
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    batch = spark.createDataFrame(
        pre + post, "user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    feat = (
        batch.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_before"),
            F.countDistinct("event_type").alias("n_types_before"),
            F.datediff(
                F.lit("2024-01-21").cast("date"),
                F.max(F.col("ts").cast("date")),
            ).cast("int").alias("recency_days"),
            F.sum(F.round(F.col("value"), 12).cast("decimal(27,18)"))
            .cast("double").alias("total_value"),
        )
        .select(
            "user_id", "n_events_before", "n_types_before",
            "recency_days", F.round("total_value", 6).alias("total_value"),
        )
    )
    batch_rows = {r.user_id: tuple(r) for r in feat.collect()}
    assert set(batch_rows) == {1, 2, 3}  # user 4 has no pre-cutoff rows

    indir = tmp_path / "pit_in"
    rows = [
        dict(user_id=u, ts=t, event_type=e, value=v)
        for u, t, e, v in pre + post
    ]
    # three files → three micro-batches: state must carry across them
    write_events(indir, rows[:2], fname="b0.json")
    write_events(indir, rows[2:5], fname="b1.json")
    write_events(indir, rows[5:], fname="b2.json")
    stream = sources.json_stream(
        spark, str(indir), schema, max_files_per_trigger=1
    )
    run_to_memory(pit_feature_stream(stream, cutoff), "pit_out")
    emitted = spark.sql("SELECT * FROM pit_out").collect()
    # no emission may reflect post-cutoff data: user 4 never appears
    assert all(r.user_id != 4 for r in emitted)
    latest = {}
    for r in emitted:  # n_events_before strictly increases per user
        if (
            r.user_id not in latest
            or r.n_events_before > latest[r.user_id].n_events_before
        ):
            latest[r.user_id] = r
    assert {u: tuple(r) for u, r in latest.items()} == batch_rows
