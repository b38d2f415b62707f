"""Spec → DataFrame DAG compiler (≡ `pipeline.go:257-330` + the execution
startup `pipeline.go:332-385`).

The reference hand-schedules one goroutine per node and per edge with
unbuffered channels; here "compilation" just composes DataFrame
transformations and Catalyst/AQE do the physical planning — the whole
optimizer the reference lacks (SURVEY §4.1) comes free.

Structural semantics reproduced:
  * rule chaining — a rule's source may be another rule (`pipeline.go:
    318-322`): compose on the upstream's DataFrame.
  * fan-out — a node's output feeds every child: children share the same
    DataFrame; nodes with >1 consumer are persisted (MEMORY_AND_DISK) so
    the source isn't recomputed per branch. Documented divergence: the
    reference COPIES only for source-level fan-out (`pipeline.go:400-404`);
    for a rule with multiple children it starts one forwarder per child
    competing on a single output channel (`pipeline.go:354-356`), which
    load-balances (splits) events among children nondeterministically.
    This engine copies in both cases — deterministic multicast is the
    saner contract, and the reference's split behavior looks accidental
    (no test pins it); anyone relying on it gets a superset of events.
    Streaming frames can't persist: start() runs one query per sink, so
    a shared upstream is read once per sink and every query carries its
    own copy of each stateful rule's state.
  * fan-in — several rules naming one sink (`pipeline.go:387-391`):
    ``unionByName`` before the write.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import tune
from ..tasks import TASKS, get_task
from .spec import PipelineSpec, SinkSpec, SourceSpec


def make_source(
    spark: SparkSession, src: SourceSpec, streaming: bool = False
) -> DataFrame:
    """Source factory ≡ `input/input.go:29-47` type dispatch.

    ``streaming=True`` compiles file/parquet sources as incremental
    directory streams (readStream); kafka/rate are inherently streaming.
    """
    tune(spark)
    opts = src.options
    if src.type == "parquet":
        if streaming:
            return spark.readStream.schema(opts["schema"]).parquet(opts["path"])
        return spark.read.parquet(opts["path"])
    if src.type == "file":
        # ≡ file source: one line = one event, `value` column
        # (`input/file.go:22-37`).
        return spark.readStream.text(opts["path"]) if streaming else spark.read.text(opts["path"])
    if src.type == "json":
        if streaming:
            return spark.readStream.schema(opts["schema"]).json(opts["path"])
        return spark.read.schema(opts["schema"]).json(opts["path"])
    if src.type == "csv":
        # Spark-native extension of the file-source family (the reference
        # only reads raw lines, `input/file.go:22-37`; csv is the same
        # surface with schema projection at the scan).
        reader = spark.readStream if streaming else spark.read
        return (
            reader.schema(opts["schema"])
            .option("header", str(opts.get("header", False)).lower())
            .csv(opts["path"])
        )
    if src.type == "memory":
        if streaming:
            raise ValueError("memory source is batch-only")
        # literal rows for tests (≡ the reference's literal-input
        # integration harness, integration_test.go:126-142)
        return spark.createDataFrame(opts["rows"], schema=opts.get("schema"))
    if src.type == "kafka":
        # ≡ `input/kafka.go:25-58`; latest offsets like OffsetNewest.
        # Option mapping shared with streaming.sources.kafka_stream so
        # the contract test pins both call sites.
        from ..streaming.sources import kafka_options

        reader = spark.readStream.format("kafka")
        for k, v in kafka_options(
            opts["brokers"],
            opts["topic"],
            opts.get("starting_offsets", "latest"),
            opts.get("max_offsets_per_trigger"),
        ).items():
            reader = reader.option(k, v)
        return reader.load()
    if src.type == "rate":
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(opts.get("rows_per_second", 10)))
            .load()
        )
    if src.type == "certstream":
        # ≡ `input/cert_stream.go:11-41` (demo-only websocket feed).
        # Backed by the custom Python DataSource (sources/pyds.py —
        # Spark 4's pluggable-source mechanism, the analogue of the
        # reference's input plugins): deterministic synthetic cert
        # events; batch OR checkpointed streaming from the same source.
        from ..sources import pyds

        pyds.register(spark)
        reader = spark.readStream if streaming else spark.read
        r = reader.format("gofish_certstream")
        for k in ("seed", "n_rows", "n_partitions", "rows_per_batch"):
            if k in opts:
                r = r.option(k, str(opts[k]))
        return r.load()
    if src.type == "kinesis":
        # ≡ `input/kinesis.go:44-64`: gokini consumer starting at
        # TRIM_HORIZON with its checkpoint lease table in DynamoDB. Maps
        # to the public Structured Streaming Kinesis connector
        # (format "aws-kinesis"); the lease table ≡ checkpointLocation.
        # The connector jar is not bundled in this environment, so the
        # dispatch is config-level: options are mapped and validated here,
        # and .load() surfaces a clear install error rather than
        # "unknown source type".
        mapped = {
            "kinesis.streamName": opts["stream_name"],
            "kinesis.region": opts.get("region", "us-east-1"),
            "kinesis.startingPosition": opts.get(
                "starting_position", "TRIM_HORIZON"
            ),
        }
        if "endpoint_url" in opts:
            mapped["kinesis.endpointUrl"] = opts["endpoint_url"]
        reader = spark.readStream.format("aws-kinesis")
        for k, v in mapped.items():
            reader = reader.option(k, v)
        try:
            return reader.load()
        except Exception as e:
            raise RuntimeError(
                f"source {src.name!r}: kinesis connector (format "
                f"'aws-kinesis') is not installed in this Spark build; "
                f"mapped options: {mapped}"
            ) from e
    raise ValueError(f"unknown source type {src.type!r}")


def write_sink(df: DataFrame, sink: SinkSpec) -> None:
    """Sink factory ≡ `output/output.go:28-42` type dispatch (batch)."""
    opts = sink.options
    if sink.type in ("file", "json"):
        # ≡ JSON-marshal + append (`output/file.go:31-54`); per-event
        # fsync becomes per-task-commit (documented semantic difference,
        # SURVEY §4.2).
        df.write.mode(opts.get("mode", "overwrite")).json(opts["path"])
    elif sink.type == "parquet":
        # Optional hive-style layout: options.partition_by prunes reads on
        # the partition column at any scale (dynamic partition overwrite
        # so re-runs replace only touched partitions, not the table).
        writer = df.write.mode(opts.get("mode", "overwrite"))
        if "partition_by" in opts:
            writer = writer.partitionBy(*opts["partition_by"]).option(
                "partitionOverwriteMode", "dynamic"
            )
        writer.parquet(opts["path"])
    elif sink.type == "memory":
        pass  # results are read via CompiledPipeline.result()
    elif sink.type in ("parquet_upsert", "console", "sqs"):
        _batch_writer(df.sparkSession, sink)(df, 0)
    else:
        raise ValueError(f"unknown sink type {sink.type!r}")


def _sqs_writer(sink: SinkSpec):
    """SQS-shaped sink ≡ `output/sqs.go:40-61`: JSON-marshal each event,
    SendMessage per event. Sends run executor-side (foreachPartition, one
    client per partition) so the driver never materializes the batch —
    the per-partition loop is the per-event SendMessage loop. Default
    transport is boto3 (availability checked driver-side at submit time
    so a missing SDK fails fast, not per-partition); tests/alt
    transports inject ``options.sender`` = callable(body_json_str)."""
    opts = sink.options
    queue_url = opts.get("queue_url", "")
    sender = opts.get("sender")

    def write(batch_df: DataFrame, batch_id: int = 0) -> None:
        if sender is None:
            import importlib.util

            if importlib.util.find_spec("boto3") is None:
                raise RuntimeError(
                    f"sink {sink.name!r}: sqs sink requires boto3; pass "
                    "options['sender'] to supply a custom transport"
                )
        payloads = batch_df.select(
            F.to_json(F.struct(*[F.col(c) for c in batch_df.columns])).alias(
                "body"
            )
        )

        def send_partition(rows):
            send = sender
            if send is None:
                import boto3

                client = boto3.client("sqs")

                def send(body):
                    client.send_message(QueueUrl=queue_url, MessageBody=body)

            for r in rows:
                send(r.body)

        payloads.foreachPartition(send_partition)

    return write


def _batch_writer(spark: SparkSession, sink: SinkSpec):
    """``fn(batch_df, batch_id)`` writing one (micro-)batch to ``sink``."""
    from ..streaming import sinks as ssinks

    opts = sink.options
    if sink.type in ("file", "json", "parquet"):
        return ssinks.file_sink_log_writer(
            spark, opts["path"], "parquet" if sink.type == "parquet" else "json"
        )
    if sink.type == "json_idempotent":
        # replay-safe: a re-delivered micro-batch rewrites its batch_id
        # partition instead of appending duplicates.
        return ssinks.idempotent_batch_writer(opts["path"])
    if sink.type == "parquet_upsert":
        # MERGE-style keyed table sink (see operators/upsert.py; the
        # reference has only append sinks — this is the keyed-TABLE
        # counterpart a latest-state-per-entity pipeline needs). Replay-
        # safe: re-asserting a batch is idempotent.
        from ..operators.upsert import upsert_batch_writer

        return upsert_batch_writer(
            opts["path"], list(opts["keys"]), opts.get("partition_col")
        )
    if sink.type == "console":
        return lambda df, _: df.show(int(opts.get("num_rows", 20)), truncate=False)
    # ≡ output/sqs.go:40-61: each micro-batch runs the per-event SendMessage loop
    return _sqs_writer(sink)


@dataclass
class CompiledPipeline:
    spec: PipelineSpec
    node_frames: dict[str, DataFrame]
    sink_inputs: dict[str, DataFrame]
    streaming: bool = False

    def result(self, node: str) -> DataFrame:
        """DataFrame produced by a rule/source node or flowing into a sink."""
        if node in self.sink_inputs:
            return self.sink_inputs[node]
        return self.node_frames[node]

    def run(self) -> None:
        """Execute every sink (≡ StartPipeline, `pipeline.go:332-385` —
        but ordering/backpressure is Spark's problem, not ours)."""
        if self.streaming:
            raise ValueError("streaming pipeline: use start() instead of run()")
        for name, df in self.sink_inputs.items():
            write_sink(df, self.spec.sinks[name])

    def start(self, checkpoint_root: str, available_now: bool = False) -> list:
        """Start one StreamingQuery per sink, checkpointed under
        ``<checkpoint_root>/<sink>`` (≡ StartPipeline's goroutine swarm,
        with Spark owning scheduling/backpressure/recovery).

        A sink behind a keyed-state built-in (``s2s_enrich``,
        ``keyed_counter``) runs as one ``foreach_sink`` query over its
        upstream's sources (several: one ``_src``-tagged union, split back
        per batch). Each micro-batch runs ``_compute_rule_frames`` — the
        batch compile of ``run()`` — with each keyed rule's durable KV log
        (``<ckpt>/<sink>/kv/<rule>/``) handed to ``task.init`` (≡
        ``Init(kvstore)``, `rule.go:58`); one localCheckpoint job reads the
        source once and observes every patch; the sink's batch writer
        commits (json/file/parquet through Spark's file-sink log,
        ``_spark_metadata``); the patches are written last. Other sinks run
        natively. Each sink's query reads its sources and keeps its own KV.
        Fails before any query starts on an unsupported sink type, a
        ``memory`` sink behind keyed state, or a keyed sink whose checkpoint
        still holds ``applyInPandasWithState`` state (``state/``).
        """
        from ..streaming import sinks as ssinks

        keyed = {}
        for name in self.sink_inputs:
            stype = self.spec.sinks[name].type
            if stype not in _STREAM_SINK_TYPES:
                raise ValueError(
                    f"sink {name!r}: type {stype!r} unsupported in streaming "
                    f"(supported: {sorted(_STREAM_SINK_TYPES)})"
                )
            sub = _upstream(self.spec, name)
            rules = sorted(r.name for r in sub.rules.values()
                           if getattr(TASKS.get(r.task), "keyed_state", False))
            if not rules:
                continue
            keyed[name] = (sub, rules)
            legacy = os.path.join(checkpoint_root, name, "state")
            if stype == "memory":
                raise ValueError(f"sink {name!r}: type 'memory' unsupported in "
                                 f"streaming downstream of keyed-state rules {rules}")
            if os.path.isdir(legacy):
                raise ValueError(
                    f"sink {name!r}: checkpoint {legacy!r} holds "
                    f"applyInPandasWithState state for {rules}, whose KV now "
                    "lives under kv/; start from a fresh checkpoint"
                )

        queries = []
        for name, df in self.sink_inputs.items():
            sink = self.spec.sinks[name]
            ckpt = os.path.join(checkpoint_root, name)
            if name in keyed:
                q = self._start_keyed(*keyed[name], name, ckpt, available_now)
            elif sink.type == "memory":
                q = ssinks.memory_sink(
                    df,
                    sink.options.get("name", name),
                    output_mode=sink.options.get("output_mode", "append"),
                    trigger_available_now=available_now,
                )
            elif sink.type in ("file", "json", "parquet", "console"):
                # Spark's own file sink (``_spark_metadata`` log) or console
                w = df.writeStream.format(
                    "json" if sink.type == "file" else sink.type
                ).option("checkpointLocation", ckpt)
                if sink.type != "console":
                    w = w.option("path", sink.options["path"])
                q = (w.trigger(availableNow=True) if available_now else w).start()
            else:
                q = ssinks.foreach_sink(
                    df, _batch_writer(df.sparkSession, sink), ckpt,
                    trigger_available_now=available_now,
                )
            queries.append(q)
        return queries

    def _start_keyed(
        self, sub: PipelineSpec, keyed: list[str], name: str, ckpt: str,
        available_now: bool,
    ):
        """The ``foreach_sink`` query of a sink behind keyed state."""
        from ..streaming import sinks as ssinks
        from ..streaming.kvlog import KVLog

        srcs = {s: self.node_frames[s] for s in sub.sources}
        stream = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [f.withColumn("_src", F.lit(s)) for s, f in srcs.items()],
        ) if len(srcs) > 1 else next(iter(srcs.values()))
        write = _batch_writer(stream.sparkSession, self.spec.sinks[name])

        def run_batch(batch: DataFrame, batch_id: int) -> None:
            if len(srcs) > 1:
                # split the tagged union back, reading the source once
                batch = batch.localCheckpoint()
                frames = {
                    s: batch.filter(F.col("_src") == s).select(*f.columns)
                    for s, f in srcs.items()
                }
            else:
                frames = {next(iter(srcs)): batch}
            kvs = {r: KVLog(os.path.join(ckpt, "kv", r), batch_id) for r in keyed}
            _compute_rule_frames(sub, frames, kvs)
            # the one job: window/aggregate over KV ∪ batch, patches observed
            write(_sink_inputs(sub, frames)[name].localCheckpoint(), batch_id)
            for kv in kvs.values():
                kv.commit()

        return ssinks.foreach_sink(
            stream, run_batch, ckpt, trigger_available_now=available_now
        )


#: Sink types a streaming pipeline supports.
_STREAM_SINK_TYPES = frozenset(
    {"file", "json", "json_idempotent", "parquet", "parquet_upsert",
     "console", "memory", "sqs"}
)


def resolve_tasks(spec: PipelineSpec) -> None:
    """Instantiate every rule's task up front (≡ NewPipeline loading every
    rule plugin BEFORE Store, `pipeline.go:276-322` — the reference never
    persists a pipeline whose plugins don't load). Raises ValidationError
    so API/CLI reject with 400/exit-1 instead of storing a broken spec."""
    from .spec import ValidationError

    for rule in spec.rules.values():
        try:
            get_task(rule.task, **rule.options)
        except (KeyError, TypeError) as e:
            raise ValidationError(f"rule {rule.name!r}: {e}") from e


def _upstream(spec: PipelineSpec, sink: str) -> PipelineSpec:
    """The part of ``spec`` that feeds ``sink``: the rules reaching it
    through rule sources and rule→rule sink edges, and their sources."""
    todo = [r.name for r in spec.rules.values() if r.sink == sink]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen or name not in spec.rules:
            continue
        seen.add(name)
        todo.append(spec.rules[name].source)
        todo += [r.name for r in spec.rules.values() if r.sink == name]
    rules = {n: r for n, r in spec.rules.items() if n in seen}
    srcs = {r.source for r in rules.values()}
    sources = {n: s for n, s in spec.sources.items() if n in srcs}
    return PipelineSpec(sources, rules, {sink: spec.sinks[sink]}, spec.states)


def _compute_rule_frames(
    spec: PipelineSpec, frames: dict[str, DataFrame], kv: dict | None = None
) -> dict[str, DataFrame]:
    """Resolve every rule's output DataFrame in dependency order.

    A rule's input is its source frame UNIONED with the outputs of all
    rules that name it as their *sink* — the reference wires both edge
    kinds into the DAG (`pipeline.go:318-322`: addEdge(rule, sink) where
    the sink may itself be a rule). ``frames`` must contain every source;
    it is mutated in place and returned.

    Doubly-declared edges deliver ONCE: if rule A declares ``source=B``
    AND rule B declares ``sink=A``, that is the SAME edge stated from both
    ends (validate() accepts it, spec.py). The reference's duplicate
    AddChild collapses into competing channel consumers delivering each
    event once (`pipeline.go:354-356`), so B is excluded from A's feeder
    union when it is already A's source.

    ``kv`` maps a keyed-state rule to the KV handle its ``init`` receives
    in place of the declared state (a streaming micro-batch's KV log)."""
    pending = dict(spec.rules)
    while pending:
        progressed = False
        for name, rule in list(pending.items()):
            feeders = [
                r.name
                for r in spec.rules.values()
                if r.sink == name and r.name != rule.source
            ]
            if rule.source in frames and all(f in frames for f in feeders):
                task = get_task(rule.task, **rule.options)
                task.init(
                    (kv or {}).get(name)
                    or (spec.states.get(rule.state) if rule.state else None)
                )
                inp = frames[rule.source]
                for f in feeders:
                    inp = inp.unionByName(frames[f])
                frames[name] = task.apply(inp)
                del pending[name]
                progressed = True
        if not progressed:  # pragma: no cover — validate() prevents this
            raise ValueError(f"unresolvable rules: {sorted(pending)}")
    return frames


def compile_pipeline(
    spark: SparkSession, spec: PipelineSpec, streaming: bool = False
) -> CompiledPipeline:
    frames: dict[str, DataFrame] = {}

    for name, src in spec.sources.items():
        frames[name] = make_source(spark, src, streaming=streaming)

    _compute_rule_frames(spec, frames)

    # Fan-out: persist any node consumed more than once (by child rules,
    # by a rule it feeds as sink, or by a sink write) so the upstream
    # isn't recomputed per consumer. Streaming DataFrames can't persist —
    # there start() runs one query per sink, each reading its sources.
    if not streaming:
        consumers: dict[str, int] = {}
        for rule in spec.rules.values():
            consumers[rule.source] = consumers.get(rule.source, 0) + 1
            if rule.sink is not None:
                consumers[rule.name] = consumers.get(rule.name, 0) + 1
        for node, n in consumers.items():
            if n > 1:
                frames[node] = frames[node].persist(StorageLevel.MEMORY_AND_DISK)

    return CompiledPipeline(
        spec=spec,
        node_frames=frames,
        sink_inputs=_sink_inputs(spec, frames),
        streaming=streaming,
    )


def _sink_inputs(
    spec: PipelineSpec, frames: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Fan-in: group rules by sink, union. (Rule→rule sinks were already
    delivered inside _compute_rule_frames.)"""
    sink_inputs: dict[str, DataFrame] = {}
    for rule in spec.rules.values():
        if rule.sink is None or rule.sink not in spec.sinks:
            continue
        df = frames[rule.name]
        if rule.sink in sink_inputs:
            sink_inputs[rule.sink] = sink_inputs[rule.sink].unionByName(df)
        else:
            sink_inputs[rule.sink] = df
    return sink_inputs
