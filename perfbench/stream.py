"""stream_enrich: go-fish's own job, open loop.

One generator thread drops JSON files of CloudTrail-shaped events into a
watched directory on a fixed schedule (``RATE`` events/s in ``TICK_S``
files), whatever the engine does. The pipeline is a single-sink spec, json
source → ``s2s_enrich`` (KV state through ``run_stateful``) → json sink,
compiled with ``compile_pipeline(..., streaming=True)`` and started with
``CompiledPipeline.start``.

An event's latency runs from its creation time (the tick it was due) to
the commit of the sink batch that holds it: the modification time of the
file sink's ``_spark_metadata`` log entry for that batch.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime

from common import Run, median, metric, quantile, start_session
from gen import TrailGenerator

RATE = 200  # events per second, offered
TICK_S = 0.25  # one file per tick
WARM_EVENTS = 200
DRAIN_TIMEOUT_S = 90.0

SCHEMA = ("event_id long, ts timestamp, role_id string, event_name string, "
          "principal string, mfa string, created double")


def pipeline_spec(in_dir: str, out_dir: str) -> dict:
    """The stream's spec: the s2s rule of examples/cloudtrail_s2s_pipeline.json
    with a single sink (see README: the fan-out path loses KV state)."""
    return {
        "sources": {"trail": {"type": "json",
                              "options": {"path": in_dir, "schema": SCHEMA}}},
        "rules": {"enrich": {
            "source": "trail", "task": "s2s_enrich", "sink": "enriched",
            "state": "kv",
            "options": {"key": "role_id", "time": "ts", "tiebreak": "event_id",
                        "write_when": "event_name = 'AssumeRole'",
                        "write_value": "concat('user/', principal)",
                        "fallback": "role_id", "alias": "entity"}}},
        "sinks": {"enriched": {"type": "json", "options": {"path": out_dir}}},
        "states": {"kv": {"type": "KV"}},
    }


class Dropper:
    """Atomic file delivery: write under a staging name, rename into the
    watched directory."""

    def __init__(self, run: Run):
        self.stage, self.watched = run.path("stage"), run.path("in")
        os.makedirs(self.stage)
        os.makedirs(self.watched)
        self.n = 0

    def drop(self, events: list[dict]) -> None:
        name = f"{self.n:06d}.json"
        self.n += 1
        tmp = os.path.join(self.stage, name)
        with open(tmp, "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
        os.replace(tmp, os.path.join(self.watched, name))


def _progress(q) -> list[dict]:
    """Progress records of batches that ran (idle heartbeats dropped)."""
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


def _wait_rows(q, n: int, timeout: float) -> bool:
    """Poll until the query has committed at least ``n`` input rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if sum(p["numInputRows"] for p in _progress(q)) >= n:
            return True
        time.sleep(0.1)
    return False


def _open_loop(gen: TrailGenerator, dropper: Dropper, seconds: int,
               lags: list[float]) -> tuple[float, int]:
    """Drop ``RATE * TICK_S`` events every tick for ``seconds``; returns
    (first due time, events generated). Lateness per tick goes to ``lags``."""
    per_tick = int(RATE * TICK_S)
    ticks = int(seconds / TICK_S)
    t0 = time.time() + 0.2
    for k in range(ticks):
        due = t0 + k * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        dropper.drop(gen.events(per_tick, created=due))
        lags.append(time.time() - due)
    return t0, ticks * per_tick


def _commit_times(out_dir: str) -> dict[str, float]:
    """Sink data file name → commit time of the batch that first lists it."""
    logs = glob.glob(os.path.join(out_dir, "_spark_metadata", "*"))
    logs = [p for p in logs if os.path.basename(p).split(".")[0].isdigit()]
    logs.sort(key=lambda p: int(os.path.basename(p).split(".")[0]))
    commit: dict[str, float] = {}
    for p in logs:
        t = os.path.getmtime(p)
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                name = os.path.basename(json.loads(line)["path"])
                commit.setdefault(name, t)
    return commit


def verify(out_dir: str, expected: dict[int, str]) -> tuple[int, list[float], float]:
    """(failed events, latencies, last commit time). An event fails when it
    is missing from the sink, emitted twice, or carries another entity than
    the reference."""
    commit = _commit_times(out_dir)
    seen: dict[int, int] = {}
    failed, latencies, last = 0, [], 0.0
    for name, t in commit.items():
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                eid = e["event_id"]
                if eid not in expected:
                    continue
                seen[eid] = seen.get(eid, 0) + 1
                if e["entity"] != expected[eid] or seen[eid] > 1:
                    failed += 1
                else:
                    latencies.append(t - e["created"])
                    last = max(last, t)
    failed += sum(1 for eid in expected if eid not in seen)
    return failed, latencies, last


def run_stream(run: Run) -> dict:
    from go_fish_spark.plans import compile_pipeline, parse_spec

    tr = run.tracer
    out_dir = run.path("out")
    dropper = Dropper(run)
    t_setup = time.perf_counter()
    spark = start_session(run)
    with tr.span("plans.parse"):
        spec = parse_spec(json.dumps(pipeline_spec(dropper.watched, out_dir)))
    with tr.span("plans.compile"):
        compiled = compile_pipeline(spark, spec, streaming=True)
    with tr.span("plans.start"):
        [q] = compiled.start(run.path("ckpt"))
    with tr.span("session.warmup"):
        warm = TrailGenerator(run.seed + 1, role_prefix="warm", first_id=10**9)
        dropper.drop(warm.events(WARM_EVENTS, created=time.time()))
        if not _wait_rows(q, WARM_EVENTS, DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up batch never committed")
    setup_s = time.perf_counter() - t_setup

    gen = TrailGenerator(run.seed)
    lags: list[float] = []
    with tr.span("measure"):
        t0, n = _open_loop(gen, dropper, run.seconds, lags)
        with tr.span("drain"):
            drained = _wait_rows(q, WARM_EVENTS + n, DRAIN_TIMEOUT_S)
    progress = _progress(q)
    q.stop()

    failed, lat, last = verify(out_dir, gen.expected)
    if not drained or not lat:
        failed = max(failed, 1)
    wall_s = max(last - t0, 0.0)
    return {
        "attempted": n,
        "failed": failed,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "wall_s": metric(wall_s, "s"),
            "latency_p50_s": metric(median(lat) if lat else 0.0, "s"),
            "latency_p99_s": metric(quantile(lat, 0.99) if lat else 0.0, "s"),
        },
        "layers": lambda log: stream_layers(progress, tr, lags),
    }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_layers(progress: list[dict], tr, lags: list[float]) -> dict:
    """streaming.*, tasks.* and gen.* over the batches that started while
    the generator ran or the stream drained."""
    [m] = [s for s in tr.spans if s["name"] == "measure"]
    batches = [p for p in progress if _epoch(p["timestamp"]) >= m["start"]]
    dur = [p["durationMs"] for p in batches] or [{}]
    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")] or [{}]

    def p50(*keys):
        return median([sum(d.get(k, 0) for k in keys) for d in dur])

    busy_ms = sum(d.get("triggerExecution", 0) for d in dur)
    return {
        "streaming.batches": len(batches),
        "streaming.batch_ms_p50": p50("triggerExecution"),
        "streaming.batch_ms_max": max(d.get("triggerExecution", 0) for d in dur),
        "streaming.exec_ms_p50": p50("addBatch"),
        "streaming.plan_ms_p50": p50("queryPlanning"),
        "streaming.offsets_ms_p50": p50("latestOffset", "getBatch"),
        "streaming.commit_ms_p50": p50("walCommit", "commitOffsets"),
        "streaming.input_rows": sum(p["numInputRows"] for p in batches),
        "streaming.idle_share": 1 - busy_ms / 1000 / (m["end"] - m["start"]),
        "gen.lag_s": max(lags, default=0.0),
        "tasks.state_rows": state[-1].get("numRowsTotal", 0),
        "tasks.state_bytes": state[-1].get("memoryUsedBytes", 0),
        "tasks.state_commit_ms_p50": median([s.get("commitTimeMs", 0) for s in state]),
        "tasks.state_rows_updated": sum(s.get("numRowsUpdated", 0) for s in state),
    }
