"""Run plumbing shared by the workloads: the work directory, the Spark
session, spans, the process-tree RSS sampler and small statistics."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CORES = 4
DRIVER_MEM = "1g"


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory and written out
    once, when the run ends. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants:
    pages shared between forked Python workers count once."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling the peak memory of this process tree (the
    Spark JVM and its Python workers included), as summed PSS."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


@dataclass
class Run:
    """One benchmark run: its arguments, work directory and tracer."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str
    tracer: Tracer = field(init=False)
    spark: object = None

    def __post_init__(self):
        self.tracer = Tracer(self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    @property
    def event_log_dir(self) -> str:
        return self.path("events")


def prepare_environment(run: Run) -> None:
    """Confine Spark and its Python workers to the run's directory, keep
    their log and warning output off stdout's metrics line, and turn the
    event log on for a traced run. Must run before pyspark starts a JVM."""
    shutil.rmtree(run.root, ignore_errors=True)
    for d in ("conf", "tmp", "local", "events", "warehouse"):
        os.makedirs(run.path(d))
    tmp = run.path("tmp")
    conf = {
        "spark.local.dir": run.path("local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.eventLog.enabled": str(run.trace).lower(),
        "spark.eventLog.dir": "file://" + run.event_log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with open(run.path("conf", "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    with open(run.path("conf", "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d %p %c{1}: %m%n\n")
    os.environ.update({
        "SPARK_CONF_DIR": run.path("conf"),
        "SPARK_LOCAL_DIRS": run.path("local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # pyspark's serializer warns on every stateful micro-batch
        "PYTHONWARNINGS": "ignore",
    })


def start_session(run: Run):
    """The engine's own session factory (session.get_spark)."""
    from go_fish_spark.session import get_spark

    with run.tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{run.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM that pyspark launched for it, and
    wait for the JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def release_caches(spark) -> None:
    """Drop every session cache the engine keeps, so the next timed call
    pays first-touch cost."""
    from go_fish_spark.operators.dedup import release_caches as release_dedup
    from go_fish_spark.queries.extensions._shared import release_session_caches

    release_session_caches()
    release_dedup()
    spark.catalog.clearCache()


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
