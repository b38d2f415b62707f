"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload stream_enrich --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, drives the engine through
its public functions, checks every output against an independent
reference, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of
``layers.py`` (spans around each call into a layer, plus Spark's event log
and streaming progress), preceded by a line mapping each to the
end-to-end metric and workload it should move. The exit code is 1 when
any output is wrong. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from common import (  # noqa: E402
    CORES, RssSampler, Run, metric, prepare_environment, stop_session)
from layers import LAYERS  # noqa: E402

WORKLOADS = ("stream_enrich", "crawl_maintenance")


def _untraced_wall(args) -> float:
    """wall_s of an untraced run with the same arguments, in a child
    process, for ``trace.overhead_share``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True,
                         timeout=170).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Only the result line goes to stdout: the JVM, the Python workers and
    # every library inherit stderr in stdout's place.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        import go_fish_spark  # noqa: F401
    except ImportError as e:
        print(f"engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    base_wall = _untraced_wall(args) if args.trace else None
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              os.path.join(WORK, f"{args.workload}-{os.getpid()}"))
    prepare_environment(run)
    import crawl
    import stream

    body = {"stream_enrich": stream.run_stream,
            "crawl_maintenance": crawl.run_crawl}[args.workload]
    try:
        with RssSampler() as rss:
            try:
                res = body(run)
            finally:
                if run.spark is not None:
                    stop_session(run.spark)
        if args.trace:
            metrics = layer_metrics(run, res, base_wall)
            run.tracer.write(os.path.join(WORK, f"spans-{args.workload}.json"))
        else:
            metrics = res["metrics"] | {"peak_rss_mb": metric(rss.peak_mb, "MB")}
    finally:
        shutil.rmtree(run.root, ignore_errors=True)

    correct = res["failed"] == 0
    if args.trace:
        tags = {k: {"moves": LAYERS[k][2], "on": LAYERS[k][3]} for k in metrics}
        print(json.dumps({"layer_map": tags}), file=result_out)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}),
          file=result_out, flush=True)
    return 0 if correct else 1


def layer_metrics(run: Run, res: dict, base_wall: float) -> dict:
    """Every metric of ``LAYERS``; those a workload has no layer for read 0."""
    import eventlog

    values = dict.fromkeys(LAYERS, 0.0)
    tr = run.tracer
    for name in ("session.start", "session.warmup", "plans.parse",
                 "plans.compile", "plans.start"):
        values[name + "_s"] = sum(tr.durations(name))
    [measure] = [s for s in tr.spans if s["name"] == "measure"]
    log = eventlog.read(run.event_log_dir)
    values |= eventlog.window(log, measure["start"], measure["end"], CORES)
    values |= res["layers"](log)
    values["trace.overhead_share"] = (
        res["metrics"]["wall_s"]["value"] / base_wall - 1)
    return {k: metric(v, LAYERS[k][0]) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
