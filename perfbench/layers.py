"""Per-layer metrics of the traced run: unit, the end-to-end metric each
should move, and the workload it moves it on. BENCHMARK.json's
``per_layer`` list is this table's name, unit and direction."""

STREAM, CRAWL, ALL = "stream_enrich", "crawl_maintenance", "all"
LAT = "latency_p50_s,latency_p99_s"

# name: (unit, better, moves, on)
LAYERS: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "session.warmup_s": ("s", "lower", "setup_s", ALL),
    "plans.parse_s": ("s", "lower", "setup_s", STREAM),
    "plans.compile_s": ("s", "lower", "setup_s", STREAM),
    "plans.start_s": ("s", "lower", "setup_s", STREAM),
    "streaming.batches": ("count", "higher", LAT, STREAM),
    "streaming.batch_ms_p50": ("ms", "lower", LAT, STREAM),
    "streaming.batch_ms_max": ("ms", "lower", LAT, STREAM),
    "streaming.exec_ms_p50": ("ms", "lower", LAT, STREAM),
    "streaming.plan_ms_p50": ("ms", "lower", LAT, STREAM),
    "streaming.offsets_ms_p50": ("ms", "lower", LAT, STREAM),
    "streaming.commit_ms_p50": ("ms", "lower", LAT, STREAM),
    "streaming.input_rows": ("count", "higher", LAT, STREAM),
    "streaming.idle_share": ("ratio", "higher", LAT, STREAM),
    "gen.lag_s": ("s", "lower", LAT, STREAM),
    "tasks.state_rows": ("count", "lower", "latency_p99_s,peak_rss_mb", STREAM),
    "tasks.state_bytes": ("bytes", "lower", "latency_p99_s,peak_rss_mb", STREAM),
    "tasks.state_commit_ms_p50": ("ms", "lower", "latency_p99_s,peak_rss_mb", STREAM),
    "tasks.state_rows_updated": ("count", "lower", "latency_p99_s,peak_rss_mb", STREAM),
    "store.bootstrap_s": ("s", "lower", "setup_s", CRAWL),
    "store.batch_s_p50": ("s", "lower", "latency_p50_s,wall_s", CRAWL),
    "store.batch_s_max": ("s", "lower", "latency_p50_s,wall_s", CRAWL),
    "store.jobs_per_batch": ("count", "lower", "latency_p50_s,wall_s", CRAWL),
    "store.sig_files": ("count", "lower", "latency_p50_s,wall_s", CRAWL),
    "store.sig_bytes": ("bytes", "lower", "latency_p50_s,wall_s", CRAWL),
    "store.label_bytes": ("bytes", "lower", "latency_p50_s,wall_s", CRAWL),
    "store.readback_s": ("s", "lower", "latency_p50_s,wall_s", CRAWL),
    "exec.jobs": ("count", "lower", "latency_p50_s", ALL),
    "exec.stages": ("count", "lower", "latency_p50_s", ALL),
    "exec.tasks": ("count", "lower", "latency_p50_s", ALL),
    "exec.single_task_stages": ("count", "lower", "latency_p50_s", ALL),
    "exec.shuffle_write_bytes": ("bytes", "lower", "latency_p50_s", ALL),
    "exec.shuffle_read_records": ("count", "lower", "latency_p50_s", ALL),
    "exec.spill_bytes": ("bytes", "lower", "latency_p50_s", ALL),
    "exec.gc_ms": ("ms", "lower", "latency_p50_s", ALL),
    "exec.busy_share": ("ratio", "higher", "latency_p50_s", ALL),
    "sources.input_bytes": ("bytes", "lower", "none (predicted flat)", ALL),
    "sources.input_files": ("count", "lower", "none (predicted flat)", ALL),
    "trace.overhead_share": ("ratio", "lower", "wall_s", ALL),
}
