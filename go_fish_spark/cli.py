"""CLI — the reference's three entry points (`main.go:11-34`):

  go-fish -pipelineConfig file.json   →  python -m go_fish_spark.cli run PIPE.json
  go-fish -checkRule rule.so          →  python -m go_fish_spark.cli check-task NAME
  go-fish -apiConfig api.json         →  (registry ops) store / get / list

``run`` parses + validates + compiles the pipeline, stores it in the
registry (≡ `startFromConfig`, `main.go:36-53`, which persists through the
BoltDB backend), executes every sink, and prints the pipeline UUID.
"""

from __future__ import annotations

import argparse
import json
import sys


def _registry(arg: str):
    """Registry selection ≡ the typed backend config (`backend.go:29-56`):
    a plain path = file backend (BoltDB analogue), ``sqlite://PATH`` =
    the sqlite table backend (DynamoDB analogue)."""
    from .plans.registry import make_registry

    if arg.startswith("sqlite://"):
        return make_registry({"type": "sqlite", "path": arg[len("sqlite://") :]})
    return make_registry({"type": "file", "root": arg})


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="go-fish-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="compile + execute a pipeline config")
    runp.add_argument("config", help="pipeline spec JSON file")
    runp.add_argument("--registry", default=".go_fish_registry")
    runp.add_argument("--master", default=None)
    runp.add_argument(
        "--streaming",
        action="store_true",
        help="run as Structured Streaming queries (the reference's native "
        "mode) instead of one batch pass",
    )
    runp.add_argument(
        "--checkpoint",
        default=".go_fish_checkpoints",
        help="checkpoint root for --streaming (state survives restarts, "
        "≡ the reference's BoltDB state files)",
    )
    runp.add_argument(
        "--available-now",
        action="store_true",
        help="with --streaming: process everything available, then stop "
        "(bounded drain instead of running forever)",
    )

    chk = sub.add_parser("check-task", help="validate a registered task (≡ -checkRule)")
    chk.add_argument("task", help="registered task name")

    get = sub.add_parser("get", help="fetch a stored pipeline config by UUID")
    get.add_argument("uuid")
    get.add_argument("--registry", default=".go_fish_registry")

    lst = sub.add_parser("list", help="list stored pipeline UUIDs")
    lst.add_argument("--registry", default=".go_fish_registry")

    pd = sub.add_parser(
        "plan-dedup",
        help="pre-flight dedup planning report over a parquet corpus: "
        "pair-join cost estimate (x103), Jaccard threshold sweep (x90), "
        "and the empirical LSH (bands × rows) plan sweep (x100)",
    )
    pd.add_argument("parquet", help="parquet file/dir with the corpus")
    pd.add_argument("--id-col", default="doc_id")
    pd.add_argument("--text-col", default="text")
    pd.add_argument("--min-jaccard", type=float, default=0.2)
    pd.add_argument("--dup-threshold", type=float, default=0.5)
    pd.add_argument("--band-width", type=float, default=0.05)
    pd.add_argument("--master", default=None)
    pd.add_argument(
        "--skip-sweeps",
        action="store_true",
        help="print only the (cheap) cost estimate — the sweeps pay for "
        "one real pair pass",
    )
    pd.add_argument(
        "--sample-frac",
        type=float,
        default=None,
        help="evaluate the LSH plan sweep on a deterministic md5-uniform "
        "pair sample (planning mode: recall/weak rates become unbiased "
        "estimates, counts scale by 1/frac, downstream cost is "
        "O(sample)); default: full pass",
    )

    cb = sub.add_parser(
        "choose-blocking",
        help="pick the cheapest blocking discipline (exact index / "
        "MinHash bands / winnowing / sorted-neighborhood) meeting a "
        "recall contract within a candidate-pair budget — every "
        "discipline priced from its key histogram, no pair join runs",
    )
    cb.add_argument("parquet", help="parquet file/dir with the corpus")
    cb.add_argument("--id-col", default="doc_id")
    cb.add_argument("--text-col", default="text")
    cb.add_argument("--min-recall", type=float, required=True)
    cb.add_argument("--pair-budget", type=int, required=True)
    cb.add_argument("--threshold", type=float, default=0.5)
    cb.add_argument("--master", default=None)
    cb.add_argument(
        "--measured-recall",
        default=None,
        help="JSON object feeding corpus-measured recalls for the "
        "guarantee-class disciplines, e.g. "
        '\'{"sorted_neighborhood": 0.93}\' (measured by the x100 '
        'sweep; see SCALE.md "Round-9 part 1")',
    )
    cb.add_argument(
        "--run",
        action="store_true",
        help="execute the chosen discipline under the ENFORCED budget "
        "(run_blocking: an in-plan guard aborts if the realized "
        "candidate count exceeds the estimate x --slack — the priced "
        "contract made binding); prints the verified pair count",
    )
    cb.add_argument(
        "--slack",
        type=float,
        default=1.5,
        help="allowed realized/estimated candidate-count ratio before "
        "the --run guard aborts (default 1.5)",
    )
    cb.add_argument(
        "--measure",
        action="store_true",
        help="let the planner run its own recall instrument (one "
        "sampled exact-pair job) for the guarantee-class disciplines "
        "when no --measured-recall is supplied",
    )

    ca = sub.add_parser(
        "choose-ann",
        help="pick the ANN discipline (brute force / LSH buckets / IVF "
        "probing / IVF-PQ ADC) for a query batch under a recall "
        "contract and a search-FLOP budget — highest recall within "
        "budget; costs priced from corpus statistics, no search runs",
    )
    ca.add_argument("parquet", help="parquet file/dir with the corpus")
    ca.add_argument(
        "--queries-parquet", default=None,
        help="parquet with the query vectors (default: the corpus "
        "rows selected by --query-limit)",
    )
    ca.add_argument("--id-col", default="vec_id")
    ca.add_argument("--vec-col", default="embedding")
    ca.add_argument("--dim", type=int, required=True)
    ca.add_argument("--min-recall", type=float, required=True)
    ca.add_argument("--flop-budget", type=int, required=True)
    ca.add_argument("--k", type=int, default=10)
    ca.add_argument("--query-limit", type=int, default=20)
    ca.add_argument("--master", default=None)
    ca.add_argument(
        "--measured-recall", default=None,
        help='JSON recalls for the approximate disciplines, e.g. '
        '\'{"ivf_probe": 0.9}\' (the x79 audit is the instrument)',
    )
    ca.add_argument(
        "--measure", action="store_true",
        help="let the planner run its own recall instrument (brute "
        "ground truth over a deterministic query sample) when the "
        "analytic disciplines bust the budget",
    )
    ca.add_argument(
        "--run", action="store_true",
        help="execute the chosen discipline under the ENFORCED budget "
        "(run_ann: an in-plan guard aborts if the realized candidate "
        "count exceeds the estimate x --slack); prints the top-k "
        "row count",
    )
    ca.add_argument("--slack", type=float, default=1.5)

    pc = sub.add_parser(
        "profile-corpus",
        help="one-call release data card over a parquet corpus: totals "
        "+ per-source mix/code-rate (x55/x133), Zipf fit (x129), "
        "distinct-n diversity (x132), and the Hill length-tail index "
        "(x134) as one JSON document",
    )
    pc.add_argument("parquet", help="parquet file/dir with the corpus")
    pc.add_argument("--id-col", default="doc_id")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--source-col", default="source")
    pc.add_argument("--zipf-top-n", type=int, default=200)
    pc.add_argument("--hill-k", type=int, default=50)
    pc.add_argument("--master", default=None)
    pc.add_argument(
        "--out", default=None,
        help="write the JSON here instead of stdout",
    )

    ls = sub.add_parser(
        "label-store",
        help="operate the durable sharded dedup-label store "
        "(streaming/labelstore): read the latest-wins table, look up "
        "one id (partition-pruned), or compact the append history",
    )
    ls.add_argument("store", help="label store directory (sharded parquet)")
    ls.add_argument(
        "action", choices=["read", "lookup", "compact"],
        help="read = print row count + sample; lookup = one id's label; "
        "compact = fold history to one row per id",
    )
    ls.add_argument("--id", default=None, help="id for lookup")
    ls.add_argument("--n-shards", type=int, default=64)
    ls.add_argument(
        "--committed", action="store_true",
        help="for `read`: treat the given path as a maintenance-stream "
        "STORE DIRECTORY and serve only the atomically-published "
        "(sig, label) version via read_committed_store — never the "
        "inter-append window",
    )
    ls.add_argument("--master", default=None)

    sp = sub.add_parser(
        "store-plan",
        help="price a store's compaction from its file census alone "
        "(no Spark session, no data scan): per-shard/per-cell live "
        "file counts, read amplification, and the selective fold set "
        "(shards_to_fold / cells_to_fold + fold_scope)",
    )
    sp.add_argument(
        "kind", choices=["label", "ann", "shards"],
        help="label = labelstore.compaction_plan; ann = "
        "annstore.ann_compaction_plan; shards = "
        "sharding.shard_compaction_plan",
    )
    sp.add_argument("path", help="store path (labels dir / ann store dir "
                                 "/ sharded corpus dir)")
    sp.add_argument("--file-cutoff", type=float, default=4.0)
    sp.add_argument("--min-files", type=int, default=8)

    args = p.parse_args(argv)

    if args.cmd == "store-plan":
        import json as _json

        if args.kind == "label":
            from .streaming.labelstore import compaction_plan

            plan = compaction_plan(
                args.path, file_cutoff=args.file_cutoff,
                min_patch_files=args.min_files,
            )
        elif args.kind == "ann":
            from .streaming.annstore import ann_compaction_plan

            plan = ann_compaction_plan(
                args.path, file_cutoff=args.file_cutoff,
                min_files=args.min_files,
            )
        else:
            from .sources.sharding import shard_compaction_plan

            plan = shard_compaction_plan(
                args.path, file_cutoff=args.file_cutoff,
                min_files=args.min_files,
            )
        print(_json.dumps(plan))
        return 0 if plan["action"] == "skip" else 3  # 3 = fold advised

    if args.cmd == "label-store":
        import json as _json

        from .session import get_spark
        from .streaming import labelstore as _ls

        spark = get_spark(
            app_name="go-fish-label-store", master=args.master
        )
        try:
            if args.action == "read":
                if args.committed:
                    view = _ls.read_committed_store(spark, args.store)
                    df = view["labels"]
                    if df is None:
                        print(_json.dumps(
                            {"rows": 0, "committed_batch": None}
                        ))
                        return 1
                    n = df.count()
                    print(_json.dumps({
                        "rows": n,
                        "committed_batch": view["committed_batch"],
                        "sig_rows": view["sigs"].count()
                        if view["sigs"] is not None else 0,
                    }))
                    return 0
                df = _ls.read_label_store(spark, args.store)
                if df is None:
                    print(_json.dumps({"rows": 0}))
                    return 1
                n = df.count()
                sample = [
                    {"id": r["id"], "component": r["component"]}
                    for r in df.orderBy("id").limit(5).collect()
                ]
                print(_json.dumps({"rows": n, "head": sample}))
            elif args.action == "lookup":
                if args.id is None:
                    print("lookup requires --id", file=sys.stderr)
                    return 2
                rows = _ls.read_label_shard(
                    spark, args.store, int(args.id), args.n_shards
                ).collect()
                print(
                    _json.dumps(
                        {"id": int(args.id),
                         "component": rows[0]["component"] if rows else None}
                    )
                )
                return 0 if rows else 1
            else:
                n = _ls.compact_label_store(
                    spark, args.store, args.n_shards
                )
                print(_json.dumps({"compacted_rows": n}))
        finally:
            spark.stop()
        return 0

    if args.cmd == "check-task":
        from .tasks import check_task, get_task

        try:
            task = get_task(args.task)
            check_task(task)
        except (KeyError, TypeError) as e:
            print(f"FAIL: {e}", file=sys.stderr)
            return 1
        print(f"OK: {args.task} satisfies the Task protocol")
        return 0

    if args.cmd == "get":
        cfg = _registry(args.registry).get(args.uuid)
        if cfg is None:
            print(f"not found: {args.uuid}", file=sys.stderr)
            return 1  # ≡ the API's 404 (`api.go:95-98`)
        print(cfg)
        return 0

    if args.cmd == "list":
        for uid in _registry(args.registry).list():
            print(uid)
        return 0

    if args.cmd == "plan-dedup":
        from .operators.dedup import (
            jaccard_threshold_sweep,
            lsh_plan_sweep,
            pair_budget_estimate,
        )
        from .session import get_spark

        spark = get_spark(app_name="go-fish-plan-dedup", master=args.master)
        try:
            df = spark.read.parquet(args.parquet)
            print("# pair-budget estimate (x103): the exact co-occurrence")
            print("# row count the inverted-index join would produce")
            pair_budget_estimate(
                df, args.id_col, args.text_col
            ).show(50, truncate=False)
            if not args.skip_sweeps:
                print("# threshold sweep (x90): near-dup pairs per band —")
                print("# put the bar in the gap")
                jaccard_threshold_sweep(
                    df, args.id_col, args.text_col,
                    band_width=args.band_width,
                    min_jaccard=args.min_jaccard,
                ).show(50, truncate=False)
                print("# LSH plan sweep (x100): measured recall per")
                print("# (bands × rows) at the 64-hash budget")
                if args.sample_frac is not None:
                    print(f"# (sampled mode: pair sample_frac="
                          f"{args.sample_frac} — counts scale by 1/frac)")
                lsh_plan_sweep(
                    df, args.id_col, args.text_col,
                    min_jaccard=args.min_jaccard,
                    dup_threshold=args.dup_threshold,
                    sample_frac=args.sample_frac,
                ).show(truncate=False)
        finally:
            spark.stop()
        return 0

    if args.cmd == "choose-blocking":
        import json as _json

        from .operators.dedup import choose_blocking
        from .session import get_spark

        spark = get_spark(
            app_name="go-fish-choose-blocking", master=args.master
        )
        try:
            df = spark.read.parquet(args.parquet)
            plan = choose_blocking(
                df, args.id_col, args.text_col,
                min_recall=args.min_recall,
                pair_budget=args.pair_budget,
                threshold=args.threshold,
                measured_recall=(
                    _json.loads(args.measured_recall)
                    if args.measured_recall else None
                ),
                measure=args.measure,
            )
            print(_json.dumps(plan, indent=2))
            if args.run and plan["action"] == "proceed":
                from .operators.dedup import run_blocking

                n = run_blocking(
                    df, args.id_col, args.text_col, plan,
                    slack=args.slack,
                ).count()
                print(_json.dumps({"ran": plan["chosen"], "pairs": n}))
        finally:
            spark.stop()
        return 0 if plan["action"] == "proceed" else 1

    if args.cmd == "choose-ann":
        import json as _json

        from .operators.similarity import choose_ann, run_ann
        from .session import get_spark

        spark = get_spark(app_name="go-fish-choose-ann", master=args.master)
        try:
            df = spark.read.parquet(args.parquet)
            if args.queries_parquet:
                q = spark.read.parquet(args.queries_parquet)
            else:
                q = df.limit(args.query_limit)
            plan = choose_ann(
                df, q, args.dim,
                min_recall=args.min_recall,
                flop_budget=args.flop_budget,
                id_col=args.id_col, vec_col=args.vec_col, k=args.k,
                measured_recall=(
                    _json.loads(args.measured_recall)
                    if args.measured_recall else None
                ),
                measure=args.measure,
            )
            print(_json.dumps(plan, indent=2))
            if args.run and plan["action"] == "proceed":
                n = run_ann(
                    df, q, plan,
                    id_col=args.id_col, vec_col=args.vec_col,
                    slack=args.slack,
                ).count()
                print(_json.dumps({"ran": plan["chosen"], "topk_rows": n}))
        finally:
            spark.stop()
        return 0 if plan["action"] == "proceed" else 1

    if args.cmd == "profile-corpus":
        import json as _json

        from .operators.profile import corpus_profile_report
        from .session import get_spark

        spark = get_spark(
            app_name="go-fish-profile-corpus", master=args.master
        )
        try:
            report = corpus_profile_report(
                spark.read.parquet(args.parquet),
                id_col=args.id_col,
                text_col=args.text_col,
                source_col=args.source_col,
                zipf_top_n=args.zipf_top_n,
                hill_k=args.hill_k,
            )
            payload = _json.dumps(report, indent=2)
            if args.out:
                with open(args.out, "w") as f:
                    f.write(payload + "\n")
            else:
                print(payload)
        finally:
            spark.stop()
        return 0

    # run
    from .plans import ValidationError, compile_pipeline, parse_spec, resolve_tasks
    from .session import get_spark

    with open(args.config) as f:
        raw = f.read()
    try:
        # validate spec AND load every task before persisting, like
        # NewPipeline loads every plugin before Store
        spec = parse_spec(raw)
        resolve_tasks(spec)
    except (ValidationError, json.JSONDecodeError) as e:
        print(f"invalid pipeline config: {e}", file=sys.stderr)
        return 1
    uid = _registry(args.registry).store(raw)
    spark = get_spark(app_name=f"go-fish-pipeline-{uid}", master=args.master)
    try:
        if args.streaming:
            compiled = compile_pipeline(spark, spec, streaming=True)
            queries = compiled.start(
                args.checkpoint, available_now=args.available_now
            )
            for q in queries:
                q.awaitTermination()
        else:
            compile_pipeline(spark, spec).run()
    finally:
        spark.stop()
    print(uid)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
