"""CLI regression tests (≡ main.go dispatch) — the non-Spark subcommands
in-process; the `run` path is covered end-to-end by examples/ + manual
drives (it owns its own SparkSession, so it isn't run under the shared
test session)."""

from __future__ import annotations

import json

import pytest

from go_fish_spark.cli import main


def test_check_task_ok(capsys):
    assert main(["check-task", "filter_eq"]) == 0
    assert "satisfies the Task protocol" in capsys.readouterr().out


def test_check_task_unknown(capsys):
    assert main(["check-task", "bogus"]) == 1
    assert "unknown task" in capsys.readouterr().err


def test_registry_get_and_list(tmp_path, capsys):
    from go_fish_spark.plans.registry import PipelineRegistry

    reg = str(tmp_path / "reg")
    uid = PipelineRegistry(reg).store('{"sources": {}, "rules": {}, "sinks": {}, "states": {}}')
    assert main(["get", uid, "--registry", reg]) == 0
    assert json.loads(capsys.readouterr().out) == {
        "sources": {}, "rules": {}, "sinks": {}, "states": {}
    }
    assert main(["list", "--registry", reg]) == 0
    assert uid in capsys.readouterr().out
    assert main(["get", "missing", "--registry", reg]) == 1


def test_run_rejects_invalid_config(tmp_path, capsys):
    bad = tmp_path / "bad.json"
    bad.write_text('{"sources": {}, "rules": {"r": {"source": "ghost", "task": "t"}}, "sinks": {}, "states": {}}')
    assert main(["run", str(bad), "--registry", str(tmp_path / "reg")]) == 1
    assert "invalid pipeline config" in capsys.readouterr().err


def test_cli_sqlite_registry_backend(tmp_path, capsys):
    """sqlite:// registry URIs route through the second backend
    (≡ selecting the DynamoDB backend via config, backend.go:29-56)."""
    from go_fish_spark.cli import main
    from go_fish_spark.plans.registry import SQLiteRegistry

    db = str(tmp_path / "reg.db")
    uid = SQLiteRegistry(db).store('{"sources":{},"rules":{},"sinks":{},"states":{}}')
    assert main(["list", "--registry", f"sqlite://{db}"]) == 0
    assert capsys.readouterr().out.strip() == uid
    assert main(["get", uid, "--registry", f"sqlite://{db}"]) == 0
    assert "sources" in capsys.readouterr().out
    assert main(["get", "nope", "--registry", f"sqlite://{db}"]) == 1


def test_sql_udtf_chunk_text_matches_column_operator(spark):
    """The SQL-callable chunk_text UDTF (pluggability surface, SURVEY
    §2.8's UDTF arm) must produce EXACTLY the rows of the Column-based
    chunk_documents fast path — the convenience form can't drift."""
    from conftest import SF_SMALL

    from go_fish_spark.catalog import table
    from go_fish_spark.operators.chunking import chunk_documents
    from go_fish_spark.tasks.sql_udtf import has_udtf, register_sql_udtfs

    if not has_udtf():
        import pytest

        pytest.skip("UDTF not available on this runtime")

    assert "chunk_text" in register_sql_udtfs(spark)
    docs = table(spark, SF_SMALL, "documents").limit(50)
    docs.createOrReplaceTempView("_udtf_docs")
    via_sql = sorted(
        tuple(r)
        for r in spark.sql(
            """
            SELECT d.doc_id, c.chunk_id, c.n_tokens, c.chunk
            FROM _udtf_docs d, LATERAL chunk_text(d.text, 64, 48) c
            """
        ).collect()
    )
    via_op = sorted(
        tuple(r)
        for r in chunk_documents(docs, "doc_id", "text", 64, 48).collect()
    )
    assert via_sql == via_op and via_sql


@pytest.mark.parametrize("sink_type", ["json", "parquet_upsert"])
def test_cli_run_streaming_available_now(tmp_path, sink_type):
    """End-to-end drive of `run --streaming --available-now` in a real
    subprocess (the run path owns its SparkSession): a JSON-source →
    gate → sink spec drains everything available as Structured
    Streaming queries with a checkpoint, then exits 0 and prints the
    stored pipeline UUID — for Spark's native file sink and for a
    foreachBatch sink alike."""
    import os
    import subprocess
    import sys

    indir = tmp_path / "in"
    indir.mkdir()
    outdir = tmp_path / "out"
    rows = [
        dict(doc_id=1, text="keep me", n=1),
        dict(doc_id=2, text=None, n=2),
    ]
    (indir / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    spec = {
        "sources": {"docs": {"type": "json", "options": {
            "path": str(indir), "schema": "doc_id long, text string, n long"}}},
        "rules": {"keep": {"task": "filter_length", "source": "docs",
                           "sink": "out", "options": {
            "column": "text", "max_length": 100}}},
        "sinks": {"out": {"type": sink_type, "options": {
            "path": str(outdir), "keys": ["doc_id"]}}},
        "states": {},
    }
    cfg = tmp_path / "pipe.json"
    cfg.write_text(json.dumps(spec))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "run", str(cfg),
         "--streaming", "--available-now",
         "--checkpoint", str(tmp_path / "ckpt"),
         "--registry", str(tmp_path / "reg"),
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    uid = proc.stdout.strip().splitlines()[-1]
    assert len(uid) >= 8  # the stored pipeline UUID, as `run` prints
    if sink_type == "json":
        out_rows = [
            json.loads(line)
            for f in outdir.glob("*.json") if f.stat().st_size
            for line in f.read_text().splitlines()
        ]
    else:
        import pandas as pd

        out_rows = pd.read_parquet(outdir).to_dict("records")
    assert [r["doc_id"] for r in out_rows] == [1]


def test_cli_plan_dedup_report(tmp_path, spark):
    """plan-dedup prints the three planning tables over an arbitrary
    parquet corpus in one subprocess run (pair budget always; sweeps
    unless --skip-sweeps)."""
    import os
    import subprocess
    import sys

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "other words entirely distinct here today")],
        "doc_id long, text string",
    )
    corpus = str(tmp_path / "corpus.parquet")
    df.write.mode("overwrite").parquet(corpus)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "go_fish_spark.cli", "plan-dedup", corpus,
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "pair-budget estimate" in proc.stdout
    assert "threshold sweep" in proc.stdout
    assert "LSH plan sweep" in proc.stdout
    assert "df_bucket_lo" in proc.stdout
    assert "s_threshold" in proc.stdout
