"""Checkpoint/lineage pipeline runner (plans/runner.py).

Reference analog under test: resume-from-checkpoint semantics of
pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45 —
a restart must not redo committed work, and must redo it when the
input changes (offset invalidation ↔ fingerprint mismatch).
"""

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.flagship import (
    flagship_stages,
    run_flagship,
)
from opentelemetry_collector_contrib_spark.plans.runner import (
    PipelineRunner,
    Stage,
    source_fingerprint,
)


def read_back_lineage(spark, path):
    """Per-file row counts of a parquet directory, computed by Spark."""
    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .count()
        .collect()
    )
    return sorted(
        ({"file": os.path.basename(r["file"]), "rows": r["count"]} for r in rows),
        key=lambda p: p["file"],
    )


def test_runner_resume_and_lineage(spark, sf_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    stages, fps = flagship_stages(sf_dir)

    r1 = PipelineRunner(spark, ckpt)
    out1 = r1.run(stages, fps)
    assert r1.computed == [s.name for s in stages]
    assert r1.skipped == []

    # every stage has a committed state record with lineage
    m = {row["stage"]: row for row in r1.metrics_table().collect()}
    assert set(m) == {s.name for s in stages}
    for row in m.values():
        assert row["status"] == "committed"
        assert row["n_files"] >= 1

    # rows_out in state == actual checkpoint row count
    enr_rows = out1["enriched"].count()
    assert m["enriched"]["rows_out"] == enr_rows

    # footer lineage == per-file counts of a read-back over the checkpoint
    for s in stages:
        with open(os.path.join(ckpt, "_pipeline_state", f"{s.name}.json")) as f:
            rec = json.load(f)
        assert rec["partitions"] == read_back_lineage(
            spark, os.path.join(ckpt, s.name)), s.name

    # resume: second run computes nothing
    r2 = PipelineRunner(spark, ckpt)
    out2 = r2.run(stages, fps)
    assert r2.computed == []
    assert set(r2.skipped) == {s.name for s in stages}
    assert out2["metrics_counts"].count() == out1["metrics_counts"].count()

    # every checkpointed output matches a direct (uncheckpointed) run,
    # order-insensitive (rows sorted by repr: columns hold NULLs)
    def rows(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()), key=repr)

    direct = run_flagship(spark, sf_dir)
    assert set(direct) == set(out2)
    for name, df in direct.items():
        assert rows(out2[name], df.columns) == rows(df, df.columns), name


def test_run_pipeline_cli_resumes(spark, sf_dir, tmp_path, capsys):
    """jobs/run_pipeline.py twice with one checkpoint dir: the second run
    resumes every stage from its checkpoint and computes none."""
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs", "run_pipeline.py",
    )
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    argv = ["--input", sf_dir, "--checkpoint-dir", str(tmp_path / "ckpt")]
    names = [s.name for s in flagship_stages(sf_dir)[0]]

    assert job.main(argv) == 0
    assert f"computed: {names}" in capsys.readouterr().out
    assert job.main(argv) == 0
    out = capsys.readouterr().out
    assert "computed: []" in out
    assert f"skipped (resumed from checkpoint): {names}" in out


def test_runner_recomputes_on_input_change(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    src = tmp_path / "src"
    src.mkdir()
    data = src / "t.txt"
    data.write_text("v1\n")

    def s_read(sp, ctx):
        return sp.createDataFrame([(data.read_text().strip(),)], "v string")

    def s_up(sp, ctx):
        return ctx["read"].select(F.upper("v").alias("v"))

    stages = [
        Stage("read", s_read, deps=["src"]),
        Stage("up", s_up, deps=["read"]),
    ]

    r = PipelineRunner(spark, ckpt)
    r.run(stages, {"src": source_fingerprint(str(src))})
    assert r.computed == ["read", "up"]

    # same input → full skip
    r.run(stages, {"src": source_fingerprint(str(src))})
    assert r.computed == []

    # change input → fingerprint differs → both stages recompute
    time.sleep(0.01)
    data.write_text("v2\n")
    out = r.run(stages, {"src": source_fingerprint(str(src))})
    assert r.computed == ["read", "up"]
    assert out["up"].collect()[0]["v"] == "V2"


def test_runner_version_bump_recomputes_downstream_only(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")

    def s_a(sp, ctx):
        return sp.range(10).withColumnRenamed("id", "n")

    def s_b(sp, ctx):
        return ctx["a"].select((F.col("n") * 2).alias("n2"))

    a = Stage("a", s_a)
    b = Stage("b", s_b, deps=["a"])
    r = PipelineRunner(spark, ckpt)
    r.run([a, b], {})
    assert r.computed == ["a", "b"]

    # bump only b's code version → a resumes from checkpoint, b recomputes
    b2 = Stage("b", s_b, deps=["a"], version="2")
    r.run([a, b2], {})
    assert r.computed == ["b"]
    assert r.skipped == ["a"]


def test_runner_partial_crash_recovery(spark, tmp_path):
    """Missing _SUCCESS (simulated crash mid-write) → stage re-runs even
    though a state record exists."""
    ckpt = str(tmp_path / "ckpt")

    def s_a(sp, ctx):
        return sp.range(5)

    a = Stage("a", s_a)
    r = PipelineRunner(spark, ckpt)
    r.run([a], {})
    os.remove(os.path.join(ckpt, "a", "_SUCCESS"))
    r.run([a], {})
    assert r.computed == ["a"]


def _fanout(fn_b, fn_c):
    """a → {b, c}: two stages that share one upstream stage."""
    return [
        Stage("a", lambda sp, ctx: sp.range(8, numPartitions=2)),
        Stage("b", fn_b, deps=["a"]),
        Stage("c", fn_c, deps=["a"]),
    ]


def test_runner_runs_sibling_stages_concurrently(spark, tmp_path):
    """b and c only depend on a, so both run while the other is running:
    each waits for the other at a barrier inside fn."""
    barrier = threading.Barrier(2, timeout=10)

    def meet(sp, ctx):
        barrier.wait()
        return ctx["a"]

    r = PipelineRunner(spark, str(tmp_path / "ckpt"))
    out = r.run(_fanout(meet, meet), {})
    assert r.computed == ["a", "b", "c"]
    assert list(out) == ["a", "b", "c"]
    assert out["c"].count() == 8


def test_runner_failed_branch_commits_sibling(spark, tmp_path):
    """One branch raises while its sibling runs: run() re-raises the
    error, the sibling commits, the failed stage has no state record, and
    a rerun computes only the failed stage."""
    ckpt = str(tmp_path / "ckpt")
    barrier = threading.Barrier(2, timeout=10)
    fail = [True]

    def b(sp, ctx):
        if fail[0]:
            barrier.wait()
            raise RuntimeError("stage b failed")
        return ctx["a"]

    def c(sp, ctx):
        barrier.wait()
        return ctx["a"].selectExpr("id * 2 AS id")

    stages = _fanout(b, c)
    r = PipelineRunner(spark, ckpt)
    with pytest.raises(RuntimeError, match="stage b failed"):
        r.run(stages, {})
    state = os.path.join(ckpt, "_pipeline_state")
    assert os.path.exists(os.path.join(state, "c.json"))
    assert not os.path.exists(os.path.join(state, "b.json"))
    assert r.computed == ["a", "c"]

    fail[0] = False
    r.run(stages, {})
    assert r.computed == ["b"]
    assert r.skipped == ["a", "c"]


def test_runner_stage_jobs_inherit_caller_job_group(spark, tmp_path, group_job_count):
    """A job group set by the caller covers the jobs the stages submit on
    worker threads."""
    groups = []

    def b(sp, ctx):
        groups.append(sp.sparkContext.getLocalProperty("spark.jobGroup.id"))
        return ctx["a"]

    def run():
        PipelineRunner(spark, str(tmp_path / "ckpt")).run(_fanout(b, b), {})

    n = group_job_count("runner-caller-group", run)
    assert groups == ["runner-caller-group"] * 2
    # at least one write job per stage
    assert n >= 3


def test_runner_lineage_submits_no_read_back_job(spark, tmp_path, group_job_count):
    """A runner pass submits exactly the jobs of writing each checkpoint:
    neither lineage nor loading the checkpoint back needs a job of its
    own, and the loaded checkpoint has the schema a plain read infers."""
    base = str(tmp_path / "base")

    def plain():
        spark.range(8, numPartitions=2).write.parquet(base)

    out = {}

    def runner():
        out.update(PipelineRunner(spark, str(tmp_path / "ckpt")).run(
            [Stage("a", lambda sp, ctx: sp.range(8, numPartitions=2))], {}))

    assert group_job_count("lineage-runner", runner) == group_job_count(
        "lineage-plain", plain)
    ckpt = str(tmp_path / "ckpt" / "a")
    assert out["a"].schema == spark.read.parquet(ckpt).schema
    assert sorted(r.id for r in out["a"].collect()) == list(range(8))
    rec = json.loads((tmp_path / "ckpt" / "_pipeline_state" / "a.json").read_text())
    assert rec["partitions"] == read_back_lineage(spark, str(tmp_path / "ckpt" / "a"))
    assert rec["rows_out"] == 8 and rec["n_files"] == 2


def test_runner_resume_loads_checkpoints_without_jobs(spark, tmp_path, group_job_count):
    """Resuming loads every committed checkpoint, plain and bucketed,
    from one footer's schema: no schema-inference job, also when the
    catalog has lost the bucketed table (restart analog)."""
    root = str(tmp_path / "ckpt")

    def ids(sp, ctx):
        return sp.range(8, numPartitions=2).withColumn("k", F.col("id") % 3)

    stages = [Stage("plain", ids),
              Stage("bucketed", ids, bucket_by=("k", 4), sort_by=["k"])]
    PipelineRunner(spark, root).run(stages, {})
    spark.sql("DROP TABLE IF EXISTS ckpt_bucketed")

    out, r = {}, PipelineRunner(spark, root)
    assert group_job_count("resume-load", lambda: out.update(r.run(stages, {}))) == 0
    assert r.skipped == ["plain", "bucketed"]
    for name in ("plain", "bucketed"):
        assert out[name].schema == spark.read.parquet(os.path.join(root, name)).schema
        assert sorted(x.id for x in out[name].collect()) == list(range(8))
