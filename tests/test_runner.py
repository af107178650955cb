"""Checkpoint/lineage pipeline runner (plans/runner.py).

Reference analog under test: resume-from-checkpoint semantics of
pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45 —
a restart must not redo committed work, and must redo it when the
input changes (offset invalidation ↔ fingerprint mismatch).
"""

import os
import time

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
