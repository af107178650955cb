"""Bucketed-layout contracts: the write-once-shuffle-never-again story.

Each test asserts an Exchange that bucketing must eliminate — the
difference between one shuffle of the fact table per downstream consumer
and zero."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.fixtures import ensure_fixture_dir
from opentelemetry_collector_contrib_spark.plans.bucketing import (
    read_bucketed,
    write_bucketed,
)
from opentelemetry_collector_contrib_spark.sources.readers import (
    read_transcripts,
)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _fx():
    return ensure_fixture_dir(os.environ.get("SF_DIR", "/root/testdata/sf0.001"))


def test_bucketed_agg_has_no_exchange(spark, tmp_path_factory):
    tr = read_transcripts(spark, _fx())
    base = str(tmp_path_factory.mktemp("buck"))
    write_bucketed(tr, "tr_bucketed", os.path.join(base, "tr"), 8, "conv_id",
                   sort_cols=["conv_id", "turn_idx"])

    bt = read_bucketed(spark, "tr_bucketed")
    agg = bt.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("last_idx"),
    )
    plan = _plan(agg)
    assert "Exchange" not in plan, plan
    # unbucketed control: same agg over the raw parquet DOES shuffle
    control = tr.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    assert "Exchange" in _plan(control)
    # and the results agree
    got = {r.conv_id: r.n_turns for r in agg.collect()}
    want = {r.conv_id: r.n_turns for r in control.collect()}
    assert got == want


def test_cobucketed_join_has_no_exchange(spark, tmp_path_factory):
    tr = read_transcripts(spark, _fx())
    base = str(tmp_path_factory.mktemp("buck2"))
    write_bucketed(tr, "tr_a", os.path.join(base, "a"), 8, "conv_id")
    rollup = tr.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    write_bucketed(rollup, "tr_b", os.path.join(base, "b"), 8, "conv_id")

    a, b = read_bucketed(spark, "tr_a"), read_bucketed(spark, "tr_b")
    # disable auto-broadcast so the test proves BUCKETING (not size)
    # removed the exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "conv_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == a.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_runner_bucketed_checkpoint_survives_catalog_loss(
    spark, tmp_path_factory
):
    """A bucketed stage checkpoint must (a) skip recompute on rerun,
    (b) re-register its table after the catalog forgets it (restart
    analog), and (c) still plan conv_id aggregation with no Exchange."""
    from opentelemetry_collector_contrib_spark.plans.runner import (
        PipelineRunner,
        Stage,
        source_fingerprint,
    )

    fx = _fx()
    root = str(tmp_path_factory.mktemp("ckpt"))
    stages = [
        Stage(
            "parsed",
            lambda sp, ctx: read_transcripts(sp, fx),
            deps=["transcripts"],
            bucket_by=("conv_id", 8),
            sort_by=["conv_id", "turn_idx"],
        )
    ]
    fps = {"transcripts": source_fingerprint(fx)}

    r1 = PipelineRunner(spark, root)
    out1 = r1.run(stages, fps)
    assert r1.computed == ["parsed"]

    # footer lineage == per-file counts of a read-back over the buckets
    with open(os.path.join(root, "_pipeline_state", "parsed.json")) as f:
        rec = json.load(f)
    per_file = (
        spark.read.parquet(os.path.join(root, "parsed"))
        .groupBy(F.input_file_name().alias("file"))
        .count()
        .collect()
    )
    assert rec["partitions"] == sorted(
        ({"file": os.path.basename(r["file"]), "rows": r["count"]}
         for r in per_file),
        key=lambda p: p["file"],
    )

    # restart analog: catalog loses the table, state files remain
    spark.sql("DROP TABLE IF EXISTS ckpt_parsed")
    r2 = PipelineRunner(spark, root)
    out2 = r2.run(stages, fps)
    assert r2.skipped == ["parsed"]

    agg = out2["parsed"].groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in _plan(agg)
    assert out2["parsed"].count() == out1["parsed"].count()
