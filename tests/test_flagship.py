"""Flagship pipeline vs the pure-Python oracle (north-rule contract):
per-sink routed-row SET equality, countconnector equality, per-turn
``text`` byte equality under (conv_id, turn_idx) ordering."""

from collections import Counter

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import oracle
from opentelemetry_collector_contrib_spark.plans.flagship import run_flagship


def _spark_outputs(spark, sf_dir):
    return run_flagship(spark, sf_dir)


def test_routed_row_sets_match_oracle(spark, sf_dir):
    ora = oracle.run_oracle(sf_dir)
    outs = _spark_outputs(spark, sf_dir)
    for sink, expected in ora["sink_keys"].items():
        got = {
            (r.conv_id, r.turn_idx)
            for r in outs[f"sink_{sink}"].select("conv_id", "turn_idx").collect()
        }
        assert got == expected, f"sink {sink}: {len(got)} vs {len(expected)}"


def test_counts_match_oracle(spark, sf_dir):
    ora = oracle.run_oracle(sf_dir)
    outs = _spark_outputs(spark, sf_dir)
    got = Counter(
        {
            (r.sink, r.severity_text, r.tool, r.role): r.log_count
            for r in outs["metrics_counts"].collect()
        }
    )
    assert got == ora["counts"]


def test_text_byte_equality_under_stable_order(spark, sf_dir):
    """Spark must reproduce the raw text bit-for-bit under the
    (conv_id, turn_idx) window ordering — never altered by the parse."""
    ora = oracle.run_oracle(sf_dir)
    expected = (
        ora["enriched"]
        .sort_values(["conv_id", "turn_idx"])["text"]
        .tolist()
    )
    outs = _spark_outputs(spark, sf_dir)
    got = [
        r.text
        for r in outs["enriched"]
        .orderBy("conv_id", "turn_idx")
        .select("text")
        .collect()
    ]
    assert got == expected


def test_rollup_matches_oracle(spark, sf_dir):
    ora = oracle.run_oracle(sf_dir)["rollup"]
    got = (
        run_flagship(spark, sf_dir)["conversation_rollup"]
        .orderBy("conv_id")
        .toPandas()
        .set_index("conv_id")
    )
    assert got["n_turns"].astype(int).to_dict() == ora["n_turns"].astype(int).to_dict()
    assert got["n_errors"].astype(int).to_dict() == ora["n_errors"].astype(int).to_dict()
    assert got["max_severity"].astype(int).to_dict() == ora["max_severity"].astype(int).to_dict()


def test_match_once_routes_disjoint_and_cover(spark, sf_dir):
    from opentelemetry_collector_contrib_spark.plans.flagship import (
        build_router, parsed_enriched,
    )

    enriched = parsed_enriched(spark, sf_dir).cache()
    router = build_router()
    router.match_once = True
    sinks = router.split(enriched)
    total = sum(df.count() for df in sinks.values())
    assert total == enriched.count()  # first-match: partition, no dup
    # first-match priority: a row in errors must NOT be in tool_bash even
    # if tool==bash
    err_keys = {
        (r.conv_id, r.turn_idx)
        for r in sinks["errors"].select("conv_id", "turn_idx").collect()
    }
    bash_keys = {
        (r.conv_id, r.turn_idx)
        for r in sinks["tool_bash"].select("conv_id", "turn_idx").collect()
    }
    assert not err_keys & bash_keys
    enriched.unpersist()
