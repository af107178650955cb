"""The flagship parse → enrich → route → aggregate DAG (SURVEY.md §7 Stage 1).

Mirrors a collector logs pipeline:
  receiver (transcripts scan)
  → transform/parse (JVM regexp_extract token extraction + severity mapping)
  → enrich (broadcast dims — k8sattributes analog)
  → routing connector (errors / tool / slow / default; both match modes)
  → exporters (per-sink partitioned writes)
  + countconnector / sumconnector metrics and a groupbyattrs-style
    conversation rollup (one groupBy: Spark's partial aggregate folds the
    Zipf-hot conv_id before the shuffle).

:func:`flagship_stages` is the ONE definition of this DAG. The runner
(plans/runner.py, jobs/run_pipeline.py), :func:`run_flagship` and
bench.py all evaluate that stage list. Every stage is a
DataFrame→DataFrame function, so Catalyst sees one plan per stage:
filters push into the scan and the dims broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import count_connector, sum_connector
from ..operators.enrich import enrich_transcripts
from ..operators.group import conversation_rollup
from ..operators.parse import parse_transcripts
from ..operators.route import Route, Router
from ..sources.readers import read_dims, read_transcripts

SEV_ERROR = 17  # entry/severity.go: ERROR


def build_router() -> Router:
    """Route table (FIXTURES.md §5) — multi-match (match_once=False is the
    routingconnector default semantics; rows can land in several sinks)."""
    return Router(
        [
            Route("errors", F.col("severity_number") >= SEV_ERROR),
            Route("tool_bash", F.col("tool_name") == "bash"),
            Route("slow", F.col("dur_ms") > 4000),
        ],
        match_once=False,
    )


def parsed_enriched(spark: SparkSession, fixture_dir: str) -> DataFrame:
    df = parse_transcripts(read_transcripts(spark, fixture_dir))
    roles, tools = read_dims(spark, fixture_dir)
    return enrich_transcripts(df, roles, tools)


def _by_sink(df: DataFrame) -> DataFrame:
    """One row per (row, matched route) in column ``sink``; unmatched rows
    carry ``default`` (tags_multi semantics)."""
    return build_router().tags_multi(df).withColumn(
        "sink", F.explode_outer("routes")
    )


def sink_counts(df: DataFrame) -> DataFrame:
    """countconnector: log count per sink × severity × tool × role."""
    return count_connector(
        _by_sink(df),
        dims={
            "sink": None,
            "severity_text": "DEFAULT",
            "tool": "<none>",
            "role": "<none>",
        },
    )


def sink_durations(df: DataFrame) -> DataFrame:
    """sumconnector: total ``dur_ms`` per sink × role."""
    return sum_connector(
        _by_sink(df).drop("routes"),
        source_attribute="dur_ms",
        dims={"sink": None, "role": "<none>"},
        metric_name="total_dur_ms",
    )


def flagship_stages(fixture_dir: str):
    """The flagship DAG as checkpointable runner stages (plans/runner.py)
    for resumable spark-submit runs.

    Returns (stages, source_fingerprints). Stage graph:
      enriched ← transcripts scan + parse + broadcast-dim enrich
      sink_* / metrics_* / conversation_rollup ← enriched checkpoint
    A restart after e.g. the sinks committed recomputes only the
    aggregates — the enriched checkpoint is read back, the parse does
    not run again (the fileconsumer-offset resume analog).
    """
    from .runner import Stage, source_fingerprint

    router = build_router()

    def sink_fn(name):
        def fn(spark, ctx):
            return router.split(ctx["enriched"])[name]

        return fn

    stages = [
        Stage(
            "enriched",
            lambda spark, ctx: parsed_enriched(spark, fixture_dir),
            deps=["transcripts"],
        )
    ]
    for sink in [*[r.route_id for r in router.routes], "default"]:
        stages.append(Stage(f"sink_{sink}", sink_fn(sink), deps=["enriched"]))
    stages += [
        Stage(
            "metrics_counts",
            lambda spark, ctx: sink_counts(ctx["enriched"]),
            deps=["enriched"],
        ),
        Stage(
            "metrics_durations",
            lambda spark, ctx: sink_durations(ctx["enriched"]),
            deps=["enriched"],
        ),
        Stage(
            "conversation_rollup",
            lambda spark, ctx: conversation_rollup(ctx["enriched"]),
            deps=["enriched"],
        ),
    ]
    fps = {"transcripts": source_fingerprint(fixture_dir)}
    return stages, fps


def run_flagship(spark: SparkSession, fixture_dir: str) -> dict[str, DataFrame]:
    """Every output of :func:`flagship_stages`, evaluated in memory without
    checkpoints (unmaterialized plans keyed by stage name)."""
    ctx: dict[str, DataFrame] = {}
    for s in flagship_stages(fixture_dir)[0]:
        ctx[s.name] = s.fn(spark, ctx)
    return ctx
