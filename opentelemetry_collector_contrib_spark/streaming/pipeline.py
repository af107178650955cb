"""Streaming pipeline stages (see package docstring for reference map).

Everything reuses the batch operators — parse/enrich/route are ordinary
DataFrame→DataFrame functions, so the same code runs under readStream
(Catalyst treats them identically; only sinks/triggers differ). That is
the Spark analog of the reference using the SAME processor chain for
every receiver type.

Scale notes: the file source lists new files per trigger (cheap against
an object store with a manifest/Iceberg layout); maxFilesPerTrigger
bounds micro-batch size like the collector's `batch` processor bounds
send size. State stores (dedup window, session window) are keyed by
(window, group), unsalted like the batch rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import enrich_transcripts
from ..operators.parse import parse_transcripts
from ..schema import TRANSCRIPT_SCHEMA
from ..sources.readers import read_dims


def read_transcripts_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """filelog-receiver analog: stream of transcript parquet files landing
    in a directory. Schema is fixed (streaming file sources never infer)."""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def parsed_enriched_stream(
    spark: SparkSession,
    input_dir: str,
    dims_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """parse + broadcast-dim enrich on a stream — identical operator code
    to the batch path; dims stay batch DataFrames (stream-static join,
    broadcast on the static side)."""
    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
    parsed = parse_transcripts(stream)
    roles, tools = read_dims(spark, dims_dir)
    return enrich_transcripts(parsed, roles, tools)


def streaming_flagship(
    spark: SparkSession,
    input_dir: str,
    dims_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """End-to-end streaming job: parse → enrich → routed fan-out sinks.

    foreachBatch applies the batch Router's ``write_routed`` to every
    micro-batch — one pass, tag + partitionBy(route) write — so routed-row
    sets are byte-identical to the batch engine on the same input
    (verified in tests). Returns the StreamingQuery; with available_now
    the query drains all current input and stops (deterministic for
    tests), otherwise it runs continuously.

    Exactly-once: foreachBatch is at-least-once (a crash between sink
    write and checkpoint commit replays the micro-batch), so each batch
    writes to a batch_id-scoped partition directory with mode=overwrite —
    a replay overwrites its own previous output instead of appending
    duplicates. checkpointLocation + idempotent per-batch writes is the
    standard Structured Streaming exactly-once recipe.
    """
    from ..plans.flagship import build_router

    enriched = parsed_enriched_stream(
        spark, input_dir, dims_dir, max_files_per_trigger
    )
    router = build_router()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        router.write_routed(
            batch_df, os.path.join(out_dir, "sinks", f"batch_id={batch_id}")
        )

    writer = (
        enriched.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def logdedup_stream(
    enriched: DataFrame,
    interval: str = "1 minute",
    watermark: str = "2 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """logdedup processor on a stream: watermarked tumbling window, one
    row per (window, dedup key) with log_count / first_observed /
    last_observed — processor.go:81-143 & counter.go:45-95 semantics on
    event time. Late rows beyond the watermark are dropped (the reference
    ticker would likewise have already exported the interval)."""
    keys = keys or ["role", "severity_text", "text"]
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", interval).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("log_count"),
            F.min("ts").alias("first_observed_timestamp"),
            F.max("ts").alias("last_observed_timestamp"),
        )
        .select(
            F.col("w.start").alias("interval_start"),
            *keys,
            "log_count",
            "first_observed_timestamp",
            "last_observed_timestamp",
        )
    )


def recombine_session_stream(
    stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    source_col: str = "conv_id",
    combine_col: str = "text",
    combine_with: str = "\n",
) -> DataFrame:
    """recombine operator (transformer/recombine/transformer.go:97-244) on
    a stream: session_window sessionization per source id — the streaming
    analog of force_flush_period closing a stale batch (config.go:59).

    Ordering caveat: collect_list over a stream is arrival-ordered, so the
    stitched text is ordered by (turn_idx) via array_sort over
    (turn_idx, text) structs, NOT by arrival — same stable-order contract
    as the batch recombine."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"), F.col(source_col)
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", combine_col))
            ).alias("_parts"),
            F.count(F.lit(1)).alias("n_entries"),
        )
        .select(
            F.col(source_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_entries",
            F.concat_ws(
                combine_with,
                F.transform("_parts", lambda p: p[combine_col]),
            ).alias("combined"),
        )
    )


def count_connector_stream(
    enriched: DataFrame,
    dims: list[str] | None = None,
    interval: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """count connector (connector/countconnector/counter.go:38-128) on a
    stream: per-dimension log counts emitted per watermarked tumbling
    window — the streaming analog of the batch `count_connector`
    (operators/aggregate.py). Append mode: a window's counts emit exactly
    once, when the watermark passes its end (the reference's
    export-on-interval tick). State is bounded by (windows in flight ×
    dim cardinality) — the watermark evicts closed windows."""
    dims = dims or ["severity_text", "tool"]
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", interval).alias("w"), *dims)
        .agg(F.count(F.lit(1)).alias("log_count"))
        .select(
            F.col("w.start").alias("interval_start"),
            *dims,
            "log_count",
        )
    )


def sum_connector_stream(
    enriched: DataFrame,
    value_col: str,
    dims: list[str] | None = None,
    interval: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """sum connector (connector/sumconnector) on a stream: watermarked
    per-window numeric attribute totals, same emission contract as
    count_connector_stream."""
    dims = dims or ["tool"]
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", interval).alias("w"), *dims)
        .agg(
            F.sum(F.col(value_col).cast("double")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("interval_start"), *dims, "total", "n"
        )
    )


def sliding_count_stream(
    enriched: DataFrame,
    dims: list[str] | None = None,
    window_duration: str = "2 minutes",
    slide_duration: str = "1 minute",
    watermark: str = "4 minutes",
) -> DataFrame:
    """Sliding-window count connector on a stream (the batch
    `sliding_counts` aggregate's stateful form — each event lands in
    window/slide overlapping windows; F.window with a slide maintains
    them in the state store, the watermark evicts closed ones). Emission
    contract: a (window, dims) row appends exactly once when the
    watermark passes the window end — the reference's interval-tick
    export (processor/intervalprocessor/processor.go:97-231 pattern)."""
    dims = dims or ["severity_text"]
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration, slide_duration).alias("w"),
            *dims,
        )
        .agg(F.count(F.lit(1)).alias("log_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *dims,
            "log_count",
        )
    )


def percentile_connector_stream(
    enriched: DataFrame,
    value_col: str,
    dims: list[str] | None = None,
    interval: str = "1 minute",
    watermark: str = "2 minutes",
    percentiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """Percentile/SLO connector on a stream: per watermarked window,
    approx_percentile sketches per dim combo. ONLY the sketch form is
    offered on streams — exact `percentile` buffers every value in the
    state store (unbounded per hot window); the t-digest-style sketch is
    bounded and mergeable, which is what a 100 TB stream needs. Labels
    reuse the batch connector's collision-free scheme."""
    from ..operators.aggregate import percentile_labels

    dims = dims or ["severity_text"]
    labels = percentile_labels(percentiles)
    aggs = [
        F.round(
            F.expr(
                f"approx_percentile({value_col}, {p}, {accuracy})"
            ).cast("double"),
            6,
        ).alias(lbl)
        for p, lbl in zip(percentiles, labels)
    ]
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", interval).alias("w"), *dims)
        .agg(*aggs)
        .select(F.col("w.start").alias("interval_start"), *dims, *labels)
    )


def json_field_profile_stream(stream: DataFrame, source: str) -> DataFrame:
    """Streaming twin of operators/parse.json_field_profile: cumulative
    per-key presence and kind counts over a JSON-lines stream — the
    schema-drift monitor running continuously against a live feed (a new
    key appearing, or an existing key's kind counts starting to wobble,
    IS the drift alert). Update mode: each micro-batch re-emits the keys
    it touched with their new cumulative counts.

    Plain streaming aggregation (no custom state): parse_json + explode
    + groupBy(key) — state is one row per distinct key (schema width,
    tiny, bounded). fill_rate needs the total row count, which a
    streaming agg cannot broadcast-join; derive it downstream from a
    parallel count stream or the batch profiler."""
    from ..pdata import variant_kind, variant_object_map

    kv = stream.select(
        F.explode(
            variant_object_map(F.try_parse_json(F.col(source)))
        ).alias("key", "val")
    ).select("key", variant_kind(F.col("val")).alias("kind"))

    def n(kind: str, alias: str):
        return F.sum(
            F.when(F.col("kind") == kind, 1).otherwise(0)
        ).cast("long").alias(alias)

    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        n("string", "n_string"),
        n("int", "n_int"),
        n("double", "n_double"),
        n("bool", "n_bool"),
        n("empty", "n_null"),
        n("map", "n_object"),
        n("slice", "n_array"),
    )
