"""Grouping operators — groupbyattrs + the conversation rollup.

Reference: processor/groupbyattrsprocessor (processor.go:63-100,
attribute_groups.go:70-120): move listed attribute keys from record →
resource and regroup records under the (base resource ⊕ extracted attrs)
identity. In a flat DataFrame the "regroup" is just groupBy/repartition
on the new resource key — no physical nesting exists to maintain.

Skew: conv_id is Zipf-hot. The rollup's aggregates are algebraic, so
Spark's partial HashAggregate already combines a hot key map-side, down
to one row per map task before the Exchange; a salted two-phase
aggregate only adds a second shuffle (measured slower on a 5% hot key).
Salting stays where it pays: non-algebraic per-key work such as the
window rank in ``textops.stratified_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_by_attrs(
    df: DataFrame,
    keys: list[str],
    resource_col: str = "resource",
    attrs_col: str = "attributes",
) -> DataFrame:
    """groupbyattrs: promote map keys from attributes → resource, drop them
    from attributes (processor.go:63-100). keys=[] is the compaction
    no-op (flat model needs none)."""
    if not keys:
        return df
    key_arr = F.array(*[F.lit(k) for k in keys])
    promoted = F.map_filter(
        F.col(attrs_col), lambda k, v: F.array_contains(key_arr, k)
    )
    return df.withColumn(
        resource_col, F.map_concat(F.col(resource_col), promoted)
    ).withColumn(
        attrs_col,
        F.map_filter(F.col(attrs_col), lambda k, v: ~F.array_contains(key_arr, k)),
    )


def conversation_rollup(df: DataFrame) -> DataFrame:
    """Flagship groupbyattrs-style rollup: per-conversation stats over the
    parsed transcripts. One hash aggregate on conv_id: its partial
    (map-side) phase folds the Zipf-hot conversation to one row per map
    task before the shuffle, so no salt is needed."""
    return (
        df.withColumn(
            "is_error_int", (F.col("severity_number") >= 17).cast("int")
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("is_error_int").alias("n_errors"),
            F.sum("dur_ms").alias("total_dur_ms"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.max("severity_number").alias("max_severity"),
        )
        .withColumn("n_errors", F.coalesce(F.col("n_errors"), F.lit(0)))
    )


def skew_stats(
    df,
    keys: list[str],
    topk: int = 20,
):
    """Hot-key diagnosis — the operability primitive behind every
    skew decision in this engine (whether a per-key stage needs a salt,
    lsh_ann_pairs' bucket cap): per-key row counts for the heaviest
    `topk` keys plus each key's skew ratio vs the mean key. A key with
    skew >> 1 is the one that serializes a shuffle stage.

    Plan: ONE map-side-combinable hash agg over the keys, a 1-row
    global agg broadcast back, and TakeOrderedAndProject for the top-k
    (heap per partition — never a global sort). Deterministic at the
    k-boundary: ties break on the key itself."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 4
            ).alias("skew"),
        )
        .orderBy(F.desc("n_rows"), *keys)
        .limit(topk)
    )
