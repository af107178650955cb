"""Custom stateful streaming ops (applyInPandasWithState) vs batch truth.

Input is split into two files consumed as two micro-batches
(maxFilesPerTrigger=1), so per-key state genuinely crosses a batch
boundary; the final cumulative per key must equal the batch ground truth
and keys spanning both batches must show monotone accumulation.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.schema import TRANSCRIPT_SCHEMA
from opentelemetry_collector_contrib_spark.streaming.stateful import (
    cumulative_stream,
    last_seen_stream,
)


def _write_two_batches(t, d) -> str:
    """``t``'s first half as part0 and its second half as part1, with
    part1 modified one second later. The file source takes new files in
    modification-time order; two files written within the same
    millisecond tie, and then either may arrive first."""
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(d / "part0.parquet"))
    pq.write_table(t.slice(half), str(d / "part1.parquet"))
    st = os.stat(d / "part0.parquet")
    os.utime(d / "part1.parquet", (st.st_atime + 1, st.st_mtime + 1))
    return str(d)


@pytest.fixture(scope="module")
def two_batch_input(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("stateful_in")
    t = pq.read_table(os.path.join(sf_dir, "transcripts.parquet"))
    return _write_two_batches(t, d)


def _drain(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _stream(spark, input_dir):
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def test_cumulative_stream_matches_batch_totals(spark, sf_dir, two_batch_input):
    out = _drain(
        spark, cumulative_stream(_stream(spark, two_batch_input)), "cum_stream"
    ).collect()

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = {
        r["conv_id"]: (r["n"], r["b"])
        for r in batch.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("b"),
        )
        .collect()
    }

    # final (= max cum_rows) emission per key equals batch ground truth
    final = {}
    for r in out:
        cur = final.get(r["conv_id"])
        if cur is None or r["cum_rows"] > cur[0]:
            final[r["conv_id"]] = (r["cum_rows"], r["cum_bytes"])
    assert final == want

    # keys seen in both micro-batches emitted twice, with state carried
    per_key = {}
    for r in out:
        per_key.setdefault(r["conv_id"], []).append(r)
    crossing = [k for k, v in per_key.items() if len(v) == 2]
    assert crossing, "expected conversations spanning both batches"
    for k in crossing:
        a, b = sorted(per_key[k], key=lambda r: r["cum_rows"])
        assert a["cum_rows"] + b["batch_rows"] == b["cum_rows"]
        assert b["cum_rows"] == want[k][0]


def test_last_seen_stream(spark, sf_dir, two_batch_input):
    out = _drain(
        spark, last_seen_stream(_stream(spark, two_batch_input)), "last_stream"
    ).collect()

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = {
        r["conv_id"]: (r["last_turn_idx"], r["last_role"], r["n"])
        for r in batch.groupBy("conv_id")
        .agg(
            F.max("turn_idx").alias("last_turn_idx"),
            F.max_by("role", "turn_idx").alias("last_role"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    final = {}
    for r in out:
        cur = final.get(r["conv_id"])
        if cur is None or r["n_seen"] > cur[2]:
            final[r["conv_id"]] = (
                r["last_turn_idx"], r["last_role"], r["n_seen"]
            )
    assert final == want


EVENTS_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def two_batch_events(tmp_path_factory):
    d = tmp_path_factory.mktemp("zscore_in")
    t = pq.read_table(os.path.join(EVENTS_DIR, "events.parquet"))
    return _write_two_batches(t, d)


def test_zscore_stream_equals_batch_operator(spark, two_batch_events):
    """The trailing-window buffer must survive the micro-batch boundary:
    streaming z-scores over two time-ordered micro-batches == the batch
    rolling_zscore over the whole events table, per event."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        rolling_zscore,
    )
    from opentelemetry_collector_contrib_spark.streaming.stateful import (
        zscore_stream,
    )

    ev_schema = spark.read.parquet(
        os.path.join(EVENTS_DIR, "events.parquet")
    ).schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(two_batch_events)
    )
    got = {
        r["event_id"]: r["zscore"]
        for r in _drain(spark, zscore_stream(stream), "zscore_stream").collect()
    }

    batch = spark.read.parquet(os.path.join(EVENTS_DIR, "events.parquet"))
    want = {
        r["event_id"]: r["zscore"]
        for r in rolling_zscore(
            batch, keys=["user_id"], order_cols=["event_id"]
        ).select("event_id", "zscore").collect()
    }
    assert len(got) == len(want) and len(got) > 0
    diffs = [
        k for k in want
        if (got[k] is None) != (want[k] is None)
        or (got[k] is not None and abs(got[k] - want[k]) > 1e-9)
    ]
    assert not diffs, diffs[:5]


@pytest.fixture(scope="module")
def two_batch_ordered(sf_dir, tmp_path_factory):
    """Time-ordered two-batch split: the tailing-file arrival contract
    the trailing-state twins document (each micro-batch a prefix of the
    remaining stream BY EVENT TIME — the raw fixture is row-shuffled)."""
    d = tmp_path_factory.mktemp("burst_in")
    t = (
        pq.read_table(os.path.join(sf_dir, "transcripts.parquet"))
        .sort_by([("ts", "ascending"), ("conv_id", "ascending"),
                  ("turn_idx", "ascending")])
    )
    return _write_two_batches(t, d)


def test_burst_stream_equals_batch_operator(spark, sf_dir, two_batch_ordered):
    """Streaming burst detector vs the batch template_bursts truth: the
    LAST emission per (template, bucket) must carry the full-bucket count
    and the identical integer burst decision, with trailing state crossing
    the micro-batch boundary (buckets split across files re-emit grown)."""
    import os

    from opentelemetry_collector_contrib_spark.streaming.stateful import (
        burst_stream,
    )
    from opentelemetry_collector_contrib_spark.textops import template_bursts

    kw = dict(bucket_s=600, lookback=3, factor=4, min_count=10)
    out = _drain(
        spark,
        burst_stream(_stream(spark, two_batch_ordered), **kw),
        "burst_stream",
    ).collect()

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = {
        (r["template"], r["bucket_epoch"]): (
            r["n"], r["trailing_n"], r["is_burst"]
        )
        for r in template_bursts(batch, **kw).collect()
    }

    # last emission per key = the one with max n (counts only grow)
    final = {}
    for r in out:
        k = (r["template"], r["bucket_epoch"])
        cur = final.get(k)
        if cur is None or r["n"] > cur[0]:
            final[k] = (r["n"], r["trailing_n"], r["is_burst"])
    assert final == want

    # at least one (template, bucket) must actually have re-emitted with
    # a grown count — i.e. state genuinely crossed the batch boundary
    seen = {}
    grew = 0
    for r in out:
        k = (r["template"], r["bucket_epoch"])
        if k in seen and r["n"] > seen[k]:
            grew += 1
        seen[k] = max(seen.get(k, 0), r["n"])
    assert grew > 0, "expected a bucket spanning both micro-batches"


def test_zscore_stream_rounds_half_up_like_batch(spark, tmp_path):
    """Exactly-representable 4th-decimal ties (z = 10/64 = 0.15625) must
    round HALF_UP to 0.1563 in the stream, matching batch F.round —
    Python round()'s half-to-even would emit 0.1562 and break the
    per-event batch-equality contract (round-4 ADVICE)."""
    import datetime as dt

    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        rolling_zscore,
    )
    from opentelemetry_collector_contrib_spark.streaming.stateful import (
        zscore_stream,
    )

    # cents [936, 936, 1000, 1064, 1064]: mean=1000, var=4096, std=64 —
    # all exact in float64; the 6th value 10.10 gives z = 10/64 = 0.15625
    values = [9.36, 9.36, 10.00, 10.64, 10.64, 10.10]
    rows = [
        (i + 1, 7, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), v)
        for i, v in enumerate(values)
    ]
    schema = "event_id long, user_id long, ts timestamp_ntz, value double"
    src = str(tmp_path / "tie_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    got = {
        r["event_id"]: r["zscore"]
        for r in _drain(spark, zscore_stream(stream), "zscore_tie").collect()
    }
    assert got[6] == 0.1563  # HALF_UP, not banker's 0.1562

    want = {
        r["event_id"]: r["zscore"]
        for r in rolling_zscore(
            spark.read.parquet(src), keys=["user_id"], order_cols=["event_id"]
        ).select("event_id", "zscore").collect()
    }
    assert got == want


def _drain_foreach_parquet(spark, build_stream, out, ckpt):
    """Drain an update-mode stateful query into an append-parquet log via
    foreachBatch, tagging rows with the micro-batch id (the 'last
    emission per key' reducer needs an order)."""

    def sink(bdf, bid):
        bdf.withColumn("_b", F.lit(bid)).write.mode("append").parquet(out)

    q = (
        build_stream()
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_zscore_stream_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-restart mid-stream (round-4 VERDICT #7): run the z-score
    twin over the FIRST half of the stream, terminate, land the second
    half, resume from the SAME checkpoint — the trailing per-user buffer
    must come back from the state store so second-half scores equal the
    batch operator over the full stream."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        rolling_zscore,
    )
    from opentelemetry_collector_contrib_spark.streaming.stateful import (
        zscore_stream,
    )

    t = (
        pq.read_table(os.path.join(EVENTS_DIR, "events.parquet"))
        .sort_by([("ts", "ascending"), ("event_id", "ascending")])
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(in_dir / "part0.parquet"))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(os.path.join(EVENTS_DIR, "events.parquet")).schema

    def build():
        return zscore_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )

    _drain_foreach_parquet(spark, build, out, ckpt)
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first <= half

    # the "restart": second half lands, resume from the same checkpoint
    pq.write_table(t.slice(half), str(in_dir / "part1.parquet"))
    _drain_foreach_parquet(spark, build, out, ckpt)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == t.num_rows
    got = {}
    for r in rows:
        if r["event_id"] not in got or r["_b"] > got[r["event_id"]][1]:
            got[r["event_id"]] = (r["zscore"], r["_b"])
    batch = spark.read.parquet(os.path.join(EVENTS_DIR, "events.parquet"))
    want = {
        r["event_id"]: r["zscore"]
        for r in rolling_zscore(
            batch, keys=["user_id"], order_cols=["event_id"]
        ).select("event_id", "zscore").collect()
    }
    diffs = [
        k for k in want
        if (got[k][0] is None) != (want[k] is None)
        or (got[k][0] is not None and abs(got[k][0] - want[k]) > 1e-9)
    ]
    assert not diffs, diffs[:5]


def test_burst_stream_restart_from_checkpoint(spark, sf_dir, tmp_path):
    """burst_stream kill-and-restart: trailing (bucket, count) state must
    survive the checkpoint so post-restart emissions carry full-bucket
    counts and the identical integer burst decision as the batch
    template_bursts over the whole stream."""
    from opentelemetry_collector_contrib_spark.streaming.stateful import (
        burst_stream,
    )
    from opentelemetry_collector_contrib_spark.textops import (
        template_bursts,
    )

    t = (
        pq.read_table(os.path.join(sf_dir, "transcripts.parquet"))
        .sort_by([("ts", "ascending"), ("conv_id", "ascending"),
                  ("turn_idx", "ascending")])
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(in_dir / "part0.parquet"))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def build():
        return burst_stream(
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir)),
            bucket_s=3600, lookback=3, factor=4, min_count=10,
        )

    _drain_foreach_parquet(spark, build, out, ckpt)
    assert spark.read.parquet(out).count() > 0
    pq.write_table(t.slice(half), str(in_dir / "part1.parquet"))
    _drain_foreach_parquet(spark, build, out, ckpt)

    rows = spark.read.parquet(out).collect()
    got = {}
    for r in rows:
        k = (r["template"], r["bucket_epoch"])
        if k not in got or r["_b"] > got[k][2]:
            got[k] = (r["n"], r["is_burst"], r["_b"])
    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = {
        (r["template"], r["bucket_epoch"]): (r["n"], r["is_burst"])
        for r in template_bursts(
            batch, bucket_s=3600, lookback=3, factor=4, min_count=10
        ).collect()
    }
    assert {k: (v[0], v[1]) for k, v in got.items()} == want
