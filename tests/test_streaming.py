"""Structured Streaming pipeline: routed-row equality vs the batch engine.

The invariant under test mirrors the reference's receiver-independence:
the same processor chain must produce the same records whether fed by a
one-shot drain or a tailing receiver (testbed correctness harness idea,
testbed/correctnesstests). Here: streaming flagship (availableNow drain)
vs batch Router.split on identical input.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.flagship import (
    build_router,
    parsed_enriched,
)
from opentelemetry_collector_contrib_spark.streaming.pipeline import (
    logdedup_stream,
    read_transcripts_stream,
    recombine_session_stream,
    streaming_flagship,
)


@pytest.fixture(scope="module")
def stream_input(sf_dir, tmp_path_factory):
    """transcripts.parquet alone in a directory (a streaming file source
    reads every file in the dir, so the dim tables must not be there)."""
    d = tmp_path_factory.mktemp("stream_in")
    shutil.copy(
        os.path.join(sf_dir, "transcripts.parquet"),
        d / "transcripts.parquet",
    )
    return str(d)


def test_streaming_flagship_routed_rows_match_batch(
    spark, sf_dir, stream_input, tmp_path
):
    out_dir = str(tmp_path / "out")
    q = streaming_flagship(
        spark,
        stream_input,
        sf_dir,
        out_dir,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    got = spark.read.parquet(os.path.join(out_dir, "sinks"))
    enriched = parsed_enriched(spark, sf_dir)
    sinks = build_router().split(enriched)

    key_cols = ["conv_id", "turn_idx"]
    for route, batch_df in sinks.items():
        want = sorted(map(tuple, batch_df.select(*key_cols).collect()))
        have = sorted(
            map(
                tuple,
                got.filter(F.col("route") == route)
                .select(*key_cols)
                .collect(),
            )
        )
        assert have == want, f"route {route}: {len(have)} vs {len(want)}"

    # per-turn text byte equality through the streaming path
    texts_stream = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in got.filter(F.col("route") == "default")
        .select("conv_id", "turn_idx", "text")
        .collect()
    }
    texts_batch = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in sinks["default"].select("conv_id", "turn_idx", "text").collect()
    }
    assert texts_stream == texts_batch

    # exactly-once resume: restarting the drained query appends nothing
    n_before = got.count()
    q2 = streaming_flagship(
        spark,
        stream_input,
        sf_dir,
        out_dir,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(os.path.join(out_dir, "sinks")).count() == n_before


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_logdedup_stream_matches_batch_windows(spark, sf_dir, stream_input):
    stream = read_transcripts_stream(spark, stream_input)
    dd = logdedup_stream(
        stream, interval="1 minute", keys=["role"]
    )
    _run_to_memory(dd, "dedup_stream", "complete")
    got = sorted(
        map(
            tuple,
            spark.table("dedup_stream")
            .select("interval_start", "role", "log_count")
            .collect(),
        )
    )

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = sorted(
        map(
            tuple,
            batch.groupBy(
                F.window("ts", "1 minute").alias("w"), "role"
            )
            .agg(F.count(F.lit(1)).alias("log_count"))
            .select(
                F.col("w.start").alias("interval_start"), "role", "log_count"
            )
            .collect(),
        )
    )
    assert got == want


def test_recombine_session_stream(spark, sf_dir, stream_input):
    stream = read_transcripts_stream(spark, stream_input)
    rc = recombine_session_stream(stream, gap="24 hours")
    _run_to_memory(rc, "recombine_stream", "complete")
    got = spark.table("recombine_stream")

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    # 24h gap >> fixture span ⇒ one session per conversation, so combined
    # must equal the turn_idx-ordered concat of that conversation's turns
    want = (
        batch.groupBy("conv_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda p: p["text"],
                ),
            ).alias("combined"),
            F.count(F.lit(1)).alias("n_entries"),
        )
    )
    g = {r["conv_id"]: (r["combined"], r["n_entries"]) for r in got.collect()}
    w = {r["conv_id"]: (r["combined"], r["n_entries"]) for r in want.collect()}
    assert g == w


def test_count_and_sum_connector_streams_match_batch(
    spark, sf_dir, stream_input
):
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        count_connector_stream,
        sum_connector_stream,
    )

    stream = read_transcripts_stream(spark, stream_input)
    cc = count_connector_stream(stream, dims=["role"], interval="1 minute")
    _run_to_memory(cc, "count_stream", "complete")
    got = sorted(
        map(tuple, spark.table("count_stream").collect())
    )

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = sorted(
        map(
            tuple,
            batch.groupBy(F.window("ts", "1 minute").alias("w"), "role")
            .agg(F.count(F.lit(1)).alias("log_count"))
            .select(F.col("w.start").alias("interval_start"), "role",
                    "log_count")
            .collect(),
        )
    )
    assert got == want

    sc = sum_connector_stream(
        stream, "turn_idx", dims=["role"], interval="1 minute"
    )
    _run_to_memory(sc, "sum_stream", "complete")
    got_sum = sorted(map(tuple, spark.table("sum_stream").collect()))
    want_sum = sorted(
        map(
            tuple,
            batch.groupBy(F.window("ts", "1 minute").alias("w"), "role")
            .agg(
                F.sum(F.col("turn_idx").cast("double")).alias("total"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(F.col("w.start").alias("interval_start"), "role",
                    "total", "n")
            .collect(),
        )
    )
    assert got_sum == want_sum


def test_sliding_count_stream_matches_batch(spark, sf_dir, stream_input):
    """Sliding-window streaming counts == the same F.window batch agg."""
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        sliding_count_stream,
    )

    stream = read_transcripts_stream(spark, stream_input)
    sc = sliding_count_stream(
        stream, dims=["role"], window_duration="2 minutes",
        slide_duration="1 minute",
    )
    _run_to_memory(sc, "sliding_stream", "complete")
    got = sorted(map(tuple, spark.table("sliding_stream").collect()))

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = sorted(
        map(
            tuple,
            batch.groupBy(
                F.window("ts", "2 minutes", "1 minute").alias("w"), "role"
            )
            .agg(F.count(F.lit(1)).alias("log_count"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "role", "log_count",
            )
            .collect(),
        )
    )
    assert got == want
    # every event lands in exactly window/slide = 2 windows
    n_events = batch.count()
    assert sum(r[-1] for r in got) == 2 * n_events


def test_percentile_connector_stream_matches_batch_sketch(
    spark, sf_dir, stream_input
):
    """Streaming approx_percentile sketches == the same sketch in batch
    (identical algorithm + accuracy → identical output)."""
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        percentile_connector_stream,
    )

    stream = read_transcripts_stream(spark, stream_input)
    pc = percentile_connector_stream(
        stream, "turn_idx", dims=["role"], interval="5 minutes",
        percentiles=(0.5, 0.95, 0.995),
    )
    assert {"p50", "p95", "p995"} <= set(pc.columns)
    _run_to_memory(pc, "pct_stream", "complete")
    got = sorted(map(tuple, spark.table("pct_stream").collect()))

    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = sorted(
        map(
            tuple,
            batch.groupBy(F.window("ts", "5 minutes").alias("w"), "role")
            .agg(
                *[
                    F.round(
                        F.expr(
                            f"approx_percentile(turn_idx, {p}, 10000)"
                        ).cast("double"),
                        6,
                    ).alias(lbl)
                    for p, lbl in [(0.5, "p50"), (0.95, "p95"),
                                   (0.995, "p995")]
                ]
            )
            .select(F.col("w.start").alias("interval_start"), "role",
                    "p50", "p95", "p995")
            .collect(),
        )
    )
    assert got == want


def test_stratified_sample_stream_restart_idempotent(
    spark, sf_dir, tmp_path
):
    """The stratified sampler on a stream keeps the SAME rows when the
    stream is drained twice from a checkpoint (deterministic hash gate —
    a retried or resumed micro-batch cannot re-draw)."""
    import shutil

    from opentelemetry_collector_contrib_spark.textops import (
        stratified_sample,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "transcripts.parquet"),
        in_dir / "part0.parquet",
    )
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rates = {"user": 0.5, "assistant": 0.25}

    def drain():
        stream = read_transcripts_stream(spark, str(in_dir))
        sampled = stratified_sample(
            stream, "role", rates, key_col="conv_id", default_rate=0.1
        )
        q = (
            sampled.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    got1 = sorted(
        map(tuple, spark.read.parquet(out_dir)
            .select("conv_id", "turn_idx").collect())
    )
    # batch parity: identical gate, identical rows
    batch = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    want = sorted(
        map(tuple, stratified_sample(
            batch, "role", rates, key_col="conv_id", default_rate=0.1
        ).select("conv_id", "turn_idx").collect())
    )
    assert got1 == want and 0 < len(got1) < batch.count()

    # resume from checkpoint with NO new input: nothing re-emitted
    drain()
    got2 = sorted(
        map(tuple, spark.read.parquet(out_dir)
            .select("conv_id", "turn_idx").collect())
    )
    assert got2 == got1

    # new file lands → only ITS sampled rows append, old rows untouched
    shutil.copy(
        os.path.join(sf_dir, "transcripts.parquet"),
        in_dir / "part1.parquet",
    )
    drain()
    got3 = spark.read.parquet(out_dir)
    assert got3.count() == 2 * len(got1)


def test_sliding_count_stream_checkpoint_restart(spark, sf_dir, tmp_path):
    """Append-mode sliding counts with a checkpoint: draining twice emits
    nothing new; windows emit exactly once as the watermark closes them."""
    import shutil

    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        sliding_count_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "transcripts.parquet"),
        in_dir / "part0.parquet",
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = read_transcripts_stream(spark, str(in_dir))
        sc = sliding_count_stream(
            stream, dims=["role"], window_duration="2 minutes",
            slide_duration="1 minute", watermark="2 minutes",
        )
        q = (
            sc.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0  # closed windows were flushed on the drain
    # no duplicate emission on a resumed drain with no new data
    drain()
    assert spark.read.parquet(out).count() == n1
    # emitted (window, role) keys are unique — exactly-once per window
    df = spark.read.parquet(out)
    assert (
        df.select("window_start", "window_end", "role").distinct().count()
        == n1
    )


def test_tcp_socket_receiver_feeds_operator_chain(spark):
    """tcplog analog (sources/sockets.read_tcp_lines over the Spark
    socket source): newline-framed lines from a live TCP endpoint flow
    through the SAME parse operator the filelog path uses — the
    collector's receiver-independence property (receiver/tcplogreceiver;
    stanza input/tcp newline framing)."""
    import socket
    import threading
    import time as _time

    from opentelemetry_collector_contrib_spark.operators.parse import (
        regex_parser,
    )
    from opentelemetry_collector_contrib_spark.sources.sockets import (
        read_tcp_lines,
    )

    lines = [f"sev=ERROR code=E{i} msg=boom{i}" for i in range(5)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            _time.sleep(8)  # keep the connection up while Spark drains

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = read_tcp_lines(spark, "127.0.0.1", port)
    parsed = regex_parser(
        stream, "body", r"sev=(?P<sev>\w+) code=(?P<code>E\d+)"
    )
    q = (
        parsed.writeStream.format("memory")
        .queryName("tcp_lines")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.sql("SELECT * FROM tcp_lines").count() >= len(lines):
                break
            _time.sleep(0.5)
        got = {
            (r["code"], r["sev"], r["source_file"])
            for r in spark.sql("SELECT * FROM tcp_lines").collect()
        }
        assert got == {
            (f"E{i}", "ERROR", f"tcp://127.0.0.1:{port}")
            for i in range(5)
        }
    finally:
        q.stop()
        srv.close()


def test_otlp_envelope_stream_checkpoint_restart(spark, tmp_path):
    """Tailing otlpjsonfile receiver over ENVELOPE lines: readStream.text
    → parse_otlp_envelopes → typed parquet sink with a checkpoint. The
    reader claims readStream compatibility (pure mapInPandas +
    projections, pdata.py parse_otlp_envelopes) — prove it: drain, drop
    a second file in, resume from the SAME checkpoint, and the sink holds
    each record exactly once, value-equal to the batch reader over the
    full directory (receiver-independence, testbed/correctnesstests)."""
    import json as _json

    from opentelemetry_collector_contrib_spark.pdata import (
        parse_otlp_envelopes,
        read_otlp_json_envelope,
    )
    from tests.test_pdata import ENVELOPE_LINE

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    second_env = _json.dumps({"resourceLogs": [{
        "resource": {"attributes": [
            {"key": "service.name", "value": {"stringValue": "billing"}},
        ]},
        "scopeLogs": [{
            "scope": {"name": "otherlib", "version": "1.1"},
            "logRecords": [
                {"timeUnixNano": "1700000001000000000", "severityNumber": 13,
                 "body": {"stringValue": "r3"}},
            ],
        }],
    }]})
    bare = _json.dumps({"body": {"stringValue": "bare"},
                        "severityNumber": 5})
    (in_dir / "f1.jsonl").write_text(ENVELOPE_LINE + "\n" + bare + "\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        lines = (
            spark.readStream.format("text")
            .load(str(in_dir))
            .withColumnRenamed("value", "line")
        )
        q = (
            parse_otlp_envelopes(lines)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def snapshot(df):
        # every ingested column incl. the VARIANT trees (string-rendered)
        return {
            tuple(r) for r in df.select(
                "ts", "severity_number", "severity_text", "body",
                "body_kind", F.col("body_var").cast("string"),
                F.array_sort(F.map_entries("attributes")).cast("string"),
                F.col("resource_var").cast("string"),
                "resource_schema_url", "scope", "scope_version",
                "scope_schema_url",
            ).collect()
        }

    drain()
    first = snapshot(spark.read.parquet(out))
    assert len(first) == 3  # 2 envelope records + the bare record
    # a second drain with no new data emits nothing (checkpoint honored)
    drain()
    assert snapshot(spark.read.parquet(out)) == first
    # new file lands; resume from the same checkpoint → only its rows add
    (in_dir / "f2.jsonl").write_text(second_env + "\n")
    drain()
    got = snapshot(spark.read.parquet(out))
    assert len(got) == 4 and first < got
    # receiver-independence: identical to the batch envelope reader
    want = snapshot(read_otlp_json_envelope(spark, str(in_dir)))
    assert got == want
    # the sink parquet preserves typed VARIANT access after the round trip
    typed = (
        spark.read.parquet(out)
        .filter(F.col("body_kind") == "map")
        .select(F.try_variant_get("body_var", "$.n", "long").alias("n"))
        .collect()
    )
    assert [r["n"] for r in typed] == [7]


def test_json_field_profile_stream_matches_batch(spark, tmp_path):
    """The streaming drift monitor's final cumulative counts per key
    equal the batch profiler over the full input, with state crossing
    the micro-batch boundary (maxFilesPerTrigger=1 over two files)."""
    from opentelemetry_collector_contrib_spark.operators.parse import (
        json_field_profile,
    )
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        json_field_profile_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "f1.jsonl").write_text(
        '{"a":1,"b":"x"}\n{"a":2.5,"c":null}\nnot json\n'
    )
    (in_dir / "f2.jsonl").write_text(
        '{"a":true,"b":"y","d":[1]}\n{"e":{"k":1}}\n'
    )
    stream = (
        spark.readStream.schema("line string")
        .option("maxFilesPerTrigger", 1)
        .format("csv").option("sep", "\x01").option("quote", "")
        .load(str(in_dir))
    )
    q = (
        json_field_profile_stream(stream, "line")
        .writeStream.format("memory")
        .queryName("json_profile_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["key"]: (r["n_present"], r["n_string"], r["n_int"],
                   r["n_double"], r["n_bool"], r["n_null"],
                   r["n_object"], r["n_array"])
        for r in spark.table("json_profile_stream").collect()
    }
    batch = spark.read.schema("line string").format("csv") \
        .option("sep", "\x01").option("quote", "").load(str(in_dir))
    want = {
        r["key"]: (r["n_present"], r["n_string"], r["n_int"],
                   r["n_double"], r["n_bool"], r["n_null"],
                   r["n_object"], r["n_array"])
        for r in json_field_profile(batch, "line").collect()
    }
    assert got == want and got["a"] == (3, 0, 1, 1, 1, 0, 0, 0)
