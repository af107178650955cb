"""Collector-style YAML config front end (config.py).

A collector user's service layout — receivers → processors → routing
connector → per-route pipelines → exporters — must run end-to-end and
agree with the directly-composed operators."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.config import (
    CollectorConfig,
    ConfigError,
)
from opentelemetry_collector_contrib_spark.fixtures import ensure_fixture_dir

YAML = """
receivers:
  transcripts:
    path: "{FX}"

processors:
  attributes/stamp:
    actions:
      - {{action: insert, key: env, value: prod}}
  transform/enrich:
    error_mode: ignore
    log_statements:
      - set(attributes["sev"], ConvertCase(severity_text, "lower"))
      - set(attributes["slow"], "true") where dur_ms > 4000
  filter/drop_system:
    logs:
      log_conditions:
        - attributes["role"] == "system"
  redaction/mask_ids:
    blocked_values: ["^[0-9a-f]{{8}}$"]
    summary: silent

connectors:
  routing:
    match_once: false
    default_pipelines: [logs/default]
    table:
      - condition: severity_number >= SEVERITY_NUMBER_ERROR
        pipelines: [logs/errors]
      - condition: tool_name == "bash"
        pipelines: [logs/tools]
  count/by_sev:
    dims: [severity_text]

exporters:
  file/errors: {{path: "{OUT}/errors"}}
  file/tools: {{path: "{OUT}/tools"}}
  file/default: {{path: "{OUT}/default"}}
  debug/metrics: {{}}

service:
  pipelines:
    logs/in:
      receivers: [transcripts]
      processors: [attributes/stamp, transform/enrich, filter/drop_system,
                   redaction/mask_ids]
      exporters: [routing, count/by_sev]
    logs/errors:
      receivers: [routing]
      exporters: [file/errors]
    logs/tools:
      receivers: [routing]
      exporters: [file/tools]
    logs/default:
      receivers: [routing]
      exporters: [file/default]
    logs/metrics:
      receivers: [count/by_sev]
      exporters: [debug/metrics]
"""


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    fx = ensure_fixture_dir("sf0.001")
    out = str(tmp_path_factory.mktemp("cfgout"))
    cfg = CollectorConfig(YAML.format(FX=fx, OUT=out))
    written = cfg.run(spark)
    return spark, out, written


def test_routing_fanout_counts(outputs):
    spark, out, written = outputs
    errors = spark.read.parquet(os.path.join(out, "errors"))
    default = spark.read.parquet(os.path.join(out, "default"))
    tools = spark.read.parquet(os.path.join(out, "tools"))
    assert errors.count() > 0 and default.count() > 0 and tools.count() > 0
    # route conditions hold on every routed row
    assert errors.filter(F.col("severity_number") < 17).count() == 0
    assert tools.filter(F.col("tool_name") != "bash").count() == 0
    # default = matched no route
    assert default.filter(
        (F.col("severity_number") >= 17) | (F.col("tool_name") == "bash")
    ).count() == 0
    # multi-match duplicates: total routed >= filtered input rows
    n_routed = errors.count() + default.count() + tools.count()
    assert n_routed >= default.count()


def test_processors_applied(outputs):
    spark, out, _ = outputs
    errors = spark.read.parquet(os.path.join(out, "errors"))
    row = errors.select("attributes").head()["attributes"]
    assert row["env"] == "prod"                      # attributes insert
    assert row["sev"] == row.get("sev", row["sev"])  # transform ran
    # filter dropped system rows everywhere
    for sink in ("errors", "default", "tools"):
        df = spark.read.parquet(os.path.join(out, sink))
        assert df.filter(F.col("attributes")["role"] == "system").count() == 0
    # redaction masked call ids
    assert errors.filter(
        F.col("attributes")["call_id"].rlike("^[0-9a-f]{8}$")
    ).count() == 0


def test_count_connector_pipeline(outputs):
    spark, out, written = outputs
    metrics = written["debug/metrics"]
    rows = {r["severity_text"]: r["log_count"] for r in metrics.collect()}
    assert sum(rows.values()) > 0
    # metrics count the PRE-routing stream: equals the filtered input size
    total_default = spark.read.parquet(os.path.join(out, "default")).count()
    assert sum(rows.values()) >= total_default


def test_matches_directly_composed_router(outputs, spark):
    from opentelemetry_collector_contrib_spark.operators.route import (
        Route, Router,
    )
    from opentelemetry_collector_contrib_spark.config import _rx_transcripts
    from opentelemetry_collector_contrib_spark.operators.filter import (
        filter_ottl,
    )

    _, out, _ = outputs
    fx = ensure_fixture_dir("sf0.001")
    df = _rx_transcripts(spark, {"path": fx})
    df = filter_ottl(df, ['attributes["role"] == "system"'])
    router = Router([
        Route("errors", F.col("severity_number") >= 17),
        Route("tools", F.col("tool_name") == "bash"),
    ])
    split = router.split(df)
    got = spark.read.parquet(os.path.join(out, "errors")).count()
    assert got == split["errors"].count()


def test_unknown_component_rejected():
    with pytest.raises(ConfigError):
        CollectorConfig({
            "receivers": {"transcripts": {"path": "x"}},
            "exporters": {"file/x": {"path": "y"}},
            "service": {"pipelines": {"logs": {
                "receivers": ["transcripts"],
                "processors": ["frobnicator"],
                "exporters": ["file/x"],
            }}},
        })


# ---- stanza operator chain on a receiver (filelog `operators:` list) ------

def test_stanza_operator_chain(spark, tmp_path):
    src = str(tmp_path / "lines")
    spark.createDataFrame(
        [
            ("r1", "ERROR code=E1 at=2025-01-02T03:04:05",
             "0af7651916cd43dd8448eb211c80319c"),
            ("r2", "info code=E2 at=2025-06-07T08:09:10", "nothex"),
        ],
        "id string, body string, tid string",
    ).write.mode("overwrite").parquet(src)

    cfg = {
        "receivers": {
            "parquet": {
                "path": src,
                "operators": [
                    {
                        "type": "regex_parser",
                        "regex": r"%{WORD:lvl} %{GREEDYDATA:rest}",
                        # embedded sub-parsers (helper/parser.go:85-188)
                        "severity": {"parse_from": "lvl"},
                        "trace": {"trace_id": {"parse_from": "tid"}},
                    },
                    {"type": "keyvalue_parser", "parse_from": "rest",
                     "parse_to": "kv"},
                    {"type": "add", "field": "at",
                     "value": "EXPR(kv['at'])"},
                    {"type": "time_parser", "parse_from": "at",
                     "layout": "%Y-%m-%dT%H:%M:%S", "to": "ts"},
                    {"type": "filter", "expr": "kv['code'] = 'E3'"},
                ],
            }
        },
        "exporters": {"debug": {}},
        "service": {
            "pipelines": {
                "logs/in": {"receivers": ["parquet"],
                            "exporters": ["debug"]},
            }
        },
    }
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig(cfg).run(spark)["debug"]
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {"r1", "r2"}  # filter expr matches neither
    r1, r2 = rows["r1"], rows["r2"]
    # severity sub-parser mapped the token on each row
    assert r1["severity_text"] == "ERROR" and r1["severity_number"] == 17
    assert r2["severity_text"] == "INFO" and r2["severity_number"] == 9
    # trace sub-parser validated hex (r2's id is invalid → NULL)
    assert r1["trace_id"] == "0af7651916cd43dd8448eb211c80319c"
    assert r2["trace_id"] is None
    # kv → add(EXPR) → time_parser chain produced a real timestamp
    assert r1["ts"].year == 2025 and r1["ts"].hour == 3
    # keyvalue map intact
    assert dict(r1["kv"])["code"] == "E1"


def test_stanza_chain_filter_drops(spark, tmp_path):
    src = str(tmp_path / "lines2")
    spark.createDataFrame(
        [("a", "keep x=1"), ("b", "drop x=2")], "id string, body string"
    ).write.mode("overwrite").parquet(src)
    cfg = {
        "receivers": {
            "parquet": {
                "path": src,
                "operators": [
                    {"type": "filter",
                     "expr": "body like 'drop%'"},
                ],
            }
        },
        "exporters": {"debug": {}},
        "service": {"pipelines": {
            "logs/in": {"receivers": ["parquet"], "exporters": ["debug"]},
        }},
    }
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig(cfg).run(spark)["debug"]
    assert [r["id"] for r in out.collect()] == ["a"]


# ---- new processors: enrich / logstransform / delta-cumulative ------------

def test_enrich_processor_broadcast_lookup(spark, tmp_path, group_job_count):
    src = str(tmp_path / "facts")
    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [("a", "bash"), ("b", "web"), ("c", "nope")],
        "id string, tool string",
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [("bash", "shell"), ("web", "browser")],
        "tool string, tool_kind string",
    ).write.mode("overwrite").parquet(dim)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    cfg = CollectorConfig({
        "receivers": {"parquet": {"path": src}},
        "processors": {"enrich": {
            "dimension_path": dim, "on": "tool", "columns": ["tool_kind"],
        }},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "processors": ["enrich"],
            "exporters": ["debug"],
        }}},
    })
    # the receiver and the dim read their schemas from a footer, so
    # planning the debug output submits no schema-inference job
    outputs = {}
    assert group_job_count(
        "parquet-config-plan", lambda: outputs.update(cfg.run(spark))) == 0
    out = outputs["debug"]
    rows = {r["id"]: r["tool_kind"] for r in out.collect()}
    # left semantics: the dim-missing tool keeps NULL
    assert rows == {"a": "shell", "b": "browser", "c": None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_logstransform_processor_runs_stanza_chain(spark, tmp_path):
    src = str(tmp_path / "lt")
    spark.createDataFrame(
        [("x", "k=1 v=alpha"), ("y", "k=2 v=beta")],
        "id string, body string",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src}},
        "processors": {"logstransform": {"operators": [
            {"type": "keyvalue_parser", "parse_from": "body",
             "parse_to": "kv"},
            {"type": "add", "field": "v_up", "value": "EXPR(upper(kv['v']))"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "processors": ["logstransform"],
            "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r["v_up"] for r in out.collect()}
    assert rows == {"x": "ALPHA", "y": "BETA"}


def test_delta_cumulative_processors_inverse(spark, tmp_path):
    src = str(tmp_path / "metrics")
    spark.createDataFrame(
        [("c1", 1, 5.0), ("c1", 2, 3.0), ("c1", 3, 2.0), ("c2", 1, 7.0)],
        "conv_id string, turn_idx int, value double",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src}},
        "processors": {"deltatocumulative": {
            "keys": ["conv_id"], "order_by": ["turn_idx"],
        }},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "processors": ["deltatocumulative"],
            "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    got = {(r["conv_id"], r["turn_idx"]): r["cumulative"]
           for r in out.collect()}
    assert got[("c1", 1)] == 5.0
    assert got[("c1", 3)] == 10.0
    assert got[("c2", 1)] == 7.0


# ---- streaming mode: same config, same outputs ------------------------------

def test_run_streaming_matches_batch(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    cfg = {
        "receivers": {"transcripts": {"path": fx}},
        "processors": {"attributes/stamp": {"actions": [
            {"action": "insert", "key": "env", "value": "prod"},
        ]}},
        "connectors": {"routing": {
            "match_once": False,
            "default_pipelines": ["logs/default"],
            "table": [
                {"condition": "severity_number >= SEVERITY_NUMBER_ERROR",
                 "pipelines": ["logs/errors"]},
            ],
        }},
        "exporters": {
            "file/errors": {"path": str(tmp_path / "errors")},
            "file/default": {"path": str(tmp_path / "default")},
        },
        "service": {"pipelines": {
            "logs/in": {"receivers": ["transcripts"],
                        "processors": ["attributes/stamp"],
                        "exporters": ["routing"]},
            "logs/errors": {"receivers": ["routing"],
                            "exporters": ["file/errors"]},
            "logs/default": {"receivers": ["routing"],
                             "exporters": ["file/default"]},
        }},
    }

    cc = CollectorConfig(cfg)
    batch_out = cc.build(spark)
    q = cc.run_streaming(
        spark, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    for exp, sink in (("file/errors", "errors"), ("file/default", "default")):
        want = batch_out[exp].select("conv_id", "turn_idx").collect()
        got = (
            spark.read.parquet(str(tmp_path / sink))
            .select("conv_id", "turn_idx").collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), exp


def test_run_streaming_rejects_multi_receiver(spark, tmp_path):
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.config import (
        CollectorConfig, ConfigError,
    )

    src = str(tmp_path / "t1")
    spark.createDataFrame([("a",)], "id string").write.mode(
        "overwrite").parquet(src)
    cc = CollectorConfig({
        "receivers": {"parquet/a": {"path": src}, "parquet/b": {"path": src}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet/a", "parquet/b"], "exporters": ["debug"],
        }}},
    })
    with _pytest.raises(ConfigError, match="exactly one concrete receiver"):
        cc.run_streaming(spark, checkpoint_dir=str(tmp_path / "ck"))


# ---- stanza shared transformer surface: `if` predicate + on_error ---------

def test_stanza_if_predicate_skips_parser_rows(spark, tmp_path):
    src = str(tmp_path / "ifp")
    spark.createDataFrame(
        [("a", "k=1", True), ("b", "k=2", False)],
        "id string, body string, want boolean",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "keyvalue_parser", "parse_from": "body",
             "parse_to": "kv", "if": "want"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r for r in out.collect()}
    # both rows survive; only the matching row parsed
    assert set(rows) == {"a", "b"}
    assert dict(rows["a"]["kv"]) == {"k": "1"}
    assert rows["b"]["kv"] is None
    # the internal source guard never leaks into the schema
    assert "__if_src" not in out.columns


def test_stanza_on_error_drop_removes_failed_rows(spark, tmp_path):
    src = str(tmp_path / "oed")
    spark.createDataFrame(
        [("a", '{"x": "1"}'), ("b", "not json")],
        "id string, body string",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "json_parser", "parse_from": "body",
             "parse_to": "p", "on_error": "drop"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    assert [r["id"] for r in out.collect()] == ["a"]


def test_stanza_if_skipped_rows_never_dropped(spark, tmp_path):
    # a row the `if` skips must survive even under on_error=drop
    src = str(tmp_path / "ifoe")
    spark.createDataFrame(
        [("a", '{"x": "1"}', True), ("b", "not json", True),
         ("c", "also not json", False)],
        "id string, body string, want boolean",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "json_parser", "parse_from": "body",
             "parse_to": "p", "if": "want", "on_error": "drop"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    assert sorted(r["id"] for r in out.collect()) == ["a", "c"]


def test_stanza_if_on_mutations(spark, tmp_path):
    src = str(tmp_path / "ifmut")
    spark.createDataFrame(
        [("a", '"quoted"', 1, "m1"), ("b", '"stays"', 2, "m2")],
        "id string, body string, n int, m string",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "add", "field": "tag", "value": "EXPR(upper(id))",
             "if": "n = 1"},
            {"type": "unquote", "field": "body", "if": "n = 1"},
            {"type": "copy", "from": "id", "to": "id2", "if": "n = 2"},
            {"type": "move", "from": "m", "to": "moved", "if": "n = 2"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["tag"] == "A" and rows["b"]["tag"] is None
    assert rows["a"]["body"] == "quoted" and rows["b"]["body"] == '"stays"'
    assert rows["a"]["id2"] is None and rows["b"]["id2"] == "b"
    # move: source nulled where moved, destination only where moved
    assert (rows["a"]["m"], rows["a"]["moved"]) == ("m1", None)
    assert (rows["b"]["m"], rows["b"]["moved"]) == (None, "m2")


def test_stanza_if_skipped_rows_keep_parser_outputs(spark, tmp_path):
    """helper/transformer.go Skip on parsers: a row failing `if` keeps
    the fields a gated parser (or its timestamp sub-parser) would
    overwrite; a field retyped in place keeps its prior value only
    where it converts, and a skipped row the parser could not have
    parsed raises nothing."""
    import datetime as dt

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    src = str(tmp_path / "ifparse")
    t0 = dt.datetime(2020, 1, 1)
    # 60 filler columns: past spark.sql.codegen.maxFields Spark evaluates
    # every expression of a projection on every row, so a skipped row's
    # unparsable `at` or duplicate `kv` key must never reach the parser
    spark.createDataFrame(
        [("a", 1, t0, "WARN", 13, '{"k": "v"}', {"old": "a"},
          "2025-01-02 03:04:05", "ERROR", "GET 2025-03-04 05:06:07",
          "1700000000", "k=1"),
         ("b", 2, t0, "WARN", 13, '{"k": "w"}', {"old": "b"},
          "garbage", "ERROR", "GET 2025-03-04 05:06:07", "1700000000",
          "k=1 k=1")],
        "id string, n int, ts timestamp, severity_text string, "
        "severity_number int, body string, p map<string,string>, "
        "at string, lvl string, msg string, epoch string, kv string",
    ).selectExpr("*", *[f"'f{i}' AS f{i}" for i in range(60)]).repartition(
        2, "id"
    ).write.mode("overwrite").parquet(src)
    gated = {"if": "n = 1"}
    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "time_parser", "parse_from": "at",
             "layout": "%Y-%m-%d %H:%M:%S", **gated},
            {"type": "severity_parser", "parse_from": "lvl", **gated},
            {"type": "json_parser", "parse_from": "body", "parse_to": "p",
             **gated},
            {"type": "regex_parser", "parse_from": "msg",
             "regex": r"%{WORD:verb} %{GREEDYDATA:when}",
             "timestamp": {"parse_from": "when",
                           "layout": "%Y-%m-%d %H:%M:%S"}, **gated},
            {"type": "time_parser", "parse_from": "epoch",
             "layout_type": "epoch", "layout": "s", "to": "epoch",
             **gated},
            {"type": "keyvalue_parser", "parse_from": "kv",
             "parse_to": "kvp", **gated},
            {"type": "add", "field": "n", "value": "x", **gated},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r for r in out.collect()}
    a, b = rows["a"], rows["b"]
    assert a["ts"] == dt.datetime(2025, 3, 4, 5, 6, 7)
    assert (a["severity_text"], a["severity_number"]) == ("ERROR", 17)
    assert dict(a["p"]) == {"k": "v"} and a["verb"] == "GET"
    assert a["epoch"] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert b["ts"] == t0
    assert (b["severity_text"], b["severity_number"]) == ("WARN", 13)
    assert dict(b["p"]) == {"old": "b"} and b["verb"] is None
    assert b["epoch"] is None
    assert dict(a["kvp"]) == {"k": "1"} and b["kvp"] is None
    # int `n` retyped to string in place: the skipped row's 2 converts
    assert (a["n"], b["n"]) == ("x", "2")
    assert not [c for c in out.columns if c.startswith("__")]


def test_stanza_if_on_remove_and_retain(spark, tmp_path):
    """helper/transformer.go Skip: rows failing `if` pass through
    untouched; matched rows have the field removed (nulled — a
    flattened schema cannot drop a column per-row)."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    src = str(tmp_path / "ifcol")
    spark.createDataFrame(
        [("a", "x1", "y1"), ("b", "x2", "y2")],
        "id string, x string, y string",
    ).write.mode("overwrite").parquet(src)
    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "remove", "field": "x", "if": "id = 'a'"},
            {"type": "retain", "fields": ["id", "x"], "if": "id = 'b'"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r for r in out.collect()}
    # remove gated on id='a': x nulled for a, intact for b
    assert rows["a"]["x"] is None and rows["b"]["x"] == "x2"
    # retain [id, x] gated on id='b': y nulled for b, intact for a;
    # schema keeps all columns (per-row form)
    assert rows["b"]["y"] is None and rows["a"]["y"] == "y1"


def test_stanza_if_on_trace_parser(spark, tmp_path):
    """Gated trace_parser: matched rows get parsed/validated ids,
    skipped rows keep their pre-existing trace_id untouched (even an
    invalid one the parser would have nulled)."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    src = str(tmp_path / "iftrace")
    good = "a" * 32
    spark.createDataFrame(
        [("a", good, 1), ("b", "not-hex", 2)],
        "id string, tid string, n int",
    ).write.mode("overwrite").parquet(src)
    out = CollectorConfig({
        "receivers": {"parquet": {"path": src, "operators": [
            {"type": "copy", "from": "tid", "to": "trace_id"},
            {"type": "trace_parser",
             "trace_id": {"parse_from": "tid"}, "if": "n = 1"},
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["trace_id"] == good          # parsed + validated
    assert rows["b"]["trace_id"] == "not-hex"     # skipped: untouched


def test_new_connectors_and_deltatorate(spark, tmp_path):
    """percentile / sliding_count / session connectors and the
    deltatorate processor compose through the YAML front end."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    cfg = CollectorConfig({
        "receivers": {"transcripts": {"path": fx}},
        "processors": {
            "deltatorate": {"keys": ["conv_id"], "value_col": "dur_ms",
                            "order_by": ["ts", "turn_idx"]},
        },
        "connectors": {
            "percentile": {"source_attribute": "dur_ms",
                           "dims": ["severity_text"]},
            "sliding_count": {"dims": ["severity_text"],
                              "window": "10 minutes", "slide": "5 minutes"},
            "session": {"keys": ["conv_id"], "gap_seconds": 600},
        },
        "exporters": {"debug": {}, "debug/2": {}, "debug/3": {}},
        "service": {
            "pipelines": {
                "in": {"receivers": ["transcripts"],
                       "processors": ["deltatorate"],
                       "exporters": ["percentile", "sliding_count",
                                     "session"]},
                "p1": {"receivers": ["percentile"], "exporters": ["debug"]},
                "p2": {"receivers": ["sliding_count"],
                       "exporters": ["debug/2"]},
                "p3": {"receivers": ["session"], "exporters": ["debug/3"]},
            }
        },
    })
    outs = cfg.build(spark)
    pct = outs["debug"]
    assert {"severity_text", "p50", "p95", "p99"} <= set(pct.columns)
    assert pct.count() > 0
    slid = outs["debug/2"]
    assert {"window_start", "severity_text", "n"} <= set(slid.columns)
    sess = outs["debug/3"]
    assert {"conv_id", "session_id", "n_events"} <= set(sess.columns)
    # sessions per conv >= 1 and every conv appears
    assert sess.select("conv_id").distinct().count() > 0


def test_filelog_receiver_yaml_multiline_encoding(spark, tmp_path):
    """A ported filelog YAML block (include + encoding + multiline) works
    without a manual recombine stage (fileconsumer/config.go:74-90)."""
    p = tmp_path / "app.log"
    p.write_bytes(
        "2025-01-01 ERROR boom\n  détail one\n2025-01-01 INFO ok\n"
        .encode("latin-1")
    )

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"filelog": {
            "include": [str(p)],
            "encoding": "latin-1",
            "multiline": {"line_start_pattern": r"^\d{4}-\d{2}-\d{2}"},
        }},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs": {
            "receivers": ["filelog"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    bodies = sorted(r["body"] for r in out.collect())
    assert bodies == ["2025-01-01 ERROR boom\n  détail one",
                      "2025-01-01 INFO ok"]


def test_otlpjsonfile_receiver_typed(spark, tmp_path):
    """`typed: true` surfaces the pdata dynamic value model through the
    YAML front end."""
    import json as _json

    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    p = tmp_path / "otlp.jsonl"
    p.write_text(_json.dumps({
        "severityNumber": 9,
        "body": {"kvlistValue": {"values": [
            {"key": "n", "value": {"intValue": "7"}}]}},
        "attributes": [{"key": "ok", "value": {"boolValue": True}}],
    }) + "\n")

    out = CollectorConfig({
        "receivers": {"otlpjsonfile": {"path": str(p), "typed": True}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs": {
            "receivers": ["otlpjsonfile"], "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    r = out.select(
        "body_kind",
        F.try_variant_get("body_var", "$.n", "long").alias("n"),
        F.try_variant_get("attrs_var", "$.ok", "boolean").alias("ok"),
    ).collect()[0]
    assert (r["body_kind"], r["n"], r["ok"]) == ("map", 7, True)


def test_otlpjsonfile_exporter_roundtrip(spark, tmp_path):
    """The otlpjsonfile exporter writes OTLP-JSON lines the otlpjsonfile
    receiver can re-ingest (fileexporter output-shape parity)."""
    import json as _json

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("b1", {"k": "v1"}, 9), ("b2", {"k": "v2"}, 17)],
        "body string, attributes map<string,string>, severity_number int",
    ).write.parquet(src)
    out = str(tmp_path / "otlp_lines")

    CollectorConfig({
        "receivers": {"parquet": {"path": src}},
        "exporters": {"otlpjsonfile": {"path": out}},
        "service": {"pipelines": {"logs": {
            "receivers": ["parquet"], "exporters": ["otlpjsonfile"],
        }}},
    }).run(spark)

    lines = [r["value"] for r in spark.read.text(out).collect()]
    recs = sorted(
        (_json.loads(ln) for ln in lines),
        key=lambda r: r["body"]["stringValue"],
    )
    assert [r["body"]["stringValue"] for r in recs] == ["b1", "b2"]
    assert recs[1]["severityNumber"] == 17
    assert recs[0]["attributes"] == [
        {"key": "k", "value": {"stringValue": "v1"}}
    ]


def test_forward_connector_merges_pipelines(spark, tmp_path):
    """forwardconnector (connector/forwardconnector): N pipelines chain
    into one unchanged — rows from both feeders arrive at the merged
    pipeline's exporter, processors applied per leg beforehand."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    cfg = CollectorConfig({
        "receivers": {"transcripts": {"path": fx},
                      "transcripts/2": {"path": fx}},
        "processors": {
            "filter/err": {"logs": {"log_conditions": [
                "severity_number < SEVERITY_NUMBER_ERROR"]}},
            "filter/ok": {"logs": {"log_conditions": [
                "severity_number >= SEVERITY_NUMBER_ERROR"]}},
        },
        "connectors": {"forward": {}},
        "exporters": {"debug": {}},
        "service": {
            "pipelines": {
                "legA": {"receivers": ["transcripts"],
                         "processors": ["filter/err"],
                         "exporters": ["forward"]},
                "legB": {"receivers": ["transcripts/2"],
                         "processors": ["filter/ok"],
                         "exporters": ["forward"]},
                "merged": {"receivers": ["forward"],
                           "exporters": ["debug"]},
            }
        },
    })
    out = cfg.build(spark)["debug"]
    total = spark.read.parquet(fx + "/transcripts.parquet").count()
    # filter processor KEEPS rows matching the drop-condition complement:
    # the two legs partition the corpus, the forward merge restores it
    assert out.count() == total


def test_transform_context_resource_and_scope(spark, tmp_path):
    """transformprocessor `context:` per statement group: bare paths
    rebind (attributes -> resource / scope_attributes); the log-context
    group still sees log attributes."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    cfg = CollectorConfig({
        "receivers": {"transcripts": {"path": fx}},
        "processors": {
            "resource": {"attributes": {"deploy.zone": "us-east"}},
            "transform": {"log_statements": [
                {"context": "resource",
                 "statements": ['set(attributes["env"], "prod")']},
                {"context": "log",
                 "statements": ['set(attributes["checked"], "yes")']},
            ]},
        },
        "exporters": {"debug": {}},
        "service": {"pipelines": {"p": {
            "receivers": ["transcripts"],
            "processors": ["resource", "transform"],
            "exporters": ["debug"],
        }}},
    })
    row = cfg.build(spark)["debug"].limit(1).collect()[0]
    assert row["resource"]["env"] == "prod"
    assert row["resource"]["deploy.zone"] == "us-east"
    assert row["attributes"]["checked"] == "yes"
    assert "env" not in (row["attributes"] or {})

    with __import__("pytest").raises(Exception, match="context"):
        CollectorConfig({
            "receivers": {"transcripts": {"path": fx}},
            "processors": {"transform": {"log_statements": [
                {"context": "datapoint", "statements": ["set(x, 1)"]},
            ]}},
            "exporters": {"debug": {}},
            "service": {"pipelines": {"p": {
                "receivers": ["transcripts"],
                "processors": ["transform"],
                "exporters": ["debug"],
            }}},
        }).build(spark)


def test_reference_filelog_testdata_config_verbatim(spark, tmp_path):
    """Conformance: the reference's own receiver/filelogreceiver/testdata/
    config.yaml (regex_parser + embedded timestamp/severity sub-parser
    blocks) compiles and parses its simple.log fixture to the values the
    reference test expects (filelog_test.go:97-107: msg/Info-Error-Debug/
    2020-08-25) — only the include path is rewritten to a temp copy."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    log = tmp_path / "simple.log"
    log.write_text(
        "2020-08-25 INFO Something routine\n"
        "2020-08-25 ERROR Something bad happened!\n"
        "2020-08-25 DEBUG Some details...\n"
    )
    yaml_src = f"""
receivers:
  filelog:
    include: [ {log} ]
    start_at: beginning
    operators:
      - type: regex_parser
        regex: '^(?P<time>\\d{{4}}-\\d{{2}}-\\d{{2}}) (?P<sev>[A-Z]*) (?P<msg>.*)$'
        timestamp:
          parse_from: attributes.time
          layout: '%Y-%m-%d'
        severity:
          parse_from: attributes.sev
exporters:
  debug: {{}}
service:
  pipelines:
    logs:
      receivers: [filelog]
      exporters: [debug]
"""
    out = CollectorConfig(yaml_src).build(spark)["debug"]
    rows = {r["msg"]: r for r in out.collect()}
    assert set(rows) == {
        "Something routine", "Something bad happened!", "Some details...",
    }
    # entry.Info=9 / Error=17 / Debug=5 (pkg/stanza/entry/severity.go)
    assert rows["Something routine"]["severity_number"] == 9
    assert rows["Something bad happened!"]["severity_number"] == 17
    assert rows["Some details..."]["severity_number"] == 5
    for r in rows.values():
        assert str(r["ts"]).startswith("2020-08-25")


def test_reference_routing_statement_form(spark, tmp_path):
    """Conformance with connector/routingconnector/testdata/
    config_logs.yaml + README.md:61-64: `statement: route() where ...`
    routes on the where clause; one route feeds multiple pipelines; a
    mutating statement (delete_key ... where ...) strips the routing key
    from the routed copy only."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    cfg = CollectorConfig({
        "receivers": {"transcripts": {"path": fx}},
        "processors": {
            # stamp a routing key so the statement form has a map target
            "transform": {"log_statements": [
                'set(attributes["X-Tenant"], "acme") where tool_name == "bash"',
                'set(attributes["X-Tenant"], "globex") where tool_name == "browser"',
            ]},
        },
        "connectors": {"routing": {
            "default_pipelines": ["logs/otlp-all"],
            "table": [
                {"statement":
                     'route() where attributes["X-Tenant"] == "acme"',
                 "pipelines": ["logs/jaeger-acme", "logs/otlp-acme"]},
                {"statement":
                     'delete_key(attributes, "X-Tenant") where '
                     'attributes["X-Tenant"] == "globex"',
                 "pipelines": ["logs/otlp-globex"]},
            ],
        }},
        "exporters": {"debug": {}, "debug/2": {}, "debug/3": {},
                      "debug/4": {}},
        "service": {"pipelines": {
            "logs/in": {"receivers": ["transcripts"],
                        "processors": ["transform"],
                        "exporters": ["routing"]},
            "logs/jaeger-acme": {"receivers": ["routing"],
                                 "exporters": ["debug"]},
            "logs/otlp-acme": {"receivers": ["routing"],
                               "exporters": ["debug/2"]},
            "logs/otlp-globex": {"receivers": ["routing"],
                                 "exporters": ["debug/3"]},
            "logs/otlp-all": {"receivers": ["routing"],
                              "exporters": ["debug/4"]},
        }},
    })
    outs = cfg.build(spark)
    acme1, acme2 = outs["debug"], outs["debug/2"]
    globex, default = outs["debug/3"], outs["debug/4"]
    n_acme = acme1.count()
    assert n_acme > 0 and n_acme == acme2.count()  # one route, two sinks
    assert set(
        r["attributes"]["X-Tenant"] for r in acme1.collect()
    ) == {"acme"}
    # the mutating statement stripped the key from the routed copy
    n_globex = globex.count()
    assert n_globex > 0
    assert all(
        "X-Tenant" not in (r["attributes"] or {})
        for r in globex.collect()
    )
    # default gets the rest; totals add up (multi-match duplication off
    # here: tenants are disjoint)
    from pyspark.sql import functions as F  # noqa: F401
    total = outs["debug/4"].sparkSession.read.parquet(
        fx + "/transcripts.parquet").count()
    assert n_acme + n_globex + default.count() == total


def test_attributes_include_exclude_gate_and_legacy_filter(spark, tmp_path):
    """attributesprocessor include/exclude match properties
    (filterconfig/config.go:60-131): actions apply only to gated rows;
    filterprocessor legacy include/exclude matcher form drops
    NOT(include) OR exclude (filterlog.go:30-51)."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig
    from opentelemetry_collector_contrib_spark.fixtures import (
        ensure_fixture_dir,
    )

    fx = ensure_fixture_dir("sf0.001")
    cfg = CollectorConfig({
        "receivers": {"transcripts": {"path": fx}},
        "processors": {
            "attributes": {
                "include": {"match_type": "strict",
                            "log_severity_number": {"min": 17}},
                "actions": [
                    {"action": "upsert", "key": "flagged", "value": "yes"},
                ],
            },
        },
        "exporters": {"debug": {}},
        "service": {"pipelines": {"p": {
            "receivers": ["transcripts"],
            "processors": ["attributes"],
            "exporters": ["debug"],
        }}},
    })
    rows = cfg.build(spark)["debug"].collect()
    assert any(r["severity_number"] >= 17 for r in rows)
    for r in rows:
        flagged = (r["attributes"] or {}).get("flagged")
        if r["severity_number"] and r["severity_number"] >= 17:
            assert flagged == "yes"
        else:
            assert flagged is None

    # legacy filter matcher form: keep only ERROR+ severity texts
    cfg2 = CollectorConfig({
        "receivers": {"transcripts": {"path": fx}},
        "processors": {
            "filter": {"logs": {"include": {
                "match_type": "regexp",
                "log_severity_texts": ["ERROR.*", "FATAL.*"],
            }}},
        },
        "exporters": {"debug": {}},
        "service": {"pipelines": {"p": {
            "receivers": ["transcripts"],
            "processors": ["filter"],
            "exporters": ["debug"],
        }}},
    })
    kept = cfg2.build(spark)["debug"]
    n = kept.count()
    assert n > 0
    assert kept.filter(
        ~kept["severity_text"].rlike("^(ERROR|FATAL)")).count() == 0
    total = spark.read.parquet(fx + "/transcripts.parquet").count()
    assert n < total


def test_interval_processor_yaml(spark):
    """interval processor through YAML: last datapoint per stream
    identity per interval bucket."""
    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    src = spark.createDataFrame(
        [("a", 1, 10, "2024-01-01 00:00:05"),
         ("a", 2, 20, "2024-01-01 00:00:40"),
         ("a", 3, 30, "2024-01-01 00:01:10"),
         ("b", 1, 7, "2024-01-01 00:00:30")],
        "conv_id string, turn_idx int, dur_ms int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "dur_ms",
                 "cast(ts_s as timestamp) as ts")
    cfg = CollectorConfig({
        "receivers": {"parquet": {"path": "unused"}},
        "processors": {"interval": {"interval": "1m",
                                    "keys": ["conv_id"],
                                    "seq_col": "turn_idx",
                                    "value_cols": ["dur_ms"]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"p": {
            "receivers": ["parquet"],
            "processors": ["interval"],
            "exporters": ["debug"],
        }}},
    })
    out = cfg.build(spark, sources={"parquet": src})["debug"]
    import datetime as _dt

    def _epoch(s):
        return int(_dt.datetime.fromisoformat(s + "+00:00").timestamp())

    rows = {(r["conv_id"], r["interval_start"]): r["last_dur_ms"]
            for r in out.collect()}
    # buckets are epoch-start longs; minute 0: a keeps turn 2 (last),
    # b keeps its only point; minute 1: a keeps turn 3. The fixture ts is
    # TIMESTAMP_NTZ read in session-local (UTC here).
    m0, m1 = _epoch("2024-01-01T00:00:00"), _epoch("2024-01-01T00:01:00")
    assert rows[("a", m0)] == 20
    assert rows[("a", m1)] == 30
    assert rows[("b", m0)] == 7


def test_filelog_file_attrs_and_static_stamps(spark, tmp_path):
    """fileconsumer/attrs/attrs.go:36-46: log.file.name (basename) is ON
    by default, log.file.path opt-in; receiver-level static attributes/
    resource maps stamp every record."""
    from opentelemetry_collector_contrib_spark.config import _rx_filelog

    p = tmp_path / "app.log"
    p.write_text("one\ntwo\n")
    df = _rx_filelog(spark, {
        "include": [str(p)],
        "include_file_path": True,
        "attributes": {"env": "prod"},
        "resource": {"service.name": "edge"},
    })
    rows = df.collect()
    assert len(rows) == 2
    for r in rows:
        assert r["attributes"]["log.file.name"] == "app.log"
        assert r["attributes"]["log.file.path"].endswith("app.log")
        assert r["attributes"]["env"] == "prod"
        assert r["resource"]["service.name"] == "edge"
    # include_file_name: false drops the name attribute entirely
    df2 = _rx_filelog(spark, {"include": [str(p)],
                              "include_file_name": False})
    assert "attributes" not in df2.columns


def test_transform_processor_round5_grammar(spark, tmp_path):
    """The YAML transform processor accepts the round-5 OTTL grammar:
    map literals as set() values and editors on nested map paths —
    end-to-end through CollectorConfig, not just the compiler API."""
    src = str(tmp_path / "r5")
    spark.createDataFrame(
        [("a", "ERROR", 17, {}), ("b", "INFO", 9, {})],
        "id string, severity_text string, severity_number int, "
        "attributes map<string,string>",
    ).write.mode("overwrite").parquet(src)

    from opentelemetry_collector_contrib_spark.config import CollectorConfig

    out = CollectorConfig({
        "receivers": {"parquet": {"path": src}},
        "processors": {"transform/r5": {"log_statements": [
            'set(attributes["ctx"], {"sev": severity_text,'
            ' "pair": {"n": severity_number}})',
            'set(attributes["keys"], Len(ParseJSON('
            '"{\\"x\\":1,\\"y\\":2}")))',
        ]}},
        "exporters": {"debug": {}},
        "service": {"pipelines": {"logs/in": {
            "receivers": ["parquet"], "processors": ["transform/r5"],
            "exporters": ["debug"],
        }}},
    }).run(spark)["debug"]
    rows = {r["id"]: r["attributes"] for r in out.collect()}
    import json as _json

    got = _json.loads(rows["a"]["ctx"])
    assert got == {"sev": "ERROR", "pair": {"n": 17}}
    assert rows["a"]["keys"] == "2"
    assert _json.loads(rows["b"]["ctx"])["pair"]["n"] == 9


def _fanout_config(shape: str) -> dict:
    """Multi-reader configs over the transcripts receiver, every exporter
    a noop: ``collector`` is perfbench/collector.yaml's layout (logs/in →
    routing to four pipelines + count + sum); ``routing`` is a routing-only
    logs/in with three target pipelines; ``receiver`` is one receiver
    listed by two pipelines; ``forward`` is logs/in → a forward connector
    listed by two pipelines."""
    def sink(name):
        return {"receivers": ["routing"], "exporters": [f"noop/{name}"]}

    routing = {
        "match_once": False,
        "default_pipelines": ["logs/default"],
        "table": [
            {"condition": "severity_number >= SEVERITY_NUMBER_ERROR",
             "pipelines": ["logs/errors"]},
            {"condition": 'tool_name == "bash"', "pipelines": ["logs/tools"]},
        ],
    }
    cfg = {
        "receivers": {"transcripts": {"path": "unused"}},
        "processors": {"filter/drop_system": {"logs": {"log_conditions": [
            'attributes["role"] == "system"']}}},
        "connectors": {"routing": routing},
        "exporters": {f"noop/{n}": {} for n in (
            "errors", "tools", "slow", "default", "metrics", "a", "b")},
        "service": {"pipelines": {
            "logs/in": {"receivers": ["transcripts"],
                        "processors": ["filter/drop_system"],
                        "exporters": ["routing"]},
            "logs/errors": sink("errors"),
            "logs/tools": sink("tools"),
            "logs/default": sink("default"),
        }},
    }
    pipelines = cfg["service"]["pipelines"]
    if shape == "collector":
        routing["table"].append(
            {"condition": "dur_ms > 4000", "pipelines": ["logs/slow"]})
        pipelines["logs/slow"] = sink("slow")
        cfg["connectors"]["count/by_sev"] = {"dims": ["severity_text"]}
        cfg["connectors"]["sum/dur"] = {
            "source_attribute": "dur_ms", "dims": ["tool_name"]}
        pipelines["logs/in"]["exporters"] += ["count/by_sev", "sum/dur"]
        pipelines["logs/metrics"] = {"receivers": ["count/by_sev", "sum/dur"],
                                     "exporters": ["noop/metrics"]}
    elif shape == "forward":
        cfg["connectors"] = {"forward": {}}
        pipelines["logs/in"]["exporters"] = ["forward"]
        cfg["service"]["pipelines"] = {
            "logs/in": pipelines["logs/in"],
            "logs/a": {"receivers": ["forward"], "exporters": ["noop/a"]},
            "logs/b": {"receivers": ["forward"], "exporters": ["noop/b"]},
        }
    elif shape == "receiver":
        del cfg["connectors"]
        cfg["service"]["pipelines"] = {
            "logs/a": {"receivers": ["transcripts"], "exporters": ["noop/a"]},
            "logs/b": {"receivers": ["transcripts"],
                       "processors": ["filter/drop_system"],
                       "exporters": ["noop/b"]},
        }
    return cfg


@pytest.mark.parametrize("shape,readers", [
    ("collector", {"routing": 4, "logs/in": 6}),
    ("routing", {"routing": 3, "logs/in": 3}),
    ("receiver", {"transcripts": 2}),
    ("forward", {"forward": 2}),
])
def test_fanout_reader_counts(shape, readers):
    """A routing connector reads its input once per target pipeline, so
    logs/in's output has one reader per routing target plus one each for
    count and sum; a receiver or forward connector has one reader per
    pipeline listing it; no other point has more than one reader."""
    in_readers, out_readers = CollectorConfig(_fanout_config(shape))._fanout()
    shared = {k: v for k, v in {**in_readers, **out_readers}.items() if v > 1}
    assert shared == readers


@pytest.mark.parametrize("shape",
                         ["collector", "routing", "receiver", "forward"])
def test_fanout_evaluated_once(spark, shape):
    """Each fan-out point is evaluated once: producing every output of a
    multi-reader config runs the receiver over each input row exactly
    once, not once per downstream reader (the collector's fan-out
    consumers hand the same records to every reader)."""
    from opentelemetry_collector_contrib_spark.sources.readers import (
        read_transcripts,
    )

    raw = read_transcripts(spark, ensure_fixture_dir("sf0.001"))
    n = raw.count()
    acc = spark.sparkContext.accumulator(0)

    # nondeterministic, so the optimizer neither duplicates the call into
    # a pushed-down filter nor re-evaluates it above one
    @F.udf("string")
    def tick(text):
        acc.add(1)
        return text

    tick = tick.asNondeterministic()
    outputs = CollectorConfig(_fanout_config(shape)).build(
        spark, sources={"transcripts": raw.withColumn("text", tick("text"))}
    )
    for df in outputs.values():
        df.write.format("noop").mode("overwrite").save()
    assert acc.value == n


# ---- parsers under Spark's default ANSI mode: a bad value is NULL (or,
# for a repeated key, the last value wins), never a failed job ----------

def _parse_one(spark, fn, value):
    from opentelemetry_collector_contrib_spark.operators import parse

    df = spark.createDataFrame([(value,)], "s string")
    return fn(parse, df).collect()[0]


def test_time_parser_unparsable_strptime_is_null(spark):
    row = _parse_one(spark, lambda p, df: p.time_parser(df, "s"), "garbage")
    assert row["ts"] is None


def test_time_parser_non_numeric_epoch_is_null(spark):
    row = _parse_one(
        spark, lambda p, df: p.time_parser(df, "s", "epoch", "ms"), "abc")
    assert row["ts"] is None


def test_keyvalue_parser_repeated_key_keeps_last(spark):
    row = _parse_one(
        spark, lambda p, df: p.keyvalue_parser(df, "s"), "k=1 j k=2")
    assert dict(row["parsed"]) == {"k": "2", "j": None}
