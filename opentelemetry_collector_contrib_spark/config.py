"""Collector-style YAML config → engine pipeline.

The reference is configured declaratively: receivers → processors →
exporters wired into named service pipelines, with connectors bridging
pipelines (service config shape used throughout the reference's testbed,
e.g. testbed/tests/scenarios.go:149 and
connector/routingconnector/README.md). A user switching from the
collector keeps that mental model: this module accepts the same
receivers/processors/connectors/exporters/service.pipelines layout and
compiles it into composed DataFrame stages.

Supported components (names accept the collector's `type/name` form):

receivers    transcripts {path}        parse_transcripts → canonical log
                                       shape (body/ts/severity/attributes/
                                       resource + typed side columns)
             parquet {path}            raw table scan
             filelog {include, exclude, encoding, multiline, header,
                      include_file_name, include_file_path, attributes,
                      resource}        distributed line scan; header
                                       metadata attach; per-file
                                       log.file.* attributes
             otlpjsonfile {include, typed, envelope}
             + `operators:` stanza chain on any receiver (filelog-style):
               regex/json/csv/jsonarray/keyvalue/time/severity/trace/uri/
               container/syslog parsers (each honoring the embedded
               timestamp/severity/trace/scope_name sub-parser blocks of
               helper/parser.go:85-188) and add/copy/move/remove/retain/
               unquote/filter/noop transformers
processors   attributes {actions, include, exclude}
                                       attraction.go action list, gated
                                       by filterset match properties
             resource {attributes}     resourcedetection-style merge
             filter {logs.log_conditions | logs.include/exclude,
                     error_mode, logic_op}
             transform {log_statements (flat, grouped, or per-group
                        context: log/resource/scope), conditions,
                        error_mode}
             groupbyattrs {keys}
             redaction {allowed_keys, ignored_keys, blocked_values,
                        summary, allow_all_keys}
             probabilistic_sampler {sampling_percentage, attribute_source,
                                    hash_seed}
             logdedup {interval, identity_cols}
             enrich {dimension_path, on, columns, how}
                                        k8sattributes/geoip-analog
                                        broadcast lookup join
             logstransform {operators}  stanza chain mid-pipeline
             cumulativetodelta {keys, value_col, order_by, to}
             deltatocumulative {keys, value_col, order_by, to}
             deltatorate {keys, value_col, ts_col, order_by, to}
             interval {interval, keys, seq_col, value_cols, ts_col}
             batch                      no-op (partitioning is a sink
                                        concern in Spark)
connectors   routing {table: [{condition | statement, pipelines}],
                      default_pipelines, match_once}  statement form
                      routes on the where clause and applies a mutating
                      editor to the routed copy
             forward                    merge/chain pipelines unchanged
             count {dims, conditions}
             sum {source_attribute, dims}
             percentile {source_attribute, dims, percentiles, approx}
             sliding_count {dims, ts_col, window, slide, source_attribute}
             session {keys, ts_col, gap_seconds, source_attribute}
exporters    file {path, group_by, rotation.max_records_per_file, compression}
             otlpjsonfile {path, compression}  OTLP-JSON lines (the
                                        reference fileexporter's output
                                        shape; pdata.write_otlp_json)
             debug / noop              DataFrame returned, not written

Unknown component types raise ConfigError — silently skipping a stage a
user configured would corrupt their pipeline semantics.
"""

from __future__ import annotations

import os
from collections import Counter
from functools import reduce
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType, StringType

from .operators.aggregate import count_connector, sum_connector
from .operators.dedup import log_dedup
from .operators.filter import filter_ottl, probabilistic_sample
from .operators.group import group_by_attrs
from .operators.mutate import Action, apply_actions, resource_detection
from .operators.parse import parse_transcripts
from .operators.redact import redact
from .operators.route import Route, Router
from .ottl.compiler import Context, compile_condition
from .ottl import StatementSequence
from .sources.readers import read_parquet, read_transcripts


class ConfigError(ValueError):
    pass


# OTTL paths available in conditions/statements over the transcript log
# shape: the canonical envelope plus the typed side columns the parse
# stage extracts (path_types drive the compare.go matrix correctly for
# the int-typed ones).
TRANSCRIPT_PATH_MAP = {
    "dur_ms": "dur_ms",
    "nbytes": "nbytes",
    "tool_name": "tool_name",
    "err_code": "err_code",
    "conv_id": "conv_id",
    "turn_idx": "turn_idx",
}
TRANSCRIPT_PATH_TYPES = {
    "dur_ms": "int",
    "nbytes": "int",
    "turn_idx": "int",
}


def load_config(src: str | dict) -> dict:
    """Parse a YAML file/string (or accept an already-parsed dict)."""
    if isinstance(src, dict):
        return src
    import yaml

    if os.path.exists(src):
        with open(src) as f:
            return yaml.safe_load(f)
    return yaml.safe_load(src)


def _base_type(name: str) -> str:
    return name.split("/", 1)[0]


def _ottl_ctx(error_mode: str = "ignore") -> Context:
    return Context(TRANSCRIPT_PATH_MAP, error_mode, TRANSCRIPT_PATH_TYPES)


# ---------------------------------------------------------------------------
# receivers
# ---------------------------------------------------------------------------

def _rx_transcripts(
    spark: SparkSession, cfg: dict, source: DataFrame | None = None
) -> DataFrame:
    df = parse_transcripts(
        source if source is not None else read_transcripts(spark, cfg["path"])
    )
    attrs = F.map_filter(
        F.create_map(
            F.lit("role"), F.col("role"),
            F.lit("tool"), F.col("tool"),
            F.lit("err_code"), F.col("err_code"),
            F.lit("tool_name"), F.col("tool_name"),
            F.lit("call_id"), F.col("call_id"),
        ),
        lambda _, v: v.isNotNull(),
    )
    return df.select(
        "conv_id", "turn_idx",
        F.col("text").alias("body"), "ts",
        "severity_text", "severity_number",
        "dur_ms", "nbytes", "err_code", "tool_name",
        attrs.alias("attributes"),
        F.create_map(F.lit("service.name"), F.lit("transcripts"))
        .alias("resource"),
    )


def _rx_parquet(
    spark: SparkSession, cfg: dict, source: DataFrame | None = None
) -> DataFrame:
    return source if source is not None else read_parquet(spark, cfg["path"])


def _rx_filelog(
    spark: SparkSession, cfg: dict, source: DataFrame | None = None
) -> DataFrame:
    """filelog receiver YAML surface (receiver/filelogreceiver/filelog.go
    + fileconsumer/config.go): `include` paths, `encoding`, and the
    `multiline: {line_start_pattern | line_end_pattern}` block — wired to
    read_lines / read_lines_multiline so a ported collector config needs
    no manual recombine stage — and the `header: {pattern,
    metadata_operators}` block (fileconsumer/internal/header): leading
    matching lines are consumed, parsed by the sub-pipeline, and their
    attributes attached to every entry from that file."""
    from .sources.readers import (
        read_lines,
        read_lines_multiline,
        read_lines_with_header,
    )

    if source is not None:
        return source
    paths = cfg.get("include") or cfg["path"]
    if isinstance(paths, list) and len(paths) == 1:
        paths = paths[0]
    encoding = cfg.get("encoding", "utf-8")
    exclude = cfg.get("exclude")
    if exclude:
        from .sources.readers import _apply_exclude

        paths = _apply_exclude(paths, exclude)
    def _file_attrs(df: DataFrame) -> DataFrame:
        """fileconsumer/attrs/attrs.go:36-46 + stanza input attributes/
        resource stamps: log.file.name (basename, default ON) and
        log.file.path (default OFF) as record attributes, plus static
        receiver-level attribute/resource maps."""
        pairs: list = []
        if cfg.get("include_file_name", True):
            pairs += [F.lit("log.file.name"),
                      F.element_at(F.split(F.col("source_file"), "/"), -1)]
        if cfg.get("include_file_path", False):
            pairs += [F.lit("log.file.path"), F.col("source_file")]
        for k, v in (cfg.get("attributes") or {}).items():
            pairs += [F.lit(k), F.lit(str(v))]
        if pairs:
            df = df.withColumn("attributes", F.create_map(*pairs))
        res = cfg.get("resource") or {}
        if res:
            df = df.withColumn("resource", F.create_map(
                *[x for k, v in res.items()
                  for x in (F.lit(k), F.lit(str(v)))]
            ))
        return df

    hdr = cfg.get("header") or {}
    if hdr:
        # config.go:237-244 validation: pattern + ≥1 metadata operator;
        # (start_at: end is the reference's other constraint — batch
        # scans have no tail mode, nothing to reject here)
        if not hdr.get("pattern"):
            raise ConfigError("filelog header requires `pattern`")
        mops = hdr.get("metadata_operators")
        if not mops:
            raise ConfigError(
                "filelog header requires at least one operator in "
                "`metadata_operators`"
            )
        return _file_attrs(read_lines_with_header(
            spark, paths,
            header_pattern=hdr["pattern"],
            apply_metadata_ops=lambda d: _apply_stanza_operators(d, mops),
            encoding=encoding,
            multiline=cfg.get("multiline"),
        ))
    ml = cfg.get("multiline") or {}
    if ml:
        return _file_attrs(read_lines_multiline(
            spark, paths,
            line_start_pattern=ml.get("line_start_pattern"),
            line_end_pattern=ml.get("line_end_pattern"),
            encoding=encoding,
        ))
    return _file_attrs(read_lines(spark, paths, encoding=encoding))


def _rx_otlpjsonfile(
    spark: SparkSession, cfg: dict, source: DataFrame | None = None
) -> DataFrame:
    """otlpjsonfile receiver: flat fast path by default; `typed: true`
    switches to the pdata dynamic value model (VARIANT body/attrs);
    `envelope: true` reads full ExportLogsServiceRequest lines (the
    shape the reference receiver consumes) incl. resource/scope."""
    from .pdata import read_otlp_json_envelope, read_otlp_json_typed
    from .sources.readers import read_otlp_json

    if source is not None:
        return source
    paths = cfg.get("include") or cfg["path"]
    if isinstance(paths, list) and len(paths) == 1:
        paths = paths[0]
    if cfg.get("envelope"):
        return read_otlp_json_envelope(spark, paths)
    if cfg.get("typed"):
        return read_otlp_json_typed(spark, paths)
    return read_otlp_json(spark, paths)


_RECEIVERS = {
    "transcripts": _rx_transcripts,
    "parquet": _rx_parquet,
    "filelog": _rx_filelog,
    "otlpjsonfile": _rx_otlpjsonfile,
}


# ---------------------------------------------------------------------------
# stanza operator chain (receiver `operators:` list — the filelog
# receiver's parser-wiring surface). Every parser config may carry the
# embedded timestamp/severity/trace/scope_name sub-parser blocks of
# pkg/stanza/operator/helper/parser.go:85-188.
# ---------------------------------------------------------------------------

# RFC3164 envelope as a grok pattern (parser/syslog/config.go:53-58)
_RFC3164_GROK = (
    r"<%{NONNEGINT:pri}>%{DATA:sl_ts} %{HOSTNAME:host} "
    r"%{WORD:app}\[%{NONNEGINT:procid}\]: %{GREEDYDATA:msg}"
)


def _strip_field(name):
    """stanza field syntax (body / attributes.x / resource.x) → flat
    column name: parsed fields live as flat columns in our shape."""
    if isinstance(name, str):
        for pre in ("body.", "attributes.", "resource."):
            if name.startswith(pre):
                return name.split(".", 1)[1]
    return name


def _field(cfg: dict, key: str, default=None):
    return _strip_field(cfg.get(key, default))


def _apply_sub_parsers(df: DataFrame, cfg: dict) -> DataFrame:
    """helper/parser.go:85-188 — embedded sub-parser blocks."""
    from .operators.mutate import scope_name_parser
    from .operators.parse import severity_parser, time_parser, trace_parser

    if "timestamp" in cfg:
        t = cfg["timestamp"]
        df = time_parser(
            df, _field(t, "parse_from"), t.get("layout_type", "strptime"),
            t.get("layout"), t.get("to", "ts"),
        )
    if "severity" in cfg:
        s = cfg["severity"]
        df = severity_parser(
            df, _field(s, "parse_from"), mapping=s.get("mapping")
        )
    if "trace" in cfg:
        tr = cfg["trace"]

        def pf(block):
            b = tr.get(block)
            if isinstance(b, dict):
                return _field(b, "parse_from")
            return _strip_field(b)

        df = trace_parser(
            df, pf("trace_id") or "trace_id", pf("span_id"),
            pf("trace_flags"),
        )
    if "scope_name" in cfg:
        df = scope_name_parser(df, _field(cfg["scope_name"], "parse_from"))
    return df


_PARSER_TYPES = frozenset({
    "regex_parser", "json_parser", "csv_parser", "keyvalue_parser",
    "jsonarray_parser", "time_parser", "severity_parser", "trace_parser",
    "uri_parser", "container", "syslog_parser",
})


def _apply_stanza_operators(df: DataFrame, ops) -> DataFrame:
    """Compile a stanza `operators:` chain. Every operator honors the
    shared transformer surface (helper/transformer.go:96-140):

    - ``if``: a row predicate (Spark-SQL here; expr-lang in the
      reference — same documented deviation as EXPR() values). Rows
      failing it pass through the operator untouched (transformer.go
      Skip): the operator runs as it would ungated, on NULL inputs
      where ``if`` fails, and ``_skip`` restores each skipped row's
      prior values. A flattened schema cannot add or drop a column per
      row, so a field the operator adds is NULL on skipped rows, one it
      removes is NULL where it ran, and one it retypes in place keeps
      its prior value on skipped rows only where ``try_cast`` converts
      it (NULL otherwise). ``filter`` instead drops only rows matching
      both ``if`` and ``expr``.
    - ``on_error`` ∈ send/send_quiet/drop/drop_quiet: send keeps the
      row with null parse outputs (null-safe extraction — the default);
      drop removes rows the parser was applied to but produced nothing.
      The *_quiet variants differ only in logging in the reference.
    """
    for op in ops or []:
        typ = _base_type(op.get("type", ""))
        on_error = op.get("on_error", "send")
        if on_error not in ("send", "send_quiet", "drop", "drop_quiet"):
            raise ConfigError(f"unknown on_error {on_error!r}")
        pred = (
            F.coalesce(F.expr(op["if"]), F.lit(False))
            if "if" in op else None
        )
        if typ == "filter":
            # transformer/filter: DROP rows matching the expr (gated on
            # `if` when present — skipped rows are never dropped)
            drop_pred = F.coalesce(F.expr(op["expr"]), F.lit(False))
            if pred is not None:
                drop_pred = drop_pred & pred
            df = df.filter(~drop_pred)
            continue
        if typ == "noop":
            continue
        before = df.columns
        if pred is not None:
            # the predicate is evaluated once, on the frame before the
            # operator; the operator sees NULL inputs on skipped rows, so
            # it neither raises nor pays for them there (Spark may
            # evaluate it on every row), and `__was_<i>` keeps their
            # prior values for _skip
            df = df.select("*", pred.alias("__if"))
            df = df.select(
                *[F.when(F.col("__if"), F.col(c)).alias(c) for c in before],
                "__if",
                *[F.col(c).alias(f"__was_{i}") for i, c in enumerate(before)],
            )
        out = _run_stanza_operator(df, typ, op)
        if typ in _PARSER_TYPES:
            out = _apply_sub_parsers(out, op)
            new_cols = [c for c in out.columns if c not in df.columns]
            if on_error in ("drop", "drop_quiet") and new_cols:
                produced = reduce(
                    lambda a, b: a | b,
                    [F.col(c).isNotNull() for c in new_cols],
                )
                out = out.filter(
                    produced if pred is None else ~F.col("__if") | produced
                )
        df = out if pred is None else _skip(out, before)
    return df


def _run_stanza_operator(df: DataFrame, typ: str, op: dict) -> DataFrame:
    """One stanza operator, ungated."""
    from .operators import mutate, parse

    src = _field(op, "parse_from", "body")
    to = _field(op, "parse_to", "parsed")
    if typ == "regex_parser":
        # on_error=drop is applied by the caller (it must not drop
        # if-skipped rows, which the parser-internal drop would)
        return parse.regex_parser(df, src, op["regex"], "send")
    if typ == "json_parser":
        return parse.json_parser(
            df, src, op.get("schema", "map<string,string>"), to
        )
    if typ == "csv_parser":
        header = op.get("header")
        if isinstance(header, str):
            header = header.split(op.get("delimiter", ","))
        schema = op.get("schema") or ", ".join(
            f"`{h}` string" for h in header
        )
        return parse.csv_parser(df, src, schema, to, op.get("delimiter", ","))
    if typ == "keyvalue_parser":
        return parse.keyvalue_parser(
            df, src, to,
            pair_delim=op.get("pair_delimiter", " "),
            kv_delim=op.get("delimiter", "="),
        )
    if typ == "jsonarray_parser":
        return parse.jsonarray_parser(df, src, to, op.get("header"))
    if typ == "time_parser":
        return parse.time_parser(
            df, src, op.get("layout_type", "strptime"),
            op.get("layout"), op.get("to", "ts"),
        )
    if typ == "severity_parser":
        return parse.severity_parser(df, src, mapping=op.get("mapping"))
    if typ == "trace_parser":
        return _apply_sub_parsers(df, {"trace": op})
    if typ == "uri_parser":
        return parse.uri_parser(df, src)
    if typ == "container":
        return parse.container_parser(
            df, source=src, path_col=op.get("path_col"),
            fmt=op.get("format"),
            add_metadata_from_filepath=op.get(
                "add_metadata_from_file_path", True
            ),
        )
    if typ == "syslog_parser":
        if op.get("protocol", "rfc3164") == "rfc5424":
            return parse.syslog_rfc5424_parser(
                df, src, op.get("enable_octet_counting", False)
            )
        return parse.regex_parser(df, src, _RFC3164_GROK)
    if typ == "add":
        v = op.get("value")
        # stanza EXPR(...) values compile via expr-lang; here the
        # inner expression is Spark-SQL (documented deviation)
        col = (
            F.expr(str(v)[5:-1])
            if isinstance(v, str) and v.startswith("EXPR(")
            else F.lit(v)
        )
        return mutate.add(df, _field(op, "field"), col)
    if typ == "copy":
        return mutate.copy_field(df, _field(op, "from"), _field(op, "to"))
    if typ == "move":
        return mutate.move(df, _field(op, "from"), _field(op, "to"))
    if typ == "remove":
        return mutate.remove(df, _field(op, "field"))
    if typ == "retain":
        kept = [_strip_field(x) for x in op["fields"]]
        if "__if" in df.columns:
            # gated: the Skip snapshot (`__if` and the `__was_<i>` after
            # it) rides along
            kept += df.columns[df.columns.index("__if"):]
        return mutate.retain(df, kept)
    if typ == "unquote":
        return mutate.unquote(df, _field(op, "field"))
    raise ConfigError(f"unsupported stanza operator {typ!r}")


def _skip(df: DataFrame, before: list[str]) -> DataFrame:
    """helper/transformer.go Skip: blend an operator's output with the
    `__was_<i>` snapshot of ``before`` so that rows where ``__if`` is
    false keep their prior values."""
    ran = F.col("__if")
    after = set(df.columns)
    cols = []
    for i, c in enumerate(before):
        was = f"__was_{i}"
        if c not in after:
            cols.append(F.when(~ran, F.col(was)).alias(c))
            continue
        new, old = df.schema[c].dataType, df.schema[was].dataType
        if new.simpleString() == old.simpleString():
            prior = F.col(was)
        elif isinstance(new, StringType) or (
            isinstance(old, StringType) and isinstance(new, AtomicType)
        ):
            # retyped in place: a plain `otherwise(old)` would cast under
            # ANSI and raise (e.g. on an epoch string); try_cast keeps
            # the prior value where it converts and never raises. It is
            # defined from every type to string and from a string to
            # every atomic type.
            prior = F.col(was).try_cast(new)
        else:
            # e.g. a string parsed in place into a map
            prior = F.lit(None)
        cols.append(F.when(ran, F.col(c)).otherwise(prior).alias(c))
    snapshot = {"__if", *(f"__was_{i}" for i in range(len(before)))}
    cols += [
        F.when(ran, F.col(c)).alias(c)
        for c in df.columns if c not in snapshot and c not in before
    ]
    return df.select(*cols)


# ---------------------------------------------------------------------------
# processors
# ---------------------------------------------------------------------------

def _pr_attributes(df: DataFrame, cfg: dict) -> DataFrame:
    actions = []
    for a in cfg.get("actions", []):
        actions.append(Action(
            action=a["action"],
            key=a.get("key"),
            value=F.lit(str(a["value"])) if "value" in a else None,
            pattern=a.get("pattern"),
            converted_type=a.get("converted_type"),
            groups=a.get("groups", []),
        ))
    from .operators.filter import include_exclude_gate

    try:
        gate = include_exclude_gate(cfg)
    except ValueError as e:  # bad match_type / empty property set
        raise ConfigError(str(e)) from e
    return apply_actions(df, actions, where=gate)


def _pr_resource(df: DataFrame, cfg: dict) -> DataFrame:
    if "attributes" in cfg and isinstance(cfg["attributes"], dict):
        return resource_detection(
            df, {k: str(v) for k, v in cfg["attributes"].items()},
            override=bool(cfg.get("override", False)),
        )
    return apply_actions(df, [
        Action(action=a["action"], key=a.get("key"),
               value=F.lit(str(a["value"])) if "value" in a else None)
        for a in cfg.get("actions", [])
    ], attrs_col="resource")


def _pr_filter(df: DataFrame, cfg: dict) -> DataFrame:
    logs = cfg.get("logs", cfg)
    conds = logs.get("log_conditions") or logs.get("log_record")
    if not conds and (logs.get("include") or logs.get("exclude")):
        # legacy matcher form (config.go:185-257 + filterlog.go:30-51):
        # DROP when NOT(include) OR exclude
        from .operators.filter import (
            filter_include_exclude,
            match_properties_condition,
        )

        inc, exc = logs.get("include"), logs.get("exclude")
        try:
            return filter_include_exclude(
                df,
                include=match_properties_condition(inc) if inc else None,
                exclude=match_properties_condition(exc) if exc else None,
            )
        except ValueError as e:  # bad match_type / empty property set
            raise ConfigError(str(e)) from e
    if not conds:
        raise ConfigError("filter processor needs logs.log_conditions")
    return filter_ottl(
        df, list(conds),
        path_map=TRANSCRIPT_PATH_MAP,
        error_mode=cfg.get("error_mode", "ignore"),
        path_types=TRANSCRIPT_PATH_TYPES,
        logic_op=cfg.get("logic_op", "or"),
    )


# transformprocessor `context:` per statement group (config.go context
# keys; contexts/ottlresource + ottlscope): bare paths rebind to the
# context's columns. Statements in resource/scope context execute once
# per resource/scope in the reference — on a denormalized frame the
# per-row application is equivalent (set/delete on a group-constant
# column is idempotent across the group's rows). Log-context paths stay
# reachable under their qualified names (a permissive superset of the
# reference, which rejects them — documented deviation).
_TRANSFORM_CONTEXT_MAPS = {
    "log": {},
    "resource": {
        "attributes": "resource",
        "schema_url": "resource_schema_url",
    },
    "scope": {
        "attributes": "scope_attributes",
        "name": "scope",
        "version": "scope_version",
        "schema_url": "scope_schema_url",
    },
}


def _pr_transform(df: DataFrame, cfg: dict) -> DataFrame:
    stmts = cfg.get("log_statements")
    if not stmts:
        raise ConfigError("transform processor needs log_statements")
    # accept both the flat list and the grouped {statements, conditions}
    if isinstance(stmts[0], dict):
        out = df
        for group in stmts:
            ctx_name = group.get("context", "log")
            overlay = _TRANSFORM_CONTEXT_MAPS.get(ctx_name)
            if overlay is None:
                raise ConfigError(
                    f"unsupported transform context {ctx_name!r} "
                    "(log/resource/scope)"
                )
            seq = StatementSequence(
                group["statements"],
                conditions=group.get("conditions"),
                path_map={**TRANSCRIPT_PATH_MAP, **overlay},
                error_mode=cfg.get("error_mode", "ignore"),
                path_types=TRANSCRIPT_PATH_TYPES,
            )
            out = seq.apply(out)
        return out
    seq = StatementSequence(
        list(stmts),
        path_map=TRANSCRIPT_PATH_MAP,
        error_mode=cfg.get("error_mode", "ignore"),
        path_types=TRANSCRIPT_PATH_TYPES,
    )
    return seq.apply(df)


def _pr_groupbyattrs(df: DataFrame, cfg: dict) -> DataFrame:
    return group_by_attrs(df, list(cfg.get("keys", [])))


def _pr_redaction(df: DataFrame, cfg: dict) -> DataFrame:
    return redact(
        df,
        allowed_keys=cfg.get("allowed_keys"),
        ignored_keys=cfg.get("ignored_keys"),
        blocked_value_patterns=cfg.get("blocked_values"),
        summary=cfg.get("summary", "info"),
        allow_all_keys=cfg.get("allow_all_keys"),
    )


def _pr_sampler(df: DataFrame, cfg: dict) -> DataFrame:
    src = cfg.get("attribute_source", "conv_id")
    col = F.col(src) if src in df.columns else F.col("attributes")[src]
    return probabilistic_sample(
        df, float(cfg["sampling_percentage"]), col,
        hash_seed=int(cfg.get("hash_seed", 22)),
    )


def _pr_logdedup(df: DataFrame, cfg: dict) -> DataFrame:
    return log_dedup(
        df,
        interval=cfg.get("interval", "10 seconds"),
        identity_cols=cfg.get("identity_cols"),
    )


def _pr_enrich(df: DataFrame, cfg: dict) -> DataFrame:
    """k8sattributes/geoip-analog lookup enrichment: broadcast left join
    against a dimension parquet (processor/k8sattributesprocessor
    processor.go:111 — metadata store → per-record attributes). The dim
    is ALWAYS broadcast: the config surface offers no way to request a
    shuffle join, because enriching a 10^12-row fact from a metadata
    table must never move the fact side."""
    from .operators.enrich import enrich

    path = cfg.get("dimension_path")
    if not path:
        raise ConfigError("enrich processor needs dimension_path")
    on = cfg.get("on")
    if not on:
        raise ConfigError("enrich processor needs on (join key or list)")
    dim = read_parquet(df.sparkSession, path)
    if cfg.get("columns"):
        keys = on if isinstance(on, list) else [on]
        dim = dim.select(*keys, *cfg["columns"])
    return enrich(df, dim, on, how=cfg.get("how", "left"))


def _pr_logstransform(df: DataFrame, cfg: dict) -> DataFrame:
    """logstransform processor (processor/logstransformprocessor): runs
    an embedded stanza operator chain mid-pipeline — same chain compiler
    as the receiver-level `operators:` list."""
    ops = cfg.get("operators")
    if not ops:
        raise ConfigError("logstransform processor needs operators")
    return _apply_stanza_operators(df, ops)


def _pr_cumulativetodelta(df: DataFrame, cfg: dict) -> DataFrame:
    from .operators.aggregate import cumulative_to_delta

    return cumulative_to_delta(
        df,
        keys=list(cfg.get("keys", ["conv_id"])),
        value_col=cfg.get("value_col", "value"),
        order_by=cfg.get("order_by"),
        to=cfg.get("to", "delta"),
    )


def _pr_deltatocumulative(df: DataFrame, cfg: dict) -> DataFrame:
    from .operators.aggregate import delta_to_cumulative

    return delta_to_cumulative(
        df,
        keys=list(cfg.get("keys", ["conv_id"])),
        value_col=cfg.get("value_col", "value"),
        order_by=cfg.get("order_by"),
        to=cfg.get("to", "cumulative"),
    )


def _pr_interval(df: DataFrame, cfg: dict) -> DataFrame:
    """interval processor (processor/intervalprocessor/processor.go:
    97-231): keep the LAST datapoint per stream identity per interval."""
    from .operators.aggregate import interval_last

    iv = cfg.get("interval", "60s")
    if isinstance(iv, str):
        # Go duration forms incl. compounds: "90s", "1m30s", "500ms", "2h"
        import re as _re

        parts = _re.findall(r"(\d+(?:\.\d+)?)(ms|s|m|h)", iv)
        if not parts or "".join(n + u for n, u in parts) != iv:
            raise ConfigError(
                f"interval {iv!r}: use Go duration units ms/s/m/h"
            )
        unit_s = {"ms": 0.001, "s": 1, "m": 60, "h": 3600}
        seconds = int(sum(float(n) * unit_s[u] for n, u in parts))
        if seconds < 1:
            raise ConfigError(
                f"interval {iv!r} is below the 1s batch-bucket floor"
            )
    else:
        seconds = int(iv)
    return interval_last(
        df,
        keys=list(cfg.get("keys", ["conv_id"])),
        seq_col=cfg.get("seq_col", "turn_idx"),
        value_cols=list(cfg.get("value_cols", ["dur_ms"])),
        ts_col=cfg.get("ts_col", "ts"),
        interval_seconds=seconds,
    )


def _pr_deltatorate(df: DataFrame, cfg: dict) -> DataFrame:
    from .operators.aggregate import delta_to_rate

    return delta_to_rate(
        df,
        keys=list(cfg.get("keys", ["conv_id"])),
        value_col=cfg.get("value_col", "value"),
        ts_col=cfg.get("ts_col", "ts"),
        order_by=cfg.get("order_by"),
        to=cfg.get("to", "rate"),
    )


_PROCESSORS = {
    "attributes": _pr_attributes,
    "resource": _pr_resource,
    "resourcedetection": _pr_resource,
    "filter": _pr_filter,
    "transform": _pr_transform,
    "groupbyattrs": _pr_groupbyattrs,
    "redaction": _pr_redaction,
    "probabilistic_sampler": _pr_sampler,
    "logdedup": _pr_logdedup,
    "enrich": _pr_enrich,
    "logstransform": _pr_logstransform,
    "cumulativetodelta": _pr_cumulativetodelta,
    "deltatocumulative": _pr_deltatocumulative,
    "deltatorate": _pr_deltatorate,
    "interval": _pr_interval,
    "batch": lambda df, cfg: df,
}


# ---------------------------------------------------------------------------
# pipeline assembly
# ---------------------------------------------------------------------------

class CollectorConfig:
    """Compiled collector-style config. ``build(spark)`` returns
    {exporter_name: DataFrame}; ``run(spark)`` additionally writes the
    file exporters (one write each) and returns the same map.

    Like the collector's fan-out consumers, every fan-out point is
    evaluated once: a receiver, pipeline or connector output that more
    than one downstream plan reads (``_fanout``) is materialized by the
    first exporter job and read back by the rest, instead of each
    re-running scan, parse and processors. A frame with a single reader
    stays lazy and keeps its pushdown and broadcast plans."""

    def __init__(self, cfg: str | dict):
        self.cfg = load_config(cfg)
        for section in ("receivers", "exporters", "service"):
            if section not in self.cfg:
                raise ConfigError(f"missing config section {section!r}")
        self.pipelines: dict[str, dict] = self.cfg["service"]["pipelines"]
        self._validate()

    def _validate(self) -> None:
        """Fail fast on unknown component types — a silently skipped
        stage would corrupt the user's pipeline semantics."""
        for pname, pcfg in self.pipelines.items():
            for r in pcfg.get("receivers", []) or []:
                if not self._is_connector(r) and \
                        _base_type(r) not in _RECEIVERS:
                    raise ConfigError(f"unsupported receiver {r!r} in {pname!r}")
            for p in pcfg.get("processors", []) or []:
                if _base_type(p) not in _PROCESSORS:
                    raise ConfigError(f"unsupported processor {p!r} in {pname!r}")
            for e in pcfg.get("exporters", []) or []:
                if self._is_connector(e):
                    continue
                if _base_type(e) not in ("file", "otlpjsonfile", "debug",
                                         "noop"):
                    raise ConfigError(f"unsupported exporter {e!r} in {pname!r}")
                self._component("exporters", e)

    # -- helpers ------------------------------------------------------------

    def _component(self, section: str, name: str) -> dict:
        comp = self.cfg.get(section, {}) or {}
        if name in comp:
            return comp[name] or {}
        raise ConfigError(f"{section} component {name!r} not defined")

    def _is_connector(self, name: str) -> bool:
        return name in (self.cfg.get("connectors") or {})

    def _is_router(self, name: str) -> bool:
        return self._is_connector(name) and _base_type(name) == "routing"

    def _fanout(self) -> tuple[Counter, Counter]:
        """Downstream plans reading each fan-out point, as two counters:
        receiver or connector name → readers of its output, and pipeline
        name → readers of its processed output.

        A receiver or non-routing connector is read once per pipeline
        listing it. A routing connector reads its input once per table
        edge (entry or default → a pipeline receiving from it), since
        ``_route`` gives each edge its own filter over that input. A
        pipeline's output is read once per concrete exporter or
        non-routing connector, and once per edge of each routing
        connector it exports to."""
        inputs: Counter = Counter()
        for pcfg in self.pipelines.values():
            for r in pcfg.get("receivers", []) or []:
                if not self._is_router(r):
                    inputs[r] += 1
        for conn in self.cfg.get("connectors") or {}:
            if not self._is_router(conn):
                continue
            ccfg = self._component("connectors", conn)
            feeds = [p for entry in ccfg.get("table", [])
                     for p in entry.get("pipelines", [])]
            feeds += ccfg.get("default_pipelines", []) or []
            inputs[conn] = sum(
                conn in ((self.pipelines.get(p) or {}).get("receivers") or [])
                for p in feeds
            )
        outputs: Counter = Counter()
        for pname, pcfg in self.pipelines.items():
            for e in pcfg.get("exporters", []) or []:
                outputs[pname] += inputs[e] if self._is_router(e) else 1
        return inputs, outputs

    # -- build --------------------------------------------------------------

    def build(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame] | None = None,
    ) -> dict[str, DataFrame]:
        """Compile and wire every pipeline; returns {exporter: DataFrame}.

        ``sources`` optionally substitutes a pre-read raw DataFrame for a
        receiver's own scan (keyed by receiver name) — the hook
        ``run_streaming`` uses to push each micro-batch through the SAME
        assembly the batch path runs.

        A fan-out point with several readers (``_fanout``) becomes a lazy
        local checkpoint: its rows are computed by the first job that
        reads it and kept for the rest, and its blocks are freed once no
        returned frame references it. Planning the checkpoint runs only
        the broadcasts and shuffle stages below it; every row-level
        operator stays lazy."""
        sources = sources or {}
        in_readers, out_readers = self._fanout()
        shared: list[DataFrame] = []

        def share(df: DataFrame, readers: int) -> DataFrame:
            # serialized MEMORY_AND_DISK: the JVM's default for a local
            # checkpoint is deserialized, which took more peak memory at
            # the same speed (BASELINE.md "Collector fan-out")
            if readers < 2 or any(df is s for s in shared):
                return df
            df = df.localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            shared.append(df)
            return df

        # pass 1: run every pipeline whose receivers are all concrete
        # (non-connector); stash per-connector inputs
        conn_inputs: dict[str, list[DataFrame]] = {}
        routed: dict[str, dict[str, DataFrame]] = {}  # conn → pipeline → df
        received: dict[str, DataFrame] = {}  # receiver → df
        outputs: dict[str, DataFrame] = {}
        pending = dict(self.pipelines)

        def receive(r: str) -> DataFrame:
            if r not in received:
                fn = _RECEIVERS.get(_base_type(r))
                if fn is None:
                    raise ConfigError(f"unsupported receiver {r!r}")
                comp = self._component("receivers", r)
                d = fn(spark, comp, sources.get(r))
                # stanza operator chain attached to the receiver
                # (filelog-style `operators:` list)
                d = _apply_stanza_operators(d, comp.get("operators"))
                received[r] = share(d, in_readers[r])
            return received[r]

        def run_pipeline(pname: str, pcfg: dict, source: DataFrame) -> None:
            df = source
            for proc in pcfg.get("processors", []) or []:
                fn = _PROCESSORS.get(_base_type(proc))
                if fn is None:
                    raise ConfigError(f"unsupported processor {proc!r}")
                df = fn(df, self._component("processors", proc))
            df = share(df, out_readers[pname])
            for exp in pcfg.get("exporters", []) or []:
                if self._is_connector(exp):
                    conn_inputs.setdefault(exp, []).append(df)
                else:
                    self._component("exporters", exp)  # existence check
                    outputs[exp] = df

        for pname, pcfg in list(pending.items()):
            rxs = pcfg.get("receivers", []) or []
            if any(self._is_connector(r) for r in rxs):
                continue
            dfs = [receive(r) for r in rxs]
            src = dfs[0]
            for d in dfs[1:]:
                src = src.unionByName(d, allowMissingColumns=True)
            run_pipeline(pname, pcfg, src)
            del pending[pname]

        # pass 2: resolve connectors (routing fan-out, count/sum metrics)
        for conn, inputs in conn_inputs.items():
            ccfg = self._component("connectors", conn)
            src = inputs[0]
            for d in inputs[1:]:
                src = src.unionByName(d, allowMissingColumns=True)
            base = _base_type(conn)
            if base == "routing":
                routed[conn] = self._route(src, ccfg)
            elif base == "count":
                dims = {k: None for k in ccfg.get("dims", ["severity_text"])}
                conds = [
                    compile_condition(c, _ottl_ctx())
                    for c in ccfg.get("conditions", [])
                ] or None
                routed[conn] = {"*": count_connector(src, dims, conds)}
            elif base == "sum":
                dims = {k: None for k in ccfg.get("dims", ["tool_name"])}
                routed[conn] = {"*": sum_connector(
                    src, ccfg["source_attribute"], dims)}
            elif base == "percentile":
                from .operators.aggregate import percentile_connector

                dims = {k: None for k in ccfg.get("dims", ["severity_text"])}
                routed[conn] = {"*": percentile_connector(
                    src, ccfg["source_attribute"], dims,
                    percentiles=tuple(
                        ccfg.get("percentiles", [0.5, 0.95, 0.99])
                    ),
                    approx=bool(ccfg.get("approx", False)),
                )}
            elif base == "sliding_count":
                from .operators.aggregate import sliding_window_counts

                routed[conn] = {"*": sliding_window_counts(
                    src,
                    keys=list(ccfg.get("dims", ["severity_text"])),
                    ts_col=ccfg.get("ts_col", "ts"),
                    window=ccfg.get("window", "10 minutes"),
                    slide=ccfg.get("slide", "5 minutes"),
                    value_col=ccfg.get("source_attribute"),
                )}
            elif base == "session":
                from .operators.aggregate import session_window_agg

                routed[conn] = {"*": session_window_agg(
                    src,
                    keys=list(ccfg.get("keys", ["conv_id"])),
                    ts_col=ccfg.get("ts_col", "ts"),
                    gap_seconds=int(ccfg.get("gap_seconds", 1800)),
                    value_col=ccfg.get("source_attribute"),
                )}
            elif base == "forward":
                # forwardconnector (connector/forwardconnector): merge /
                # chain pipelines unchanged — the N-input union already
                # happened above, so forwarding is the identity
                routed[conn] = {"*": src}
            else:
                raise ConfigError(f"unsupported connector {conn!r}")
            if base != "routing":
                routed[conn]["*"] = share(routed[conn]["*"], in_readers[conn])

        # pass 3: pipelines fed by connectors
        for pname, pcfg in pending.items():
            dfs = []
            for r in pcfg.get("receivers", []) or []:
                if not self._is_connector(r):
                    raise ConfigError(
                        f"pipeline {pname!r} mixes connector and concrete "
                        "receivers — not supported"
                    )
                table = routed.get(r, {})
                if "*" in table:
                    dfs.append(table["*"])
                elif pname in table:
                    dfs.append(table[pname])
            if not dfs:
                raise ConfigError(f"pipeline {pname!r} receives nothing")
            src = dfs[0]
            for d in dfs[1:]:
                src = src.unionByName(d, allowMissingColumns=True)
            run_pipeline(pname, pcfg, src)

        return outputs

    def _route(self, df: DataFrame, ccfg: dict) -> dict[str, DataFrame]:
        """routingconnector (logs.go:62-119): table of OTTL conditions →
        target pipelines; match_once / multi-match duplication / default
        pipelines — split per target pipeline name."""
        ctx = _ottl_ctx(ccfg.get("error_mode", "ignore"))
        routes = []
        entry_pipelines: dict[str, list[str]] = {}
        mutations: dict[str, object] = {}
        for i, entry in enumerate(ccfg.get("table", [])):
            rid = f"route_{i}"
            if entry.get("condition") is not None:
                routes.append(Route(rid, compile_condition(
                    entry["condition"], ctx)))
            elif entry.get("statement") is not None:
                # full OTTL statement form (README.md:61-64): route on
                # the where clause; a non-noop editor also mutates the
                # routed copy (e.g. delete_key strips the routing key)
                from .ottl.compiler import compile_routing_statement

                cond, mutate = compile_routing_statement(
                    entry["statement"], ctx
                )
                routes.append(Route(rid, cond))
                if mutate is not None:
                    mutations[rid] = mutate
            else:
                raise ConfigError("routing table entry needs a condition")
            entry_pipelines[rid] = list(entry.get("pipelines", []))
        router = Router(routes, match_once=bool(ccfg.get("match_once", False)))
        split = router.split(df)
        for rid, mutate in mutations.items():
            split[rid] = mutate(split[rid])
        out: dict[str, DataFrame] = {}

        def feed(pipeline: str, route_df: DataFrame) -> None:
            out[pipeline] = (
                route_df if pipeline not in out
                else out[pipeline].unionByName(route_df)
            )

        for rid, pipelines in entry_pipelines.items():
            for p in pipelines:
                feed(p, split[rid])
        for p in ccfg.get("default_pipelines", []) or []:
            feed(p, split["default"])
        return out

    # -- run ----------------------------------------------------------------

    @staticmethod
    def _file_writer(df: DataFrame, ecfg: dict):
        """Shared file-exporter write config: group_by fan-out
        (grouping_file_exporter.go:115-227), rotation as a row cap
        (config.go:22-96 rotation.max_megabytes analog — Spark write
        tasks roll files at the cap), compression codec (zstd there,
        any Spark codec here)."""
        w = df.write.mode("overwrite")
        if ecfg.get("group_by"):
            w = w.partitionBy(ecfg["group_by"])
        rot = ecfg.get("rotation") or {}
        if rot.get("max_records_per_file"):
            w = w.option("maxRecordsPerFile", int(rot["max_records_per_file"]))
        if ecfg.get("compression"):
            w = w.option("compression", ecfg["compression"])
        return w

    def run(self, spark: SparkSession) -> dict[str, Any]:
        """Write every file/otlpjsonfile exporter (one Spark job each);
        return {exporter: path} for those and {exporter: DataFrame} for
        debug/noop. The first job that reads a shared fan-out point
        (``build``) materializes it; later jobs and the returned
        DataFrames read the stored rows."""
        outputs = self.build(spark)
        written = {}
        for exp, df in outputs.items():
            ecfg = self._component("exporters", exp)
            if _base_type(exp) == "file":
                self._file_writer(df, ecfg).parquet(ecfg["path"])
                written[exp] = ecfg["path"]
            elif _base_type(exp) == "otlpjsonfile":
                # the reference fileexporter's OTLP-JSON output shape
                from .pdata import write_otlp_json

                write_otlp_json(
                    df, ecfg["path"],
                    compression=ecfg.get("compression"),
                )
                written[exp] = ecfg["path"]
            else:  # debug / noop → return the DataFrame
                written[exp] = df
        return written

    def run_streaming(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ):
        """Run the SAME compiled config continuously: the concrete
        receiver becomes a file-source stream, and every micro-batch is
        pushed through the identical pipeline assembly the batch path
        runs (build() with the micro-batch substituted for the scan).

        Semantics match the reference closer than they match batch Spark:
        the collector's processors and connectors operate on pdata
        BATCHES (a count connector emits one count per consumed batch, a
        groupbyattrs regroups within the batch), so per-micro-batch
        aggregation IS the collector behavior. Corpus-global continuous
        aggregates are the streaming/ module's watermarked variants.

        Exactly-once: file exporters write batch_id-scoped partition
        directories with mode=overwrite — a foreachBatch replay after a
        crash overwrites its own previous output instead of appending
        duplicates (checkpointLocation + idempotent writes).

        Each micro-batch is one multi-sink ``foreachBatch``: build()
        shares its fan-out points exactly as in ``run``, so the batch's
        rows are parsed and processed once however many file exporters
        the batch feeds.

        v1 scope: exactly ONE concrete receiver (the usual collector
        topology — one filelog receiver feeding a pipeline DAG); any
        number of connector-fed pipelines and exporters downstream.
        Returns the StreamingQuery; with available_now the query drains
        current input and stops (deterministic for tests)."""
        concrete = [
            r
            for pcfg in self.pipelines.values()
            for r in pcfg.get("receivers", []) or []
            if not self._is_connector(r)
        ]
        if len(set(concrete)) != 1:
            raise ConfigError(
                "run_streaming supports exactly one concrete receiver; "
                f"found {sorted(set(concrete))!r}"
            )
        rname = concrete[0]
        rcfg = self._component("receivers", rname)
        base = _base_type(rname)
        if base == "transcripts":
            raw_path = os.path.join(rcfg["path"], "transcripts.parquet")
        else:
            raw_path = rcfg["path"]
        # streaming file sources never infer — take the schema from a
        # one-off batch read of the same path
        schema = spark.read.parquet(raw_path).schema
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        # the file source requires a DIRECTORY; fixtures may write a
        # single parquet file — stream its parent, glob-filtered to it
        if os.path.isdir(raw_path):
            stream = reader.parquet(raw_path)
        else:
            stream = reader.option(
                "pathGlobFilter", os.path.basename(raw_path)
            ).parquet(os.path.dirname(raw_path))

        file_exporters = {
            e: self._component("exporters", e)
            for pcfg in self.pipelines.values()
            for e in pcfg.get("exporters", []) or []
            if not self._is_connector(e) and _base_type(e) == "file"
        }

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            outputs = self.build(spark, sources={rname: batch_df})
            for exp, df in outputs.items():
                ecfg = file_exporters.get(exp)
                if ecfg is None:
                    continue  # debug/noop sinks are batch-run conveniences
                self._file_writer(df, ecfg).parquet(
                    os.path.join(ecfg["path"], f"batch_id={batch_id}")
                )

        writer = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
