"""Query registry — the driver correctness-gate surface.

Every implemented operator from SURVEY.md §2 gets (a) a Spark callable
``(spark, sf_dir) -> DataFrame`` and (b) an equivalent DuckDB oracle SQL
string over the same parquet files. Column names and types are aligned on
both sides (driver hashes values under sorted column names).

Transcript queries read the deterministic fixture corpus (fixtures.py);
the oracle SQL reads the same files via read_parquet() at the sf0.01
tier (the only tier the driver's oracle runs at). Hash-dependent ops use
md5 (present in BOTH engines) so even MinHash/SimHash have exact SQL
oracles; xxhash64-based operators are exercised in pytest instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fixtures import DATA_ROOT, ensure_fixture_dir
from .functions.severity import _ALIASES, _HTTP_RANGES, SEVERITY_NUMBERS
from .operators.aggregate import count_connector, sum_connector
from .operators.dedup import log_dedup
from .operators.enrich import enrich_transcripts
from .operators.filter import filter_include_exclude
from .operators.group import conversation_rollup, group_by_attrs
from .operators.mutate import Action, apply_actions
from .operators.parse import (
    TOKEN_PATTERNS,
    json_parser,
    keyvalue_parser,
    parse_transcripts,
    uri_parser,
)
from .operators.recombine import recombine
from .operators.redact import redact
from .operators.route import Router
from .plans.flagship import (
    build_router,
    parsed_enriched,
    sink_counts,
    sink_durations,
)
from .sources.readers import read_dims, read_transcripts

# oracle SQL runs at the sf0.01 tier (driver contract); the env override
# lets tools/check_correctness.py replay the identical gate at a bigger
# tier (SPARK_GRAFT_ORACLE_SF=sf0.1 → 10× row-level evidence)
ORACLE_FX = os.path.abspath(
    os.path.join(DATA_ROOT, os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01"))
)
_TR = f"read_parquet('{ORACLE_FX}/transcripts.parquet')"
_ROLES = f"read_parquet('{ORACLE_FX}/dim_roles.parquet')"
_TOOLS = f"read_parquet('{ORACLE_FX}/dim_tools.parquet')"


# ---------------------------------------------------------------------------
# shared SQL fragments (generated from the same python tables the Spark
# side compiles from — single source of truth, no drift)
# ---------------------------------------------------------------------------

def _sev_text_sql(tok: str) -> str:
    alias_cases = " ".join(
        f"WHEN upper({tok}) = '{a}' THEN '{c}'" for a, c in _ALIASES.items()
    )
    http_cases = " ".join(
        f"WHEN regexp_matches({tok}, '^[0-9]{{3}}$') "
        f"AND TRY_CAST({tok} AS INT) BETWEEN {lo} AND {hi} THEN '{c}'"
        for lo, hi, c in _HTTP_RANGES
    )
    return f"(CASE {http_cases} {alias_cases} ELSE NULL END)"


def _sev_num_sql(txt: str) -> str:
    cases = " ".join(
        f"WHEN {txt} = '{k}' THEN {v}" for k, v in SEVERITY_NUMBERS.items()
    )
    return f"(CASE {cases} ELSE 0 END)::INT"


def _parsed_cte(tbl: str = _TR) -> str:
    toks = ",\n    ".join(
        f"nullif(regexp_extract(text, '{p}', 1), '') AS {n}"
        for n, p in TOKEN_PATTERNS.items()
    )
    return f"""
parsed0 AS (
  SELECT conv_id, turn_idx, role, tool, text, ts,
    {toks}
  FROM {tbl}
),
parsed AS (
  SELECT * REPLACE (CAST(dur_ms AS INT) AS dur_ms, CAST(nbytes AS BIGINT) AS nbytes),
    {_sev_text_sql('sev_token')} AS severity_text,
    {_sev_num_sql(_sev_text_sql('sev_token'))} AS severity_number
  FROM parsed0
)"""


_ROUTE_CONDS = {
    "errors": "severity_number >= 17",
    "tool_bash": "tool_name = 'bash'",
    "slow": "dur_ms > 4000",
}
_NO_ROUTE = " AND ".join(
    f"NOT coalesce({c}, false)" for c in _ROUTE_CONDS.values()
)

_ROUTE_COLS = "conv_id, turn_idx, role, tool, text, severity_text, severity_number, err_code, tool_name, dur_ms, nbytes"


def _routed_cte() -> str:
    arms = "\n  UNION ALL ".join(
        f"SELECT '{rid}' AS sink, {_ROUTE_COLS} FROM parsed WHERE coalesce({c}, false)"
        for rid, c in _ROUTE_CONDS.items()
    )
    return f"""
routed AS (
  {arms}
  UNION ALL SELECT 'default' AS sink, {_ROUTE_COLS} FROM parsed WHERE {_NO_ROUTE}
)"""


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------

_ROUTE_OUT = [
    "conv_id", "turn_idx", "role", "tool", "text",
    "severity_text", "severity_number", "err_code", "tool_name",
    "dur_ms", "nbytes",
]


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = ensure_fixture_dir(sf_dir)
    return parse_transcripts(read_transcripts(spark, fx))


def _route_query(rid: str) -> Callable:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _parsed(spark, sf_dir)
        sinks = build_router().split(df)
        return sinks[rid].select(*_ROUTE_OUT)

    return q


def _md5_bucket(*cols) -> F.Column:
    """Deterministic cross-engine hash bucket: first 8 hex chars of md5
    of the '#'-joined key, as int, mod 10000. Exact analog of the
    probabilistic sampler's hash gate (logsprocessor.go:124-168) with
    md5 substituted for FNV so DuckDB reproduces it bit-for-bit."""
    key = F.concat_ws("#", *[F.col(c).cast("string") for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 10000


def _md5_bucket_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % 10000)"


# ===========================================================================
# the registry
# ===========================================================================

def build_registry() -> tuple[dict[str, Callable], dict[str, str]]:
    queries: dict[str, Callable] = {}
    oracles: dict[str, str] = {}

    def reg(name: str, fn: Callable, sql: str | None) -> None:
        queries[name] = fn
        if sql is not None:
            oracles[name] = sql

    # ---- t_parse: regex+severity+kv parse stage (stanza regex_parser +
    # severity_parser; pkg/stanza/operator/parser/regex, helper/severity_builder.go)
    def t_parse(spark, sf_dir):
        return _parsed(spark, sf_dir).select(
            "conv_id", "turn_idx", "sev_token", "err_code", "tool_name",
            "call_id", "dur_ms", "nbytes", "severity_text", "severity_number",
        )

    reg(
        "t_parse",
        t_parse,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx, sev_token, err_code, tool_name, call_id,
       dur_ms, nbytes, severity_text, severity_number FROM parsed""",
    )

    # ---- t_enrich: broadcast dim join (k8sattributes/geoip analog)
    def t_enrich(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        df = parse_transcripts(read_transcripts(spark, fx))
        roles, tools = read_dims(spark, fx)
        return enrich_transcripts(df, roles, tools).select(
            "conv_id", "turn_idx", "role", "tool", "severity_text",
            "role_kind", "priority", "tool_family", "risk_level",
        )

    reg(
        "t_enrich",
        t_enrich,
        f"""WITH {_parsed_cte()}
SELECT p.conv_id, p.turn_idx, p.role, p.tool, p.severity_text,
       r.role_kind, r.priority, t.tool_family, t.risk_level
FROM parsed p
LEFT JOIN {_ROLES} r ON p.role = r.role
LEFT JOIN {_TOOLS} t ON p.tool = t.tool""",
    )

    # ---- routing connector sinks (connector/routingconnector/logs.go:62-119)
    for rid, cond in _ROUTE_CONDS.items():
        reg(
            f"t_route_{rid}",
            _route_query(rid),
            f"""WITH {_parsed_cte()}
SELECT {_ROUTE_COLS} FROM parsed WHERE coalesce({cond}, false)""",
        )
    reg(
        "t_route_default",
        _route_query("default"),
        f"""WITH {_parsed_cte()}
SELECT {_ROUTE_COLS} FROM parsed WHERE {_NO_ROUTE}""",
    )

    # ---- match_once: first-match route tag (router.go:113-159)
    def t_route_match_once(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        r = build_router()
        r.match_once = True
        return r.tag(df).select("conv_id", "turn_idx", "route")

    reg(
        "t_route_match_once",
        t_route_match_once,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
  CASE WHEN coalesce(severity_number >= 17, false) THEN 'errors'
       WHEN coalesce(tool_name = 'bash', false) THEN 'tool_bash'
       WHEN coalesce(dur_ms > 4000, false) THEN 'slow'
       ELSE 'default' END AS route
FROM parsed""",
    )

    # ---- countconnector (connector/countconnector/counter.go:38-128)
    def t_counts(spark, sf_dir):
        return sink_counts(_parsed(spark, sf_dir))

    reg(
        "t_counts",
        t_counts,
        f"""WITH {_parsed_cte()}, {_routed_cte()}
SELECT sink, coalesce(severity_text, 'DEFAULT') AS severity_text,
       coalesce(tool, '<none>') AS tool, coalesce(role, '<none>') AS role,
       count(*) AS log_count
FROM routed GROUP BY 1, 2, 3, 4""",
    )

    # ---- sumconnector (connector/sumconnector/config.go:19-36)
    def t_sum_durations(spark, sf_dir):
        return sink_durations(_parsed(spark, sf_dir))

    reg(
        "t_sum_durations",
        t_sum_durations,
        f"""WITH {_parsed_cte()}, {_routed_cte()}
SELECT sink, coalesce(role, '<none>') AS role,
       CAST(sum(dur_ms) AS DOUBLE) AS total_dur_ms
FROM routed GROUP BY 1, 2""",
    )

    # ---- groupbyattrs-style conversation rollup (hot conv_id, one hash agg)
    def t_conv_rollup(spark, sf_dir):
        out = conversation_rollup(_parsed(spark, sf_dir))
        return out.select(
            "conv_id",
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("n_errors").cast("long").alias("n_errors"),
            F.col("total_dur_ms").cast("long").alias("total_dur_ms"),
            F.col("first_ts").cast("timestamp").cast("long").alias("first_ts_epoch"),
            F.col("last_ts").cast("timestamp").cast("long").alias("last_ts_epoch"),
            F.col("max_severity").cast("int").alias("max_severity"),
        )

    reg(
        "t_conv_rollup",
        t_conv_rollup,
        f"""WITH {_parsed_cte()}
SELECT conv_id, count(*)::BIGINT AS n_turns,
       CAST(sum(CASE WHEN severity_number >= 17 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
       floor(epoch(min(ts)))::BIGINT AS first_ts_epoch,
       floor(epoch(max(ts)))::BIGINT AS last_ts_epoch,
       max(severity_number)::INT AS max_severity
FROM parsed GROUP BY conv_id""",
    )

    # ---- recombine: ordered per-conversation reassembly
    # (transformer/recombine/transformer.go:97-244)
    def t_recombine(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        df = read_transcripts(spark, fx)
        out = recombine(df, "conv_id", "turn_idx", "text", "\n")
        return out.select(
            "conv_id",
            F.col("n_parts").cast("long").alias("n_parts"),
            F.col("text").alias("convo_text"),
        )

    reg(
        "t_recombine",
        t_recombine,
        f"""SELECT conv_id, count(*)::BIGINT AS n_parts,
       string_agg(text, chr(10) ORDER BY turn_idx) AS convo_text
FROM {_TR} GROUP BY conv_id""",
    )

    # ---- logdedup (processor/logdedupprocessor/processor.go:81-143)
    def t_logdedup(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        out = log_dedup(
            df, interval="600 seconds",
            identity_cols=["role", "severity_text", "tool_name"],
        )
        return out.select(
            "role", "severity_text", "tool_name",
            F.col("window_start").cast("timestamp").cast("long").alias("window_start_epoch"),
            F.col("log_count").cast("long").alias("log_count"),
            F.col("first_observed_timestamp").cast("timestamp").cast("long").alias("first_epoch"),
            F.col("last_observed_timestamp").cast("timestamp").cast("long").alias("last_epoch"),
        )

    reg(
        "t_logdedup",
        t_logdedup,
        f"""WITH {_parsed_cte()}
SELECT role, severity_text, tool_name,
       (floor(epoch(ts))::BIGINT // 600) * 600 AS window_start_epoch,
       count(*)::BIGINT AS log_count,
       min(floor(epoch(ts))::BIGINT) AS first_epoch,
       max(floor(epoch(ts))::BIGINT) AS last_epoch
FROM parsed GROUP BY 1, 2, 3, 4""",
    )

    # ---- filterprocessor include/exclude (filterlog.go:30-51)
    def t_filter_include_exclude(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        out = filter_include_exclude(
            df,
            include=F.col("severity_number") >= 13,
            exclude=F.col("tool") == "plugin",
        )
        return out.select("conv_id", "turn_idx", "severity_text", "tool")

    reg(
        "t_filter_include_exclude",
        t_filter_include_exclude,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx, severity_text, tool FROM parsed
WHERE NOT (NOT coalesce(severity_number >= 13, false)
           OR coalesce(tool = 'plugin', false))""",
    )

    # ---- deterministic hash sampler (probabilisticsampler analog)
    def t_sampler(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        return df.filter(_md5_bucket("conv_id", "turn_idx") < 2500).select(
            "conv_id", "turn_idx"
        )

    reg(
        "t_sampler",
        t_sampler,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx FROM parsed
WHERE {_md5_bucket_sql("conv_id || '#' || turn_idx::VARCHAR")} < 2500""",
    )

    # ---- attributes processor action list (attraction.go:106-141)
    def t_attributes_actions(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        df = df.withColumn(
            "attributes",
            F.map_filter(
                F.create_map(
                    F.lit("err_code"), F.col("err_code"),
                    F.lit("dur_ms"), F.col("dur_ms").cast("string"),
                    F.lit("tool_name"), F.col("tool_name"),
                ),
                lambda k, v: v.isNotNull(),
            ),
        )
        df = apply_actions(
            df,
            [
                Action("insert", key="env", value=F.lit("prod")),
                Action("insert", key="dur_ms", value=F.lit("0")),  # no-op when present
                Action("upsert", key="stage", value=F.lit("parse")),
                Action("hash", key="err_code"),
                Action("delete", key="tool_name"),
            ],
        )
        m = F.col("attributes")
        return df.select(
            "conv_id", "turn_idx",
            m.getItem("env").alias("env"),
            m.getItem("stage").alias("stage"),
            m.getItem("dur_ms").alias("dur_ms_attr"),
            m.getItem("err_code").alias("err_code_hash"),
            m.getItem("tool_name").alias("tool_name_attr"),
        )

    reg(
        "t_attributes_actions",
        t_attributes_actions,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
       'prod' AS env, 'parse' AS stage,
       coalesce(dur_ms::VARCHAR, '0') AS dur_ms_attr,
       CASE WHEN err_code IS NOT NULL THEN sha256(err_code) END AS err_code_hash,
       NULL::VARCHAR AS tool_name_attr
FROM parsed""",
    )

    # ---- redaction processor (redactionprocessor/config.go:11-32)
    def t_redact(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        df = df.withColumn(
            "attributes",
            F.map_filter(
                F.create_map(
                    F.lit("call_id"), F.col("call_id"),
                    F.lit("role"), F.col("role"),
                ),
                lambda k, v: v.isNotNull(),
            ),
        )
        out = redact(
            df, blocked_value_patterns=["^[0-9a-f]{8}$"], summary="debug",
            allowed_value_patterns=["^[0-3]"],  # exempt ~¼ of the hex ids
        )
        m = F.col("attributes")
        return out.select(
            "conv_id", "turn_idx",
            m.getItem("call_id").alias("call_id_red"),
            m.getItem("role").alias("role_red"),
            m.getItem("redaction.masked.keys").alias("masked_keys"),
            m.getItem("redaction.masked.count").alias("masked_count"),
        )

    reg(
        "t_redact",
        t_redact,
        f"""WITH {_parsed_cte()},
red AS (
  SELECT *,
         call_id IS NOT NULL
         AND regexp_matches(call_id, '^[0-9a-f]{{8}}$')
         AND NOT regexp_matches(call_id, '^[0-3]') AS hit
  FROM parsed)
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN '****' ELSE call_id END AS call_id_red,
       role AS role_red,
       CASE WHEN hit THEN 'call_id' END AS masked_keys,
       CASE WHEN hit THEN '1' END AS masked_count
FROM red""",
    )

    # ---- groupbyattrs (groupbyattrsprocessor/processor.go:63-100)
    def t_groupbyattrs(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        df = df.withColumn(
            "resource", F.create_map(F.lit("service"), F.lit("agent"))
        ).withColumn(
            "attributes",
            F.map_filter(
                F.create_map(
                    F.lit("tool"), F.col("tool"),
                    F.lit("role"), F.col("role"),
                ),
                lambda k, v: v.isNotNull(),
            ),
        )
        out = group_by_attrs(df, ["tool"])
        ent = F.array_sort(F.map_entries(F.col("resource")))
        return out.select(
            "conv_id", "turn_idx",
            F.array_join(
                F.transform(ent, lambda e: F.concat(e["key"], F.lit("="), e["value"])),
                ",",
            ).alias("resource_str"),
            F.size(F.map_keys(F.col("attributes"))).alias("n_attrs"),
        )

    reg(
        "t_groupbyattrs",
        t_groupbyattrs,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
       CASE WHEN tool IS NULL THEN 'service=agent'
            ELSE 'service=agent,tool=' || tool END AS resource_str,
       CASE WHEN role IS NULL THEN 0 ELSE 1 END AS n_attrs
FROM parsed""",
    )

    # ---- t_ottl_transform: a full OTTL StatementSequence over the
    # canonical log shape (transformprocessor, internal/logs/processor.go:
    # 53-66) exercising set/ConvertCase/Int + int division, the enum
    # where-clause, the cross-type comparison matrix (pkg/ottl/compare.go:
    # dynamic-vs-int mismatch is ne-only), and append's slice semantics
    # (ottlfuncs/README.md:65) — each reproduced exactly in the SQL oracle.
    def t_ottl_transform(spark, sf_dir):
        from .ottl import StatementSequence

        df = _parsed(spark, sf_dir)
        logdf = df.select(
            "conv_id", "turn_idx",
            F.col("text").alias("body"),
            "severity_text", "severity_number",
            F.map_filter(
                F.create_map(
                    F.lit("role"), F.col("role"),
                    F.lit("dur"), F.col("dur_ms").cast("string"),
                ),
                lambda k, v: v.isNotNull(),
            ).alias("attributes"),
        )
        seq = StatementSequence([
            'set(attributes["sev"], ConvertCase(severity_text, "lower"))',
            'set(attributes["dur_s"], Int(attributes["dur"]) / 1000)'
            ' where attributes["dur"] != nil',
            'set(attributes["is_err"], "true")'
            ' where severity_number >= SEVERITY_NUMBER_ERROR',
            # matrix: non-numeric dynamic vs int ⇒ mismatched types:
            # == never true, != always true
            'set(attributes["flag"], "mixed") where attributes["role"] == 5',
            'set(attributes["flag2"], "neq") where attributes["role"] != 5',
            'append(attributes["tags"], attributes["role"])',
            'append(attributes["tags"], "x")',
        ], error_mode="ignore")
        out = seq.apply(logdf)
        a = F.col("attributes")
        return out.select(
            "conv_id", "turn_idx",
            a["sev"].alias("sev"),
            a["dur_s"].alias("dur_s"),
            a["is_err"].alias("is_err"),
            a["flag"].alias("flag"),
            a["flag2"].alias("flag2"),
            a["tags"].alias("tags"),
        )

    reg(
        "t_ottl_transform",
        t_ottl_transform,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
  lower(severity_text) AS sev,
  CASE WHEN dur_ms IS NOT NULL THEN CAST(dur_ms // 1000 AS VARCHAR) END AS dur_s,
  CASE WHEN coalesce(severity_number >= 17, false) THEN 'true' END AS is_err,
  CAST(NULL AS VARCHAR) AS flag,
  'neq' AS flag2,
  '["' || role || '","x"]' AS tags
FROM parsed""",
    )

    # ---- t_config_pipeline: the WHOLE declarative YAML front end under
    # the oracle — receiver (parse) → attributes insert → filter drop →
    # routing connector errors sink, assembled by CollectorConfig exactly
    # as a user's config would be (service/pipelines graph, the layout of
    # every reference testbed scenario).
    def t_config_pipeline(spark, sf_dir):
        from .config import CollectorConfig

        fx = ensure_fixture_dir(sf_dir)
        cfg = {
            "receivers": {"transcripts": {"path": fx}},
            "processors": {
                "attributes/stamp": {"actions": [
                    {"action": "insert", "key": "env", "value": "prod"},
                ]},
                "filter/drop_system": {"logs": {"log_conditions": [
                    'attributes["role"] == "system"',
                ]}},
            },
            "connectors": {"routing": {
                "match_once": False,
                "default_pipelines": ["logs/default"],
                "table": [
                    {"condition":
                     "severity_number >= SEVERITY_NUMBER_ERROR",
                     "pipelines": ["logs/errors"]},
                ],
            }},
            "exporters": {"debug/errors": {}, "noop/default": {}},
            "service": {"pipelines": {
                "logs/in": {
                    "receivers": ["transcripts"],
                    "processors": ["attributes/stamp",
                                   "filter/drop_system"],
                    "exporters": ["routing"],
                },
                "logs/errors": {"receivers": ["routing"],
                                "exporters": ["debug/errors"]},
                "logs/default": {"receivers": ["routing"],
                                 "exporters": ["noop/default"]},
            }},
        }
        out = CollectorConfig(cfg).build(spark)["debug/errors"]
        return out.select(
            "conv_id", "turn_idx", "body",
            "severity_text", "severity_number",
            F.col("attributes")["env"].alias("env"),
        )

    reg(
        "t_config_pipeline",
        t_config_pipeline,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx, text AS body,
       severity_text, severity_number, 'prod' AS env
FROM parsed
WHERE NOT coalesce(role = 'system', false)
  AND coalesce(severity_number >= 17, false)""",
    )

    # ---- t_pii_scrub: text-column PII/secret scrubbing --------------------
    # (the text analog of redactionprocessor's blocked-value masking —
    # processor.go:158-241 — applied to the raw transcript text before it
    # can enter a training corpus). Masks emails/IPv4/long-hex ids (the
    # call_id tokens)/long digit runs and counts matches per category.
    # Zero shuffles: one narrow projection pipelined into the scan.
    def t_pii_scrub(spark, sf_dir):
        from .textops import pii_scrub

        fx = ensure_fixture_dir(sf_dir)
        df = read_transcripts(spark, fx)
        return pii_scrub(df, id_cols=("conv_id", "turn_idx"))

    from .textops import PII_PATTERNS

    _pii_counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    _pii_scrubbed = "text"
    for _name, _pat, _repl in PII_PATTERNS:
        _pii_scrubbed = (
            f"regexp_replace({_pii_scrubbed}, '{_pat}', '{_repl}', 'g')"
        )

    reg(
        "t_pii_scrub",
        t_pii_scrub,
        f"""SELECT conv_id, turn_idx,
       {_pii_counts},
       {_pii_scrubbed} AS scrubbed_text
FROM {_TR}""",
    )

    _register_events(reg)
    _register_documents(reg)
    _register_embeddings(reg)
    _register_media(reg)
    _register_scale_paths(reg)
    _register_relational(reg)
    _register_round4_features(reg)
    _register_template_mining(reg)
    _register_round5_features(reg)
    return queries, oracles


def _register_round4_features(reg) -> None:
    """Oracle gates for the round-4 additions, appended at the registry
    tail = their true build order."""
    from .operators.filter import include_exclude_gate
    from .ottl.compiler import compile_routing_statement

    def _with_attrs(spark, sf_dir):
        df = _parsed(spark, sf_dir)
        return df.withColumn(
            "attributes",
            F.map_filter(
                F.create_map(
                    F.lit("err_code"), F.col("err_code"),
                    F.lit("tool_name"), F.col("tool_name"),
                ),
                lambda k, v: v.isNotNull(),
            ),
        )

    # ---- t_attributes_gated: include/exclude match properties ----------
    # (filterconfig/config.go:60-131): the upsert applies ONLY to rows the
    # include block matches (severity >= ERROR) and exclude spares
    # (tool_name != 'bash').
    def t_attributes_gated(spark, sf_dir):
        df = _with_attrs(spark, sf_dir)
        gate = include_exclude_gate({
            "include": {"match_type": "strict",
                        "log_severity_number": {"min": 17}},
            "exclude": {"match_type": "strict",
                        "attributes": [{"key": "tool_name",
                                        "value": "bash"}]},
        })
        out = apply_actions(
            df,
            [Action("upsert", key="flagged", value=F.lit("yes"))],
            where=gate,
        )
        return out.select(
            "conv_id", "turn_idx",
            F.col("attributes").getItem("flagged").alias("flagged"),
        )

    reg(
        "t_attributes_gated",
        t_attributes_gated,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
       CASE WHEN severity_number IS NOT NULL AND severity_number != 0
                 AND severity_number >= 17
                 AND (tool_name IS NULL OR tool_name != 'bash')
            THEN 'yes' END AS flagged
FROM parsed""",
    )

    # ---- t_route_statement: routing table full OTTL statement form ------
    # (routingconnector README.md:61-64): route on the where clause AND
    # apply the mutating editor (delete_key) to the routed copy.
    def t_route_statement(spark, sf_dir):
        from .config import _ottl_ctx

        df = _with_attrs(spark, sf_dir)
        cond, mutate = compile_routing_statement(
            'delete_key(attributes, "tool_name") where '
            'attributes["tool_name"] == "bash"',
            _ottl_ctx(),
        )
        routed = df.filter(F.coalesce(cond, F.lit(False)))
        routed = mutate(routed)
        m = F.col("attributes")
        return routed.select(
            "conv_id", "turn_idx",
            m.getItem("tool_name").alias("tool_attr"),
            m.getItem("err_code").alias("err_attr"),
        )

    reg(
        "t_route_statement",
        t_route_statement,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
       NULL::VARCHAR AS tool_attr,
       err_code AS err_attr
FROM parsed WHERE tool_name = 'bash'""",
    )

    # ---- s_semdedup: SemDeDup cluster-then-prune semantic dedup ----------
    # (Abbas et al. 2023 §3: k-means cells gate the pairwise cosine;
    # the kept representative per dup group is the member FARTHEST from
    # its centroid). Seed centroids = first-8 vectors so the oracle can
    # reproduce assignment; reps ordered by (centroid_sim ASC, vec_id).
    def s_semdedup(spark, sf_dir):
        from .similarity import semdedup_survivors

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return semdedup_survivors(emb, k=8, threshold=0.4)

    reg(
        "s_semdedup",
        s_semdedup,
        """WITH RECURSIVE cents AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
  FROM embeddings ORDER BY vec_id LIMIT 8
), assigned AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cent_id FROM cents c
          ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent)
                   DESC, c.cent_id ASC
          LIMIT 1) AS cell,
         (SELECT round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              c.cent), 4)
          FROM cents c
          ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent)
                   DESC, c.cent_id ASC
          LIMIT 1) AS centroid_sim
  FROM embeddings e
), vpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 4) >= 0.4
), edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM vpairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM vpairs
), reach(vec_id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.vec_id
), clusters AS (
  SELECT vec_id, min(r) AS cluster_id FROM reach GROUP BY vec_id
), members AS (
  SELECT a.vec_id, a.cell, a.centroid_sim, c.cluster_id
  FROM assigned a JOIN clusters c USING (vec_id)
), sized AS (
  SELECT cluster_id, count(*)::BIGINT AS n_members FROM members GROUP BY 1
), reps AS (
  SELECT m.*, row_number() OVER (
    PARTITION BY cluster_id ORDER BY centroid_sim ASC, vec_id ASC) AS rn
  FROM members m
)
SELECT r.vec_id, r.cell, r.centroid_sim, s.n_members
FROM reps r JOIN sized s USING (cluster_id) WHERE r.rn = 1""",
    )


def _register_template_mining(reg) -> None:
    """Drain-style log template mining over the transcript text column
    (textops.py mask_log_variables / template_stats / rare_template_turns
    — the telemetry analog of logdedup body templating). The oracle SQL
    compiles from the SAME TEMPLATE_MASKS table the Spark projection
    compiles from (patterns are RE2-safe, so one pattern string runs in
    Java regex AND DuckDB)."""
    from .textops import (
        TEMPLATE_MASKS,
        log_templates,
        rare_template_turns,
        template_stats,
    )

    masked = "text"
    for _pat, _repl in TEMPLATE_MASKS:
        masked = f"regexp_replace({masked}, '{_pat}', '{_repl}', 'g')"

    def t_log_template(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return log_templates(read_transcripts(spark, fx))

    reg(
        "t_log_template",
        t_log_template,
        f"""SELECT conv_id, turn_idx, text,
       {masked} AS template
FROM {_TR}""",
    )

    def t_template_stats(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return template_stats(read_transcripts(spark, fx))

    reg(
        "t_template_stats",
        t_template_stats,
        f"""WITH t AS (
  SELECT {masked} AS template, conv_id, text FROM {_TR}
)
SELECT template, count(*)::BIGINT AS n_turns,
       count(DISTINCT conv_id)::BIGINT AS n_convs,
       min(text) AS example
FROM t GROUP BY 1""",
    )

    def t_rare_templates(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return rare_template_turns(read_transcripts(spark, fx), max_count=1)

    reg(
        "t_rare_templates",
        t_rare_templates,
        f"""WITH t AS (
  SELECT conv_id, turn_idx, {masked} AS template FROM {_TR}
), rare AS (
  SELECT template, count(*)::BIGINT AS n_turns
  FROM t GROUP BY 1 HAVING count(*) <= 1
)
SELECT t.conv_id, t.turn_idx, t.template, r.n_turns
FROM t JOIN rare r USING (template)""",
    )

    # Drain leaf-group generalization (textops.drain_templates): the
    # order-independent fixed point of the cluster-merge rule — a token
    # position is <*> iff its (token count, first token) group ever
    # disagrees on it. Both engines compute the identical pipeline.
    from .textops import drain_cluster_stats, drain_templates

    _drain_cte = f"""toks AS (
  SELECT conv_id, turn_idx, string_split({masked}, ' ') AS t FROM {_TR}
), base AS (
  SELECT conv_id, turn_idx, t,
         len(t)::VARCHAR || chr(31) || t[1] AS gkey
  FROM toks
), pos AS (
  SELECT gkey, i AS pos, t[i] AS tok
  FROM base, UNNEST(generate_series(1, len(t))) AS g(i)
), posagg AS (
  SELECT gkey, pos,
         CASE WHEN min(tok) = max(tok) THEN min(tok)
              ELSE '<*>' END AS outtok
  FROM pos GROUP BY 1, 2
), tmpl AS (
  SELECT gkey, string_agg(outtok, ' ' ORDER BY pos) AS template
  FROM posagg GROUP BY 1
)"""

    def t_drain_assign(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return drain_templates(read_transcripts(spark, fx))

    reg(
        "t_drain_assign",
        t_drain_assign,
        f"""WITH {_drain_cte}
SELECT b.conv_id, b.turn_idx, t.template
FROM base b JOIN tmpl t USING (gkey)""",
    )

    def t_drain_clusters(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return drain_cluster_stats(read_transcripts(spark, fx))

    reg(
        "t_drain_clusters",
        t_drain_clusters,
        f"""WITH {_drain_cte},
assigned AS (
  SELECT b.conv_id, t.template FROM base b JOIN tmpl t USING (gkey)
)
SELECT template, count(*)::BIGINT AS n_turns,
       count(DISTINCT conv_id)::BIGINT AS n_convs,
       len(list_filter(string_split(template, ' '),
                       x -> x = '<*>'))::INT AS n_wildcards
FROM assigned GROUP BY 1""",
    )

    # template analytics on top of the mined templates: novelty
    # attribution, burst detection, and market-basket co-occurrence —
    # the three standard consumers of a template table.
    from .textops import (
        template_bursts,
        template_cooccurrence,
        template_first_seen,
    )

    def t_template_novelty(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return template_first_seen(read_transcripts(spark, fx))

    reg(
        "t_template_novelty",
        t_template_novelty,
        f"""WITH t AS (
  SELECT conv_id, turn_idx, ts, {masked} AS template FROM {_TR}
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY template ORDER BY ts, conv_id, turn_idx) AS rn
  FROM t
), agg AS (
  SELECT template, count(*)::BIGINT AS n_turns FROM t GROUP BY 1
)
SELECT r.template, floor(epoch(r.ts))::BIGINT AS first_epoch,
       r.conv_id AS first_conv_id, r.turn_idx AS first_turn_idx,
       a.n_turns
FROM r JOIN agg a USING (template) WHERE r.rn = 1""",
    )

    def t_template_bursts(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return template_bursts(
            read_transcripts(spark, fx),
            bucket_s=600, lookback=3, factor=4, min_count=10,
        )

    reg(
        "t_template_bursts",
        t_template_bursts,
        f"""WITH t AS (
  SELECT {masked} AS template,
         (floor(epoch(ts))::BIGINT // 600) * 600 AS bucket_epoch
  FROM {_TR}
), c AS (
  SELECT template, bucket_epoch, count(*)::BIGINT AS n
  FROM t GROUP BY 1, 2
), s AS (
  SELECT template, bucket_epoch, n,
         coalesce(sum(n) OVER (
           PARTITION BY template ORDER BY bucket_epoch
           RANGE BETWEEN 1800 PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS trailing_n
  FROM c
)
SELECT template, bucket_epoch, n, trailing_n,
       (n >= 10 AND n * 3 > 4 * trailing_n) AS is_burst
FROM s""",
    )

    def t_template_cooccur(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return template_cooccurrence(
            read_transcripts(spark, fx),
            max_per_conv=64, min_pair_convs=2,
        )

    reg(
        "t_template_cooccur",
        t_template_cooccur,
        f"""WITH ct AS (
  SELECT conv_id AS conv, {masked} AS template, count(*) AS m
  FROM {_TR} GROUP BY 1, 2
), capped AS (
  SELECT conv, template FROM (
    SELECT conv, template, row_number() OVER (
      PARTITION BY conv ORDER BY m DESC, template) AS rn
    FROM ct
  ) WHERE rn <= 64
), pairs AS (
  SELECT a.template AS template_a, b.template AS template_b,
         count(*)::BIGINT AS n_both
  FROM capped a JOIN capped b
    ON a.conv = b.conv AND a.template < b.template
  GROUP BY 1, 2 HAVING count(*) >= 2
), solo AS (
  SELECT template, count(*)::BIGINT AS n_solo FROM capped GROUP BY 1
)
SELECT p.template_a, p.template_b, p.n_both,
       sa.n_solo AS n_a, sb.n_solo AS n_b
FROM pairs p
JOIN solo sa ON sa.template = p.template_a
JOIN solo sb ON sb.template = p.template_b""",
    )

    # per-request latency: user turn → next assistant turn, one window
    # pass per conversation, integer seconds (engine-exact)
    from .textops import response_latency

    def t_response_latency(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return response_latency(read_transcripts(spark, fx))

    reg(
        "t_response_latency",
        t_response_latency,
        f"""WITH t AS (
  SELECT conv_id, turn_idx, role, floor(epoch(ts))::BIGINT AS ep
  FROM {_TR}
), s AS (
  SELECT conv_id, turn_idx, role, ep,
         first_value(CASE WHEN role = 'assistant' THEN ep END
                     IGNORE NULLS) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS nxt
  FROM t
)
SELECT conv_id, turn_idx, (nxt - ep)::BIGINT AS wait_s,
       nxt IS NOT NULL AS answered
FROM s WHERE role = 'user'""",
    )

    # MTTR: error-marked turn → next non-error turn, same window shape
    from .textops import error_recovery_time

    def t_error_recovery(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return error_recovery_time(read_transcripts(spark, fx))

    reg(
        "t_error_recovery",
        t_error_recovery,
        f"""WITH t AS (
  SELECT conv_id, turn_idx,
         contains(text, 'level=ERROR') AS is_err,
         floor(epoch(ts))::BIGINT AS ep
  FROM {_TR}
), s AS (
  SELECT conv_id, turn_idx, is_err, ep,
         first_value(CASE WHEN NOT is_err THEN ep END
                     IGNORE NULLS) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS nxt
  FROM t
)
SELECT conv_id, turn_idx, (nxt - ep)::BIGINT AS wait_s,
       nxt IS NOT NULL AS answered
FROM s WHERE is_err""",
    )


# ---------------------------------------------------------------------------
# classical relational shapes over the driver's TPC-H-shaped tables
# (relational.py — operators beyond the reference's lookup-join/hash-agg
# surface: shuffle joins, star joins, top-k, semi/anti joins)
# ---------------------------------------------------------------------------

def _register_relational(reg) -> None:
    from .relational import (
        customers_without_orders,
        large_orders,
        order_priority_check,
        pricing_summary,
        region_sales,
        shipping_priority,
    )

    def _t(spark, sf_dir, name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    _REV = "sum(l_extendedprice * (1 - l_discount))"

    def q1_pricing_summary(spark, sf_dir):
        return pricing_summary(_t(spark, sf_dir, "lineitem"))

    reg(
        "q1_pricing_summary",
        q1_pricing_summary,
        f"""SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       {_REV} AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity) AS avg_qty,
       avg(l_extendedprice) AS avg_price,
       avg(l_discount) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
    )

    def q3_shipping_priority(spark, sf_dir):
        return shipping_priority(
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "orders"),
            _t(spark, sf_dir, "lineitem"),
        )

    reg(
        "q3_shipping_priority",
        q3_shipping_priority,
        f"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_REV} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10""",
    )

    def q4_order_priority(spark, sf_dir):
        return order_priority_check(
            _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
        )

    reg(
        "q4_order_priority",
        q4_order_priority,
        """SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
GROUP BY o_orderpriority""",
    )

    def q5_region_sales(spark, sf_dir):
        return region_sales(
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "orders"),
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "supplier"),
            _t(spark, sf_dir, "nation"),
            _t(spark, sf_dir, "region"),
        )

    reg(
        "q5_region_sales",
        q5_region_sales,
        f"""SELECT n_name, {_REV} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name""",
    )

    def q18_large_orders(spark, sf_dir):
        return large_orders(
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "orders"),
            _t(spark, sf_dir, "lineitem"),
        )

    reg(
        "q18_large_orders",
        q18_large_orders,
        """WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100""",
    )

    def q_customers_no_urgent(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return customers_without_orders(_t(spark, sf_dir, "customer"), orders)

    reg(
        "q_customers_no_urgent",
        q_customers_no_urgent,
        """SELECT c_mktsegment,
       count(*)::BIGINT AS n_customers,
       sum(c_acctbal) AS sum_acctbal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_custkey = c_custkey)
GROUP BY c_mktsegment""",
    )

    from .relational import (
        disjunctive_part_revenue,
        priority_shipping_split,
        promo_revenue_ratio,
        small_quantity_revenue,
        supplier_part_variety,
        top_customers_per_nation,
    )

    def q12_priority_split(spark, sf_dir):
        return priority_shipping_split(
            _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
        )

    reg(
        "q12_priority_split",
        q12_priority_split,
        """SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag""",
    )

    def q14_promo_revenue(spark, sf_dir):
        return promo_revenue_ratio(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
        )

    reg(
        "q14_promo_revenue",
        q14_promo_revenue,
        """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'""",
    )

    def q16_part_variety(spark, sf_dir):
        return supplier_part_variety(
            _t(spark, sf_dir, "part"),
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "supplier"),
        )

    reg(
        "q16_part_variety",
        q16_part_variety,
        """SELECT p_brand, p_size,
       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 9, 13)
  AND NOT EXISTS (SELECT 1 FROM supplier
                  WHERE s_acctbal < 0 AND s_suppkey = l_suppkey)
GROUP BY p_brand, p_size""",
    )

    def q17_small_qty_revenue(spark, sf_dir):
        return small_quantity_revenue(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
        )

    reg(
        "q17_small_qty_revenue",
        q17_small_qty_revenue,
        """WITH li AS (
  SELECT l.* FROM lineitem l
  JOIN part p ON l_partkey = p_partkey AND p_brand = 'Brand#13'
), cut AS (
  SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_cut
  FROM li GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM li JOIN cut ON l_partkey = t_partkey
WHERE l_quantity < qty_cut""",
    )

    def q19_disjunctive_revenue(spark, sf_dir):
        return disjunctive_part_revenue(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
        )

    reg(
        "q19_disjunctive_revenue",
        q19_disjunctive_revenue,
        """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",
    )

    def q10_top_customers(spark, sf_dir):
        return top_customers_per_nation(
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "orders"),
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "nation"),
        )

    reg(
        "q10_top_customers",
        q10_top_customers,
        """WITH rev AS (
  SELECT n_name, c_custkey, c_name,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY n_name, c_custkey, c_name
)
SELECT n_name, c_custkey, c_name, revenue, rk::INT AS rk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS rk
  FROM rev) WHERE rk <= 3""",
    )

    # ---- q7: nation-pair volume (disjunctive pair predicate over a
    # doubly-dim-enriched fact-fact join) ------------------------------------
    def q7_nation_volume(spark, sf_dir):
        from .relational import nation_pair_volume

        return nation_pair_volume(
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "orders"),
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "supplier"),
            _t(spark, sf_dir, "nation"),
        )

    reg(
        "q7_nation_volume",
        q7_nation_volume,
        f"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate)::INT AS l_year,
       round({_REV}, 4) AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3""",
    )

    # ---- q13: customer order-count distribution (left outer join with
    # filtered build side, double aggregation) -------------------------------
    def q13_order_distribution(spark, sf_dir):
        from .relational import customer_order_distribution

        return customer_order_distribution(
            _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
        )

    reg(
        "q13_order_distribution",
        q13_order_distribution,
        """WITH counts AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*)::BIGINT AS custdist FROM counts GROUP BY 1""",
    )

    # ---- q15: max-revenue supplier (scalar subquery decorrelated to a
    # broadcast 1-row max join) ---------------------------------------------
    def q15_top_supplier(spark, sf_dir):
        from .relational import top_revenue_supplier

        return top_revenue_supplier(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
        )

    reg(
        "q15_top_supplier",
        q15_top_supplier,
        f"""WITH rev AS (
  SELECT l_suppkey, round({_REV}, 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
    )

    # ---- q21: exists / not-exists composition (semi + anti joins with
    # equi-key + inequality residual) ----------------------------------------
    def q21_exclusive_returns(spark, sf_dir):
        from .relational import exclusive_return_suppliers

        return exclusive_return_suppliers(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
        )

    reg(
        "q21_exclusive_returns",
        q21_exclusive_returns,
        """WITH l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
)
SELECT s_suppkey, s_name, count(*)::BIGINT AS numwait
FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 10""",
    )

    # ---- q6: pure scan-filter-aggregate (full predicate pushdown) ----------
    def q6_forecast_revenue(spark, sf_dir):
        from .relational import forecast_revenue

        return forecast_revenue(_t(spark, sf_dir, "lineitem"))

    reg(
        "q6_forecast_revenue",
        q6_forecast_revenue,
        """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03999 AND l_discount <= 0.06001
  AND l_quantity < 24""",
    )

    # ---- q8: 7-table star join + conditional-aggregate market share --------
    def q8_market_share(spark, sf_dir):
        from .relational import national_market_share

        return national_market_share(
            _t(spark, sf_dir, "part"),
            _t(spark, sf_dir, "supplier"),
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "orders"),
            _t(spark, sf_dir, "customer"),
            _t(spark, sf_dir, "nation"),
            _t(spark, sf_dir, "region"),
        )

    reg(
        "q8_market_share",
        q8_market_share,
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY o_year""",
    )

    # ---- q9: profit by nation and order-year (infix LIKE dim filter,
    # 3 broadcast arms, one fact-fact shuffle, 2-key agg) ---------------------
    def q9_profit_by_nation(spark, sf_dir):
        from .relational import profit_by_nation_year

        return profit_by_nation_year(
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "part"),
            _t(spark, sf_dir, "supplier"),
            _t(spark, sf_dir, "nation"),
            _t(spark, sf_dir, "orders"),
        )

    reg(
        "q9_profit_by_nation",
        q9_profit_by_nation,
        """SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY 1, 2""",
    )

    # ---- q11: parts above a fraction of global traded value (HAVING >
    # global-scalar subquery, decorrelated to a 1-row broadcast) --------------
    def q11_important_parts(spark, sf_dir):
        from .relational import important_parts

        return important_parts(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
        )

    reg(
        "q11_important_parts",
        q11_important_parts,
        """WITH val AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
  FROM lineitem GROUP BY l_partkey
)
SELECT p_partkey, p_name, round(value, 4) AS part_value
FROM val JOIN part ON l_partkey = p_partkey
WHERE value > (SELECT sum(value) * 0.00065 FROM val)""",
    )

    # ---- q22: dormant high-balance customers (IN-list filter, scalar AVG
    # subquery, NOT EXISTS anti join, per-country agg) ------------------------
    def q22_sales_opportunity(spark, sf_dir):
        from .relational import global_sales_opportunity

        return global_sales_opportunity(
            _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
        )

    reg(
        "q22_sales_opportunity",
        q22_sales_opportunity,
        """SELECT c_nationkey AS cntrycode,
       count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c_acctbal > (
      SELECT avg(c_acctbal) FROM customer
      WHERE c_acctbal > 0.0
        AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
GROUP BY cntrycode""",
    )

    # ---- q2: per-group argmin join-back (correlated MIN subquery,
    # decorrelated; deterministic tie-break via second agg) -------------------
    def q2_min_cost_supplier(spark, sf_dir):
        from .relational import min_cost_supplier

        return min_cost_supplier(
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "supplier"),
            _t(spark, sf_dir, "part"),
        )

    reg(
        "q2_min_cost_supplier",
        q2_min_cost_supplier,
        """WITH cost AS (
  SELECT l_partkey, l_suppkey, round(avg(l_extendedprice), 4) AS avg_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
), winners AS (
  SELECT l_partkey, avg_price, min(l_suppkey) AS s_suppkey
  FROM cost c
  WHERE avg_price = (SELECT min(avg_price) FROM cost c2
                     WHERE c2.l_partkey = c.l_partkey)
  GROUP BY l_partkey, avg_price
)
SELECT p_partkey, p_name, w.s_suppkey, s_name,
       avg_price AS min_avg_price
FROM winners w
JOIN part ON l_partkey = p_partkey
JOIN supplier ON w.s_suppkey = supplier.s_suppkey
WHERE p_size = 10""",
    )

    # ---- q20: nested EXISTS as stacked left-semi joins ----------------------
    def q20_promo_part_suppliers(spark, sf_dir):
        from .relational import promo_part_suppliers

        return promo_part_suppliers(
            _t(spark, sf_dir, "lineitem"),
            _t(spark, sf_dir, "part"),
            _t(spark, sf_dir, "supplier"),
        )

    reg(
        "q20_promo_part_suppliers",
        q20_promo_part_suppliers,
        """SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_suppkey = s_suppkey AND l_quantity > 45
    AND EXISTS (SELECT 1 FROM part
                WHERE p_partkey = l_partkey AND p_type = 'PROMO'))""",
    )


# ---------------------------------------------------------------------------
# multimodal: opaque binary payload + typed metadata (multimodal.py)
# ---------------------------------------------------------------------------

_MEDIA = f"read_parquet('{ORACLE_FX}/media.parquet')"


def _register_media(reg) -> None:
    from .multimodal import frame_offsets, media_features

    def _media(spark, sf_dir):
        fx = ensure_fixture_dir(sf_dir)
        return spark.read.parquet(os.path.join(fx, "media.parquet"))

    # mapInPandas byte-level feature extraction; hash is md5 over lowercase
    # hex so DuckDB reproduces it without blob-md5 support
    def m_features(spark, sf_dir):
        return media_features(_media(spark, sf_dir)).select(
            "media_id", "media_type", "n_bytes", "payload_hash"
        )

    reg(
        "m_features",
        m_features,
        f"""SELECT media_id, media_type,
       octet_length(payload)::BIGINT AS n_bytes,
       md5(lower(hex(payload))) AS payload_hash
FROM {_MEDIA}""",
    )

    # JVM-side frame-sampling plan (k evenly spaced frames per video)
    def m_frame_offsets(spark, sf_dir):
        return frame_offsets(_media(spark, sf_dir), k=4)

    reg(
        "m_frame_offsets",
        m_frame_offsets,
        f"""WITH v AS (
  SELECT media_id, n_frames, octet_length(payload)::BIGINT AS n_bytes
  FROM {_MEDIA} WHERE media_type = 'video' AND n_frames >= 1
)
SELECT DISTINCT media_id,
       ((i * n_frames) // 4)::INT AS frame_no,
       (((i * n_frames) // 4) * (n_bytes // n_frames))::BIGINT AS byte_offset,
       (n_bytes // n_frames)::BIGINT AS frame_len
FROM v, UNNEST(generate_series(0, 3)) AS t(i)""",
    )


# ---------------------------------------------------------------------------
# events-table operators (json/time/uri/kv parsers on the driver's tables)
# ---------------------------------------------------------------------------

def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _register_events(reg) -> None:
    # json_parser (parser/json/config.go:35) → from_json
    def e_json_parse(spark, sf_dir):
        df = json_parser(
            _ev(spark, sf_dir), "props", "k INT", to="parsed"
        )
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("parsed.k").cast("long")).alias("sum_k"),
        )

    reg(
        "e_json_parse",
        e_json_parse,
        """SELECT event_type, count(*)::BIGINT AS n,
       CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k
FROM events GROUP BY event_type""",
    )

    # severity_parser on event_type tokens (helper/severity_builder.go)
    def e_severity_map(spark, sf_dir):
        from .operators.parse import severity_parser

        # token set spans the full default preset: tier names, numeric
        # enum strings, warning/err aliases, HTTP codes, custom mapping
        toks = ["err2", "warning3", "trace4", "7", "16", "503", "204",
                "notice", "critical", "info", "unmapped"]
        tok_expr = F.element_at(
            F.array(*[F.lit(t) for t in toks]),
            (F.col("event_id") % len(toks) + 1).cast("int"),
        )
        df = _ev(spark, sf_dir).withColumn("sev_src", tok_expr)
        df = severity_parser(df, "sev_src")
        return df.groupBy("severity_text", "severity_number").agg(
            F.count(F.lit(1)).alias("n")
        )

    reg(
        "e_severity_map",
        e_severity_map,
        f"""WITH src AS (
  SELECT (['err2','warning3','trace4','7','16','503','204',
           'notice','critical','info','unmapped'])[
            (event_id % 11 + 1)::INT] AS sev_src
  FROM events
), mapped AS (
  SELECT {_sev_text_sql('sev_src')} AS severity_text,
         {_sev_num_sql(_sev_text_sql('sev_src'))} AS severity_number
  FROM src
)
SELECT severity_text, severity_number, count(*)::BIGINT AS n
FROM mapped GROUP BY 1, 2""",
    )

    # ---- e_otlp_nested: pdata dynamic value model end-to-end --------------
    # OTLP-JSON LogRecords with a kvlist body (nested slice + map), typed
    # int/bool/double attributes → parse_otlp_records (VARIANT columns) →
    # typed extraction + an OTTL condition over a typed body path.
    # (converter.go:283-326 upsertToAttributeVal; ottllog/log.go:196-264
    # typed body paths.) The oracle recomputes every leaf directly from
    # the event fields — value equality proves the whole round trip:
    # AnyValue encode → Arrow UDF re-encode → variant → typed extraction.
    def e_otlp_nested(spark, sf_dir):
        from .ottl import compile_condition
        from .ottl.compiler import VARIANT, Context
        from .pdata import parse_otlp_records

        ev = _ev(spark, sf_dir)
        line = F.format_string(
            '{"timeUnixNano":"%d000000000","severityNumber":9,'
            '"body":{"kvlistValue":{"values":['
            '{"key":"msg","value":{"stringValue":"%s"}},'
            '{"key":"items","value":{"arrayValue":{"values":['
            '{"intValue":"%d"},'
            '{"kvlistValue":{"values":[{"key":"name",'
            '"value":{"stringValue":"u%d"}}]}}]}}},'
            '{"key":"val","value":{"doubleValue":%s}}]}},'
            '"attributes":['
            '{"key":"retries","value":{"intValue":"%d"}},'
            '{"key":"ok","value":{"boolValue":%s}},'
            '{"key":"host","value":{"stringValue":"h%d"}}]}',
            F.col("event_id"),
            F.col("event_type"),
            F.col("event_id"),
            F.col("user_id"),
            ((F.col("event_id") % 100) / 4.0).cast("string"),
            (F.col("event_id") % 5).cast("int"),
            F.when(F.col("event_id") % 2 == 0, F.lit("true"))
            .otherwise(F.lit("false")),
            (F.col("user_id") % 4).cast("int"),
        )
        typed = parse_otlp_records(
            ev.select("event_id", line.alias("line"))
        )
        ctx = Context(
            path_map={"body": "body_var", "attributes": "attrs_var"},
            path_types={"body_var": VARIANT, "attrs_var": VARIANT},
        )
        return typed.select(
            "event_id",
            F.col("ts").cast("long").alias("epoch_s"),
            "body_kind",
            F.try_variant_get("body_var", "$.msg", "string").alias("msg"),
            F.try_variant_get("body_var", "$.items[0]", "long")
            .alias("item0"),
            F.try_variant_get("body_var", "$.items[1].name", "string")
            .alias("name"),
            F.try_variant_get("body_var", "$.val", "double").alias("val"),
            F.try_variant_get("attrs_var", "$.retries", "long")
            .alias("retries"),
            F.try_variant_get("attrs_var", "$.ok", "boolean").alias("ok"),
            F.try_variant_get("attrs_var", "$.host", "string").alias("host"),
            compile_condition(
                'attributes["retries"] > 2 and body["msg"] != nil', ctx
            ).alias("hot"),
        )

    reg(
        "e_otlp_nested",
        e_otlp_nested,
        """SELECT event_id,
       event_id AS epoch_s,
       'map' AS body_kind,
       event_type AS msg,
       event_id AS item0,
       'u' || user_id::VARCHAR AS name,
       (event_id % 100) / 4.0 AS val,
       (event_id % 5)::BIGINT AS retries,
       (event_id % 2 = 0) AS ok,
       'h' || (user_id % 4)::VARCHAR AS host,
       (event_id % 5) > 2 AS hot
FROM events""",
    )

    # ---- e_otlp_envelope: resourceLogs envelope ingestion -----------------
    # Each line is a full ExportLogsServiceRequest with TWO LogRecords
    # (the shape the reference otlpjsonfile receiver consumes); the
    # envelope reader fans out 2 rows per event carrying resource/scope.
    def e_otlp_envelope(spark, sf_dir):
        from .pdata import parse_otlp_records  # noqa: F401 (sibling API)
        from .pdata import read_otlp_json_envelope

        ev = _ev(spark, sf_dir)
        line = F.format_string(
            '{"resourceLogs":[{"resource":{"attributes":['
            '{"key":"service.name","value":{"stringValue":"svc%d"}},'
            '{"key":"shard","value":{"intValue":"%d"}}]},'
            '"schemaUrl":"https://opentelemetry.io/schemas/1.21.0",'
            '"scopeLogs":[{"scope":{"name":"lib%d","version":"1.%d"},'
            '"logRecords":['
            '{"severityNumber":9,"body":{"stringValue":"%s"}},'
            '{"severityNumber":17,"body":{"kvlistValue":{"values":['
            '{"key":"n","value":{"intValue":"%d"}}]}}}]}]}]}',
            (F.col("user_id") % 4).cast("int"),
            (F.col("event_id") % 16).cast("int"),
            (F.col("user_id") % 3).cast("int"),
            (F.col("event_id") % 2).cast("int"),
            F.col("event_type"),
            F.col("event_id"),
        )
        # go through an actual file so the receiver surface is exercised
        # (repo-anchored path, overwritten per run — never cwd-relative:
        # the harness may run from any working directory)
        tmp = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "data",
            f"_otlp_env_{os.path.basename(os.path.normpath(sf_dir))}",
        )
        ev.select(line.alias("value")).coalesce(4).write.mode(
            "overwrite"
        ).text(tmp)
        df = read_otlp_json_envelope(spark, tmp)
        return df.groupBy(
            F.col("resource")["service.name"].alias("svc"),
            "scope",
            "severity_number",
            "body_kind",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.try_variant_get("body_var", "$.n", "long")
            ).alias("sum_n"),
            F.sum(
                F.try_variant_get("resource_var", "$.shard", "long")
            ).alias("sum_shard"),
        )

    reg(
        "e_otlp_envelope",
        e_otlp_envelope,
        """WITH per_event AS (
  SELECT 'svc' || (user_id % 4)::VARCHAR AS svc,
         'lib' || (user_id % 3)::VARCHAR AS scope,
         (event_id % 16)::BIGINT AS shard,
         event_id
  FROM events
), fanout AS (
  SELECT svc, scope, 9 AS severity_number, 'string' AS body_kind,
         NULL::BIGINT AS n_val, shard FROM per_event
  UNION ALL
  SELECT svc, scope, 17, 'map', event_id, shard FROM per_event
)
SELECT svc, scope, severity_number, body_kind,
       count(*)::BIGINT AS n,
       sum(n_val)::BIGINT AS sum_n,
       sum(shard)::BIGINT AS sum_shard
FROM fanout GROUP BY 1, 2, 3, 4""",
    )

    # ---- e_otlp_mutate: OTTL mutation INSIDE variant bodies ---------------
    # The transformprocessor mutates map bodies in place as a matter of
    # course (ottllog/log.go accessBodyKey → internal/map.go SetMapValue);
    # this exercises the full round-4 mutation surface over runtime-typed
    # VARIANT columns: conditional key upsert, deep intermediate-map
    # creation, conditional delete_key, string-kind-gated replace_pattern,
    # slice append with scalar promotion, and truncate_all's string-only
    # rule — every leaf recomputed exactly by the DuckDB oracle.
    def e_otlp_mutate(spark, sf_dir):
        from .ottl import StatementSequence
        from .ottl.compiler import VARIANT
        from .pdata import parse_otlp_records

        ev = _ev(spark, sf_dir)
        line = F.format_string(
            '{"severityNumber":9,"body":{"kvlistValue":{"values":['
            '{"key":"msg","value":{"stringValue":"ev_%s_%d"}},'
            '{"key":"items","value":{"arrayValue":{"values":['
            '{"intValue":"%d"}]}}},'
            '{"key":"val","value":{"doubleValue":%s}}]}},'
            '"attributes":[{"key":"retries","value":{"intValue":"%d"}}]}',
            F.col("event_type"),
            (F.col("event_id") % 10).cast("int"),
            F.col("event_id"),
            ((F.col("event_id") % 100) / 4.0).cast("string"),
            (F.col("event_id") % 5).cast("int"),
        )
        typed = parse_otlp_records(ev.select("event_id", line.alias("line")))
        seq = StatementSequence(
            [
                'set(body["status"], "hot") where'
                ' attributes["retries"] > 2',
                'set(body["nest"]["deep"]["flag"], true)',
                'delete_key(body, "val") where attributes["retries"] == 0',
                'replace_pattern(body["msg"], "_", "-")',
                'append(body["items"], value="tail")',
                'truncate_all(body, 12)',
            ],
            path_map={"body": "body_var", "attributes": "attrs_var"},
            path_types={"body_var": VARIANT, "attrs_var": VARIANT},
        )
        out = seq.apply(typed)
        return out.select(
            "event_id",
            F.try_variant_get("body_var", "$.msg", "string").alias("msg"),
            F.try_variant_get("body_var", "$.status", "string")
            .alias("status"),
            F.try_variant_get("body_var", "$.nest.deep.flag", "boolean")
            .alias("flag"),
            F.try_variant_get("body_var", "$.val", "double").alias("val"),
            F.try_variant_get("body_var", "$.items[0]", "long")
            .alias("item0"),
            F.try_variant_get("body_var", "$.items[1]", "string")
            .alias("item1"),
            F.size(
                F.try_variant_get("body_var", "$", "map<string,variant>")
            ).alias("n_keys"),
        )

    reg(
        "e_otlp_mutate",
        e_otlp_mutate,
        """SELECT event_id,
       substr(replace('ev_' || event_type || '_'
                      || (event_id % 10)::VARCHAR, '_', '-'),
              1, 12) AS msg,
       CASE WHEN event_id % 5 > 2 THEN 'hot' END AS status,
       true AS flag,
       CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE (event_id % 100) / 4.0 END AS val,
       event_id AS item0,
       'tail' AS item1,
       (4 + CASE WHEN event_id % 5 > 2 THEN 1 ELSE 0 END
          - CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)::INT AS n_keys
FROM events""",
    )

    # time bucketing (time_parser + logdedup interval analog)
    def e_time_bucket(spark, sf_dir):
        df = _ev(spark, sf_dir)
        return (
            df.groupBy(
                (F.floor(F.col("ts").cast("timestamp").cast("long") / 3600) * 3600)
                .cast("long")
                .alias("hour_epoch"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )

    reg(
        "e_time_bucket",
        e_time_bucket,
        """SELECT (floor(epoch(ts))::BIGINT // 3600) * 3600 AS hour_epoch, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2""",
    )

    # interval processor, batch form: last-received datapoint per stream
    # identity per interval (processor/intervalprocessor/processor.go:97-231)
    def e_interval_last(spark, sf_dir):
        from .operators.aggregate import interval_last

        return interval_last(
            _ev(spark, sf_dir).withColumn(
                "ts", F.col("ts").cast("timestamp")
            ),
            keys=["user_id"],
            seq_col="event_id",
            value_cols=["value", "event_type"],
        )

    reg(
        "e_interval_last",
        e_interval_last,
        """SELECT user_id,
       (floor(epoch(ts))::BIGINT // 3600) * 3600 AS interval_start,
       arg_max(value, event_id) AS last_value,
       arg_max(event_type, event_id) AS last_event_type,
       count(*)::BIGINT AS n_seen
FROM events GROUP BY 1, 2""",
    )

    # uri_parser (parser/uri → parse_url)
    def e_uri_parse(spark, sf_dir):
        df = _ev(spark, sf_dir).withColumn(
            "url",
            F.concat(
                F.lit("https://ex.com/"), F.col("event_type"),
                F.lit("?u="), F.col("user_id").cast("string"),
            ),
        )
        df = uri_parser(df, "url")
        return df.select(
            "event_id", "uri_scheme", "uri_host", "uri_path", "uri_query"
        )

    reg(
        "e_uri_parse",
        e_uri_parse,
        """SELECT event_id, 'https' AS uri_scheme, 'ex.com' AS uri_host,
       '/' || event_type AS uri_path,
       'u=' || user_id::VARCHAR AS uri_query
FROM events""",
    )

    # keyvalue_parser (parser/keyvalue → str_to_map)
    def e_kv_parse(spark, sf_dir):
        df = _ev(spark, sf_dir).withColumn(
            "kv",
            F.concat(
                F.lit("type="), F.col("event_type"),
                F.lit(" user="), F.col("user_id").cast("string"),
            ),
        )
        df = keyvalue_parser(df, "kv")
        return df.select(
            "event_id",
            F.col("parsed").getItem("type").alias("kv_type"),
            F.col("parsed").getItem("user").alias("kv_user"),
        )

    reg(
        "e_kv_parse",
        e_kv_parse,
        """SELECT event_id, event_type AS kv_type, user_id::VARCHAR AS kv_user
FROM events""",
    )

    # ---- e_delta_rate: deltatorate processor -------------------------------
    # (processor/deltatorateprocessor): per (user_id, event_type) stream in
    # (ts, event_id) order, rate = value / seconds since previous point;
    # first point of each stream NULL. One window shuffle on the stream
    # identity (shared with e_cum_to_delta / e_delta_to_cum when chained).
    def e_delta_rate(spark, sf_dir):
        from .operators.aggregate import delta_to_rate

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        out = delta_to_rate(
            ev, keys=["user_id", "event_type"], value_col="value",
            ts_col="ts", order_by=["ts", "event_id"],
        )
        return out.select(
            "event_id",
            F.round(F.col("rate"), 6).alias("rate"),
        )

    reg(
        "e_delta_rate",
        e_delta_rate,
        """SELECT event_id,
       round(value / nullif(date_diff('microsecond', lag(ts) OVER (
         PARTITION BY user_id, event_type ORDER BY ts, event_id), ts)
         / 1000000.0, 0), 6) AS rate
FROM events""",
    )

    # ---- e_sliding_counts: batch sliding-window count connector ------------
    # 10-minute windows sliding every 5 (each event in exactly 2 windows,
    # epoch-aligned per Spark's F.window). Oracle enumerates the window
    # starts arithmetically; floor() before the BIGINT cast because
    # DuckDB's double→int cast ROUNDS while window alignment floors.
    def e_sliding_counts(spark, sf_dir):
        from .operators.aggregate import sliding_window_counts

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return sliding_window_counts(
            ev, keys=["event_type"], window="10 minutes", slide="5 minutes"
        )

    reg(
        "e_sliding_counts",
        e_sliding_counts,
        """SELECT ws AS window_start, event_type, count(*) AS n
FROM (
  SELECT event_type,
         unnest([ (floor(epoch(ts))::BIGINT // 300) * 300,
                  (floor(epoch(ts))::BIGINT // 300) * 300 - 300 ]) AS ws
  FROM events)
GROUP BY ws, event_type""",
    )

    # ---- e_session_counts: gap-based session windows ------------------------
    # per user_id, a 30-min inactivity gap opens a new session
    # (gaps-and-islands; the batch twin of session_window streaming and
    # the generic groupbytrace/recombine timeout pattern).
    def e_session_counts(spark, sf_dir):
        from .operators.aggregate import session_window_agg

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        out = session_window_agg(
            ev, keys=["user_id"], gap_seconds=1800, value_col="value"
        )
        return out.select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "session_start", "session_end", "n_events",
            F.round(F.col("sum_value"), 6).alias("sum_value"),
        )

    reg(
        "e_session_counts",
        e_session_counts,
        """WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                 > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, session_id::BIGINT AS session_id,
       min(floor(epoch(ts))::BIGINT) AS session_start,
       max(floor(epoch(ts))::BIGINT) AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, session_id""",
    )

    # ---- e_value_percentiles: percentile/SLO connector (exact form) --------
    # p50/p95/p99 of value per event_type; exact `percentile` matches
    # DuckDB quantile_cont (same linear interpolation on sorted values).
    # The 100 TB plan is approx_percentile — pytest-gated, same operator.
    def e_value_percentiles(spark, sf_dir):
        from .operators.aggregate import percentile_connector

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return percentile_connector(
            ev, value_col="value", dims={"event_type": None}
        )

    reg(
        "e_value_percentiles",
        e_value_percentiles,
        """SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type""",
    )

    # ---- e_grok_elb: product-set grok extraction end-to-end ---------------
    # Synthesizes AWS ELB access-log lines from event fields, extracts
    # with the go-grok product pattern %{ELB_ACCESS_LOG} (the Complete-
    # set surface, ottlfuncs/README.md:658), and the oracle recomputes
    # every extracted field from the same construction — value equality
    # proves the format→extract round trip through the Arrow/RE2 engine.
    def e_grok_elb(spark, sf_dir):
        from .functions.grok import GrokPattern

        ev = _ev(spark, sf_dir)
        line = F.format_string(
            "2024-01-01T00:00:%02d.%06dZ elb-%d 10.0.%d.%d:%d "
            "10.1.0.%d:8080 0.000073 0.%06d 0.000057 %d %d 0 %d "
            '"%s http://svc%d.example.com:80/api/v%d HTTP/1.1"',
            (F.col("event_id") % 60).cast("int"),
            (F.col("event_id") % 1000000).cast("int"),
            (F.col("user_id") % 3).cast("int"),
            (F.col("event_id") % 250).cast("int"),
            (F.col("user_id") % 200).cast("int"),
            (F.lit(1024) + F.col("event_id") % 1000).cast("int"),
            (F.col("event_id") % 100).cast("int"),
            (F.col("event_id") % 999999).cast("int"),
            F.when(F.col("event_id") % 2 == 0, F.lit(200))
            .otherwise(F.lit(500)),
            F.when(F.col("event_id") % 2 == 0, F.lit(200))
            .otherwise(F.lit(500)),
            (F.col("event_id") % 5000).cast("int"),
            F.when(F.col("event_id") % 3 == 0, F.lit("POST"))
            .otherwise(F.lit("GET")),
            (F.col("user_id") % 7).cast("int"),
            (F.col("event_id") % 4).cast("int"),
        )
        g = GrokPattern("%{ELB_ACCESS_LOG}")
        df = g.apply(ev.select("event_id", line.alias("line")), "line")
        return df.select(
            "event_id",
            "elb",
            "clientip",
            F.col("clientport").cast("int").alias("clientport"),
            "backendip",
            F.col("backend_processing_time").cast("double")
            .alias("backend_ms"),
            F.col("response").cast("int").alias("response"),
            F.col("bytes").cast("long").alias("bytes"),
            "verb",
            "request",
        )

    reg(
        "e_grok_elb",
        e_grok_elb,
        """SELECT event_id,
       'elb-' || (user_id % 3)::VARCHAR AS elb,
       '10.0.' || (event_id % 250)::VARCHAR || '.'
               || (user_id % 200)::VARCHAR AS clientip,
       (1024 + event_id % 1000)::INT AS clientport,
       '10.1.0.' || (event_id % 100)::VARCHAR AS backendip,
       -- parse the SAME decimal text Spark parses (double arithmetic
       -- would differ in the last bits → hash mismatch)
       CAST('0.' || lpad((event_id % 999999)::VARCHAR, 6, '0')
            AS DOUBLE) AS backend_ms,
       (CASE WHEN event_id % 2 = 0 THEN 200 ELSE 500 END)::INT
         AS response,
       (event_id % 5000)::BIGINT AS bytes,
       CASE WHEN event_id % 3 = 0 THEN 'POST' ELSE 'GET' END AS verb,
       'http://svc' || (user_id % 7)::VARCHAR || '.example.com:80/api/v'
               || (event_id % 4)::VARCHAR AS request
FROM events""",
    )

    # ---- e_user_agent: UserAgent converter over realistic UA strings ------
    # Five UA families (desktop Chrome, mobile Safari, Samsung Internet,
    # curl, Googlebot) cycled by event_id — the oracle pins the exact
    # uap-style family/version/os/device fields the converter must emit
    # (ottlfuncs/func_user_agent.go; uap-core semantics).
    def e_user_agent(spark, sf_dir):
        from .ottl.compiler import Context, compile_value
        from .ottl.parser import _Parser

        uas = [
            "Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
            "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/125.0.0.0 "
            "Safari/537.36",
            "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
            "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 "
            "Mobile/15E148 Safari/604.1",
            "Mozilla/5.0 (Linux; Android 13; SM-G991B) "
            "AppleWebKit/537.36 (KHTML, like Gecko) "
            "SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36",
            "curl/7.81.0",
            "Mozilla/5.0 (compatible; Googlebot/2.1; "
            "+http://www.google.com/bot.html)",
        ]
        ev = _ev(spark, sf_dir)
        ua_col = F.array(*[F.lit(u) for u in uas])[
            (F.col("event_id") % 5).cast("int")
        ]
        df = ev.select("event_id", ua_col.alias("ua"))
        node = _Parser("UserAgent(body)").value()
        m = compile_value(node, Context(path_map={"body": "ua"}))
        return df.select(
            "event_id",
            m.getItem("user_agent.name").alias("ua_name"),
            m.getItem("user_agent.version").alias("ua_version"),
            m.getItem("os.name").alias("os_name"),
            m.getItem("os.version").alias("os_version"),
            m.getItem("device.name").alias("device"),
        )

    _ua_case = """CASE event_id % 5
         WHEN 0 THEN {c0} WHEN 1 THEN {c1} WHEN 2 THEN {c2}
         WHEN 3 THEN {c3} ELSE {c4} END"""
    reg(
        "e_user_agent",
        e_user_agent,
        """SELECT event_id,
       """ + _ua_case.format(
            c0="'Chrome'", c1="'Mobile Safari'",
            c2="'Samsung Internet'", c3="'curl'", c4="'Googlebot'",
        ) + """ AS ua_name,
       """ + _ua_case.format(
            c0="'125.0.0.0'", c1="'17.4'", c2="'23.0'", c3="'7.81.0'",
            c4="'2.1'",
        ) + """ AS ua_version,
       """ + _ua_case.format(
            c0="'Windows'", c1="'iOS'", c2="'Android'", c3="'Other'",
            c4="'Other'",
        ) + """ AS os_name,
       """ + _ua_case.format(
            c0="'10'", c1="'17.4'", c2="'13'", c3="NULL", c4="NULL",
        ) + """ AS os_version,
       """ + _ua_case.format(
            c0="'Other'", c1="'iPhone'", c2="'Other'", c3="'Other'",
            c4="'Spider'",
        ) + """ AS device
FROM events""",
    )


# ---------------------------------------------------------------------------
# documents: training-data text ops (dedup / quality / langid / fingerprint)
# ---------------------------------------------------------------------------

def _register_documents(reg) -> None:
    from .textops import (
        doc_fingerprint,
        exact_dedup,
        language_id,
        ngram_jaccard_pairs,
        quality_score,
        simhash,
        token_counts,
    )
    from .dedup_text import minhash_signatures

    def _docs(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def d_exact_dedup(spark, sf_dir):
        return exact_dedup(_docs(spark, sf_dir))

    reg(
        "d_exact_dedup",
        d_exact_dedup,
        """SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_dups,
       min(doc_id)::BIGINT AS keep_doc_id
FROM documents GROUP BY 1""",
    )

    def d_ngram_jaccard(spark, sf_dir):
        return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.8)

    reg(
        "d_ngram_jaccard",
        d_ngram_jaccard,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_sh FROM shingles GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common), 4) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) >= 0.8""",
    )

    def d_minhash_sig(spark, sf_dir):
        return minhash_signatures(_docs(spark, sf_dir), num_hashes=8)

    sig_cols = ",\n       ".join(
        f"min(CASE WHEN seed = {i} THEN h END)::BIGINT AS sig_{i}"
        for i in range(8)
    )
    reg(
        "d_minhash_sig",
        d_minhash_sig,
        f"""WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), hashed AS (
  SELECT doc_id, seed,
         ('0x' || substr(md5(seed::VARCHAR || '|' || sh), 1, 8))::BIGINT AS h
  FROM shingles, UNNEST(generate_series(0, 7)) AS s(seed)
)
SELECT doc_id, {sig_cols}
FROM hashed GROUP BY doc_id""",
    )

    def d_simhash(spark, sf_dir):
        return simhash(_docs(spark, sf_dir), bits=16)

    reg(
        "d_simhash",
        d_simhash,
        """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, UNNEST(generate_series(0, 15)) AS t(b)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id""",
    )

    def d_langid(spark, sf_dir):
        return language_id(_docs(spark, sf_dir))

    reg(
        "d_langid",
        d_langid,
        """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id, len(w)::BIGINT AS n_tokens,
       round(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it')))
             * 1.0 / len(w), 4) AS stopword_ratio,
       CASE WHEN len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it')))
                 * 1.0 / len(w) >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess
FROM toks""",
    )

    def d_quality(spark, sf_dir):
        return quality_score(_docs(spark, sf_dir))

    reg(
        "d_quality",
        d_quality,
        """WITH t AS (
  SELECT doc_id, text, length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_chars::BIGINT AS n_chars, n_tokens::BIGINT AS n_tokens,
       round(n_punct * 1.0 / n_chars, 4) AS punct_ratio,
       round(n_chars * 1.0 / n_tokens, 4) AS avg_token_len,
       CASE WHEN n_tokens BETWEEN 5 AND 100000
                 AND n_punct * 1.0 / n_chars < 0.2 THEN 1 ELSE 0 END AS quality_keep
FROM t""",
    )

    def d_tokens(spark, sf_dir):
        return token_counts(_docs(spark, sf_dir))

    reg(
        "d_tokens",
        d_tokens,
        r"""SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '\w+|[^\w\s]'))::BIGINT AS bpe_ish_tokens,
       length(text)::BIGINT AS n_chars
FROM documents""",
    )

    def d_fingerprint(spark, sf_dir):
        return doc_fingerprint(_docs(spark, sf_dir))

    reg(
        "d_fingerprint",
        d_fingerprint,
        """WITH h AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
             x -> ('0x' || substr(md5(x), 1, 4))::BIGINT) AS hs
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, hs),
                   (acc, x) -> (acc * 32769 + x) % 2147483647) AS fingerprint
FROM h""",
    )

    # ---- d_repetition: Gopher repetition quality signals -------------------
    # (Rae et al. 2021 appendix A1.1 — dup-word fraction, top-bigram char
    # coverage, duplicated-trigram char coverage)
    def d_repetition(spark, sf_dir):
        from .textops import repetition_signals

        return repetition_signals(_docs(spark, sf_dir))

    reg(
        "d_repetition",
        d_repetition,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_chars
  FROM documents
), base AS (
  SELECT doc_id, n_chars, len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct
  FROM words
), bi AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
), bic AS (
  SELECT doc_id, g, count(*) AS cnt FROM bi GROUP BY 1, 2
), topbi AS (
  SELECT doc_id, cnt AS top_cnt, length(g) AS top_len
  FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
        FROM bic)
  WHERE rn = 1
), tri AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), tric AS (
  SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY 1, 2
), tridup AS (
  SELECT doc_id, sum(cnt * length(g)) AS dup_chars
  FROM tric WHERE cnt > 1 GROUP BY 1
)
SELECT b.doc_id,
       round(1.0 - b.n_distinct * 1.0 / b.n_words, 4) AS dup_word_frac,
       round(coalesce(tb.top_cnt * tb.top_len, 0) * 1.0 / b.n_chars, 4)
           AS top_bigram_char_frac,
       round(coalesce(td.dup_chars, 0) * 1.0 / b.n_chars, 4)
           AS dup_trigram_char_frac
FROM base b
LEFT JOIN topbi tb ON tb.doc_id = b.doc_id
LEFT JOIN tridup td ON td.doc_id = b.doc_id""",
    )

    # ---- d_chunk_dedup: C4-style corpus-wide span dedup --------------------
    # (Raffel et al. 2020 §2.2; spans = 10-word chunks, first corpus
    # occurrence by (doc_id, chunk_idx) survives)
    def d_chunk_dedup(spark, sf_dir):
        from .textops import chunk_dedup

        return chunk_dedup(_docs(spark, sf_dir), chunk_words=10)

    reg(
        "d_chunk_dedup",
        d_chunk_dedup,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), ex AS (
  SELECT doc_id, i - 1 AS chunk_idx,
         array_to_string(w[(i - 1) * 10 + 1 : i * 10], ' ') AS chunk
  FROM words,
       UNNEST(generate_series(1, cast(ceil(len(w) / 10.0) AS INT))) AS t(i)
), kept AS (
  SELECT doc_id, chunk_idx, chunk
  FROM (SELECT *, row_number() OVER (
            PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        FROM ex)
  WHERE rn = 1
), re AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY chunk_idx) AS kept_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY 1
), totals AS (
  SELECT doc_id, cast(ceil(len(w) / 10.0) AS BIGINT) AS n_total FROM words
)
SELECT t.doc_id,
       coalesce(r.kept_text, '') AS kept_text,
       coalesce(r.n_kept, 0) AS n_kept,
       t.n_total
FROM totals t LEFT JOIN re r ON r.doc_id = t.doc_id""",
    )

    # ---- d_filter_pipeline: composed C4/Gopher corpus gate -----------------
    # (ordered rule chain, first rejection reason wins; zero-shuffle
    # single projection — see textops.quality_filter_pipeline)
    def d_filter_pipeline(spark, sf_dir):
        from .textops import quality_filter_pipeline

        return quality_filter_pipeline(_docs(spark, sf_dir))

    reg(
        "d_filter_pipeline",
        d_filter_pipeline,
        """WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_chars,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
  FROM documents
), s AS (
  SELECT doc_id, len(w) AS n_tokens,
         n_punct * 1.0 / n_chars AS punct_ratio,
         len(list_filter(w, x -> x IN
             ('the','a','of','and','to','in','is','it')))
             * 1.0 / len(w) AS stop_ratio,
         1.0 - len(list_distinct(w)) * 1.0 / len(w) AS dup_word_frac
  FROM t
), r AS (
  SELECT doc_id,
         CASE WHEN n_tokens < 5 THEN 'too_short'
              WHEN n_tokens > 100000 THEN 'too_long'
              WHEN punct_ratio >= 0.2 THEN 'punct'
              WHEN stop_ratio < 0.05 THEN 'lang'
              WHEN dup_word_frac > 0.6 THEN 'repetition'
              ELSE 'kept' END AS reject_reason
  FROM s
)
SELECT doc_id, reject_reason,
       CASE WHEN reject_reason = 'kept' THEN 1 ELSE 0 END AS keep
FROM r""",
    )

    # ---- d_pack_sequences: concat-then-split sequence packing --------------
    # Lay documents end to end in doc_id order, cut the token stream into
    # 256-token training blocks; each doc reports its starting pack + offset.
    # Spark side is a two-phase distributed prefix sum (range partition →
    # per-partition window cumsum → O(P)-row exclusive offsets broadcast
    # back) — NO corpus-wide single-partition window; the oracle is the
    # straightforward global-window cumsum DuckDB can afford at sf0.01.
    def d_pack_sequences(spark, sf_dir):
        from .textops import pack_sequences

        return pack_sequences(_docs(spark, sf_dir), budget=256)

    reg(
        "d_pack_sequences",
        d_pack_sequences,
        """WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM t
)
SELECT doc_id, n_tokens,
       (prev // 256)::BIGINT AS pack_id,
       (prev % 256)::BIGINT AS pack_offset
FROM c""",
    )

    # ---- d_seeded_shuffle: reproducible global corpus permutation ----------
    # rank 0..N-1 under order-by-md5(seed|doc_id); Spark side is the same
    # two-phase distributed row_number as d_pack_sequences (no corpus-wide
    # single-partition sort).
    def d_seeded_shuffle(spark, sf_dir):
        from .textops import seeded_shuffle

        return seeded_shuffle(_docs(spark, sf_dir), seed=42)

    reg(
        "d_seeded_shuffle",
        d_seeded_shuffle,
        """SELECT doc_id,
       (row_number() OVER (ORDER BY md5('42|' || doc_id::VARCHAR)) - 1
         )::BIGINT AS shuffle_rank
FROM documents""",
    )

    # ---- d_curation_pipeline: full raw→training-blocks curation DAG --------
    # quality gate → PII scrub → exact dedup on scrubbed text (keep lowest
    # doc_id) → sequence packing. One composed query proving the verified
    # operators compose end to end with an exact oracle.
    def d_curation_pipeline(spark, sf_dir):
        from .textops import curation_pipeline

        return curation_pipeline(_docs(spark, sf_dir), budget=128)

    from .textops import PII_PATTERNS as _PII

    _scrub_sql = "text"
    for _n, _p, _r in _PII:
        _scrub_sql = f"regexp_replace({_scrub_sql}, '{_p}', '{_r}', 'g')"

    reg(
        "d_curation_pipeline",
        d_curation_pipeline,
        f"""WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS w,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
  FROM documents
), s AS (
  SELECT doc_id, text, len(w) AS n_tokens,
         n_punct * 1.0 / n_chars AS punct_ratio,
         len(list_filter(w, x -> x IN
             ('the','a','of','and','to','in','is','it')))
             * 1.0 / len(w) AS stop_ratio,
         1.0 - len(list_distinct(w)) * 1.0 / len(w) AS dup_word_frac
  FROM t
), kept AS (
  SELECT doc_id, text FROM s
  WHERE NOT (n_tokens < 5 OR n_tokens > 100000 OR punct_ratio >= 0.2
             OR stop_ratio < 0.05 OR dup_word_frac > 0.6)
), scrub AS (
  SELECT doc_id, {_scrub_sql} AS stext FROM kept
), ranked AS (
  SELECT doc_id, stext,
         row_number() OVER (PARTITION BY md5(stext) ORDER BY doc_id) AS rn
  FROM scrub
), surv AS (
  SELECT doc_id, len(string_split(stext, ' '))::BIGINT AS n_tokens
  FROM ranked WHERE rn = 1
), c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM surv
)
SELECT doc_id, n_tokens,
       (prev // 128)::BIGINT AS pack_id,
       (prev % 128)::BIGINT AS pack_offset
FROM c""",
    )

    # ---- d_ngram_topk_tf / d_ngram_topk_df: corpus n-gram statistics ------
    # vocabulary seeding / boilerplate discovery: one map-side-combinable
    # shuffle + TakeOrderedAndProject top-k (never a vocabulary sort);
    # tf = every occurrence, df = once per doc (template detector).
    def d_ngram_topk_tf(spark, sf_dir):
        from .textops import ngram_topk

        return ngram_topk(_docs(spark, sf_dir), n=2, k=20, by="tf")

    reg(
        "d_ngram_topk_tf",
        d_ngram_topk_tf,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT w[i] || ' ' || w[i+1] AS ngram
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
), counts AS (
  SELECT ngram, count(*)::BIGINT AS freq FROM grams GROUP BY ngram
)
SELECT ngram, freq,
       row_number() OVER (ORDER BY freq DESC, ngram ASC)::INT AS rank
FROM counts ORDER BY freq DESC, ngram ASC LIMIT 20""",
    )

    def d_ngram_topk_df(spark, sf_dir):
        from .textops import ngram_topk

        return ngram_topk(_docs(spark, sf_dir), n=2, k=20, by="df")

    reg(
        "d_ngram_topk_df",
        d_ngram_topk_df,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS ngram
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
), counts AS (
  SELECT ngram, count(*)::BIGINT AS freq FROM grams GROUP BY ngram
)
SELECT ngram, freq,
       row_number() OVER (ORDER BY freq DESC, ngram ASC)::INT AS rank
FROM counts ORDER BY freq DESC, ngram ASC LIMIT 20""",
    )

    # ---- d_target_mix: domain-mixture rebalancing -------------------------
    # per-source keep-rates solved from ONE small aggregate (largest
    # feasible corpus hitting the target proportions, no upsampling),
    # then the same deterministic md5-bucket gate as d_stratified_sample
    # — bit-stable kept set, verified row-by-row.
    def d_target_mix(spark, sf_dir):
        from .textops import target_mix_sample

        out = target_mix_sample(
            _docs(spark, sf_dir), "source",
            {"src0": 0.6, "src1": 0.3, "src2": 0.1},
        )
        return out.select("doc_id", "source")

    reg(
        "d_target_mix",
        d_target_mix,
        """WITH tgt AS (
  SELECT * FROM (VALUES ('src0', 0.6), ('src1', 0.3), ('src2', 0.1))
    AS t(source, p)
), counts AS (
  SELECT source, count(*)::DOUBLE AS n FROM documents
  WHERE source IN (SELECT source FROM tgt) GROUP BY source
), tmax AS (
  SELECT min(n / p) AS t FROM counts JOIN tgt USING (source)
), rates AS (
  SELECT c.source, least(1.0, tgt.p * tmax.t / c.n) AS rate
  FROM counts c JOIN tgt USING (source), tmax
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
      < floor(r.rate * 10000)""",
    )

    # ---- d_tfidf_topterms: per-document TF-IDF keywords -------------------
    # smooth idf ln((N+1)/(df+1)) + 1 (scikit-learn variant); two hash
    # aggs + broadcast scalar N + bounded per-doc window.
    def d_tfidf_topterms(spark, sf_dir):
        from .textops import tfidf_top_terms

        return tfidf_top_terms(_docs(spark, sf_dir), k=3)

    reg(
        "d_tfidf_topterms",
        d_tfidf_topterms,
        """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf::BIGINT AS tf,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
           AS score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf, score, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored) WHERE rank <= 3""",
    )



# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def _register_embeddings(reg) -> None:
    from .similarity import cosine_topk, lsh_buckets

    def _emb(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def s_cosine_topk(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        return cosine_topk(emb, query_vec_id=0, k=10)

    reg(
        "s_cosine_topk",
        s_cosine_topk,
        """WITH q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), sims AS (
  SELECT e.vec_id,
         round(list_cosine_similarity(e.embedding, q.qv), 4) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id != 0
)
SELECT vec_id, cos_sim FROM sims
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""",
    )

    # ---- s_ivf_topk: IVF-style ANN (similarity.ivf_topk) ------------------
    # n_centroids=256 exercises the broadcast-matrix + pandas-UDF scorer
    # at a realistic codebook size (the round-2 literal-inlined form blew
    # up the Catalyst tree past ~tens of centroids)
    def s_ivf_topk(spark, sf_dir):
        from .similarity import ivf_topk

        return ivf_topk(
            _emb(spark, sf_dir), query_vec_ids=[0, 1, 2], n_centroids=256
        )

    reg(
        "s_ivf_topk",
        s_ivf_topk,
        """WITH cents AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
  FROM embeddings ORDER BY vec_id LIMIT 256
), assigned AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cent_id FROM cents c
          ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cent) DESC,
                   c.cent_id DESC
          LIMIT 1) AS cell
  FROM embeddings e
), queries AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings
  WHERE vec_id IN (0, 1, 2)
), probes AS (
  SELECT q.q_id, q.qv, c.cent_id AS cell FROM queries q, cents c
  QUALIFY row_number() OVER (PARTITION BY q.q_id
     ORDER BY list_dot_product(q.qv::DOUBLE[], c.cent) DESC,
              c.cent_id DESC) <= 2
), sims AS (
  SELECT p.q_id, a.vec_id,
         round(list_cosine_similarity(p.qv::DOUBLE[],
                                      a.embedding::DOUBLE[]), 4) AS cos_sim
  FROM probes p JOIN assigned a USING (cell)
  WHERE a.vec_id != p.q_id
)
SELECT q_id, vec_id, cos_sim, rn::INT AS rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM sims) WHERE rn <= 5""",
    )

    def s_lsh_buckets(spark, sf_dir):
        return lsh_buckets(_emb(spark, sf_dir), n_planes=8)

    # deterministic pseudo-random hyperplane weights w(i,p) = ((i*(p+3)+p) % 7) - 3
    plane_bits = " + ".join(
        f"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip(embedding, range_idx), "
        f"t -> CAST(t[1] AS DOUBLE) * (((t[2] - 1) * {p + 3} + {p}) % 7 - 3))), "
        f"(a, b) -> a + b) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(8)
    )
    reg(
        "s_lsh_buckets",
        s_lsh_buckets,
        f"""WITH base AS (
  SELECT vec_id, embedding,
         generate_series(1, len(embedding)) AS range_idx
  FROM embeddings
)
SELECT vec_id, CAST({plane_bits} AS BIGINT) AS bucket
FROM base""",
    )

    # ---- s_ivf_trained: IVF over a TRAINED spherical-k-means codebook -----
    # kmeans_fit is iterative (not SQL-expressible); the oracle pins the
    # END-TO-END result instead: at full probe (n_probe = k) IVF must
    # recover the exact brute-force top-k REGARDLESS of codebook, so any
    # training bug that corrupts assignment/probing breaks the hash. The
    # training-quality claim (single-probe exactness on clustered data)
    # is pytest-pinned in test_similarity_scale.py.
    def s_ivf_trained(spark, sf_dir):
        from .similarity import ivf_topk, kmeans_fit

        emb = _emb(spark, sf_dir)
        cent, _ = kmeans_fit(emb, k=4, n_iter=3)
        return ivf_topk(
            emb, query_vec_ids=[0, 1], k=5, n_probe=4, centroids=cent
        )

    reg(
        "s_ivf_trained",
        s_ivf_trained,
        """WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id IN (0, 1)
), pairs AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding, q.q_vec), 4) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id != q.q_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT q_id, vec_id, cos_sim, rn::INT AS rn FROM ranked WHERE rn <= 5""",
    )

    # ---- s_pq_codes / s_pq_topk: product quantization (ADC) ---------------
    # The compressed-domain ANN arm next to LSH and IVF: m=8 subspaces ×
    # k=16 codewords over dim-64 → 8 small ints per vector (32× smaller
    # than float32), encode = ONE pandas-UDF projection, query = per-query
    # (m × k) LUT gather over codes only (Jégou et al. ADC). Seed
    # codebooks (k lowest vec_ids, code = rank) keep the oracle exact;
    # `pq_fit` is the trained path (pytest-pinned, not SQL-expressible).
    # Shared determinism contract (similarity.py _pq_encode_udf): L2 folds
    # dim-at-a-time left-to-right, argmin ties → lowest code, ADC sums
    # subspaces in order — bit-identical to the list_reduce oracle.
    _PQ_CODES_CTE = """seeds AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
), subs AS (SELECT unnest(range(8)) AS sub),
cb AS (
  SELECT s.sub, seeds.code,
         list_slice(seeds.v, s.sub*8 + 1, s.sub*8 + 8) AS cvec
  FROM seeds, subs s
), corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), subv AS (
  SELECT c.vec_id, s.sub, list_slice(c.v, s.sub*8 + 1, s.sub*8 + 8) AS sv
  FROM corpus c, subs s
), codes AS (
  SELECT sv.vec_id, sv.sub,
    (SELECT b.code FROM cb b WHERE b.sub = sv.sub
     ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_zip(sv.sv, b.cvec),
          t -> (t[1] - t[2]) * (t[1] - t[2]))),
        (a, x) -> a + x) ASC, b.code ASC
     LIMIT 1) AS code
  FROM subv sv
)"""

    def s_pq_codes(spark, sf_dir):
        from .similarity import pq_codes

        return pq_codes(_emb(spark, sf_dir), m=8, k=16).select(
            "vec_id", F.posexplode("codes").alias("sub", "code")
        )

    reg(
        "s_pq_codes",
        s_pq_codes,
        f"""WITH {_PQ_CODES_CTE}
SELECT vec_id, sub::INT AS sub, code::BIGINT AS code FROM codes""",
    )

    def s_pq_topk(spark, sf_dir):
        from .similarity import pq_topk

        return pq_topk(_emb(spark, sf_dir), [0, 1, 2], m=8, k=16)

    reg(
        "s_pq_topk",
        s_pq_topk,
        f"""WITH {_PQ_CODES_CTE}, q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), qsub AS (
  SELECT q.q_id, s.sub, list_slice(q.qv, s.sub*8 + 1, s.sub*8 + 8) AS sv
  FROM q, subs s
), lut AS (
  SELECT qs.q_id, qs.sub, b.code,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(list_zip(qs.sv, b.cvec),
        t -> (t[1] - t[2]) * (t[1] - t[2]))),
      (a, x) -> a + x) AS d2
  FROM qsub qs JOIN cb b ON b.sub = qs.sub
), adist AS (
  SELECT l.q_id, c.vec_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list(l.d2 ORDER BY l.sub)),
                (a, x) -> a + x) AS adc
  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, vec_id, adc_dist, rn::INT AS rn FROM (
  SELECT q_id, vec_id, round(adc, 4) AS adc_dist,
    row_number() OVER (
      PARTITION BY q_id ORDER BY round(adc, 4) ASC, vec_id ASC) AS rn
  FROM adist WHERE vec_id != q_id)
WHERE rn <= 5""",
    )

    # ---- s_ivfpq_topk: the composed IVF+PQ index (FAISS IVFPQ shape) ------
    # Coarse cell routing + PQ-coded RESIDUALS + per-(query, probed cell)
    # LUT scan — cell id + m code bytes per vector, probed-cells-only
    # candidate sets, float vectors never touched at query time. Encode is
    # one pandas-UDF projection (centroids + codebooks in closure); the
    # scorer is a second UDF over the broadcast-probe cell join. Seed
    # quantizers (residuals of the first k vec_ids against their own
    # cells) keep the full index SQL-expressible.
    def s_ivfpq_topk(spark, sf_dir):
        from .similarity import ivfpq_topk

        return ivfpq_topk(
            _emb(spark, sf_dir), [0, 1, 2], n_centroids=8, n_probe=2,
            m=8, k=16,
        )

    reg(
        "s_ivfpq_topk",
        s_ivfpq_topk,
        """WITH cents AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent
  FROM embeddings ORDER BY vec_id LIMIT 8
), corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), assigned AS (
  SELECT c.vec_id, c.v,
    (SELECT s.cent_id FROM cents s
     ORDER BY list_dot_product(c.v, s.cent) DESC, s.cent_id DESC
     LIMIT 1) AS cell
  FROM corpus c
), resid AS (
  SELECT a.vec_id, a.cell,
    list_transform(list_zip(a.v, s.cent), t -> t[1] - t[2]) AS r
  FROM assigned a JOIN cents s ON s.cent_id = a.cell
), seeds AS (
  SELECT vec_id, r, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id, r FROM resid ORDER BY vec_id LIMIT 16)
), subs AS (SELECT unnest(range(8)) AS sub),
cb AS (
  SELECT s.sub, seeds.code, list_slice(seeds.r, s.sub*8+1, s.sub*8+8) AS cvec
  FROM seeds, subs s
), subv AS (
  SELECT rr.vec_id, rr.cell, s.sub, list_slice(rr.r, s.sub*8+1, s.sub*8+8) AS sv
  FROM resid rr, subs s
), codes AS (
  SELECT sv.vec_id, sv.cell, sv.sub,
    (SELECT b.code FROM cb b WHERE b.sub = sv.sub
     ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_zip(sv.sv, b.cvec),
          t -> (t[1]-t[2])*(t[1]-t[2]))),
        (a,x)->a+x) ASC, b.code ASC LIMIT 1) AS code
  FROM subv sv
), q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), probes AS (
  SELECT qq.q_id, qq.qv, s.cent_id AS cell, s.cent
  FROM q qq, cents s
  QUALIFY row_number() OVER (PARTITION BY qq.q_id
    ORDER BY list_dot_product(qq.qv, s.cent) DESC, s.cent_id DESC) <= 2
), qres AS (
  SELECT p.q_id, p.cell,
    list_transform(list_zip(p.qv, p.cent), t -> t[1] - t[2]) AS r
  FROM probes p
), qsub AS (
  SELECT qr.q_id, qr.cell, s.sub, list_slice(qr.r, s.sub*8+1, s.sub*8+8) AS sv
  FROM qres qr, subs s
), lut AS (
  SELECT qs.q_id, qs.cell, qs.sub, b.code,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(list_zip(qs.sv, b.cvec),
        t -> (t[1]-t[2])*(t[1]-t[2]))),
      (a,x)->a+x) AS d2
  FROM qsub qs JOIN cb b ON b.sub = qs.sub
), adist AS (
  SELECT l.q_id, c.vec_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list(l.d2 ORDER BY l.sub)),
                (a,x)->a+x) AS adc
  FROM codes c
  JOIN lut l ON l.cell = c.cell AND l.sub = c.sub AND l.code = c.code
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, vec_id, adc_dist, rn::INT AS rn FROM (
  SELECT q_id, vec_id, round(adc,4) AS adc_dist,
    row_number() OVER (
      PARTITION BY q_id ORDER BY round(adc,4) ASC, vec_id ASC) AS rn
  FROM adist WHERE vec_id != q_id) WHERE rn <= 5""",
    )


# ---------------------------------------------------------------------------
# scale paths: full LSH dedup pipeline, ANN pair generation, kNN join,
# extra parser coverage (csv / syslog shapes)
# ---------------------------------------------------------------------------

def _register_scale_paths(reg) -> None:
    from .dedup_text import minhash_dedup_pairs
    from .operators.parse import csv_parser, regex_parser
    from .similarity import knn_join_bruteforce, lsh_ann_pairs

    def _docs(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def _emb(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def _ev2(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    # ---- d_minhash_pairs: the COMPLETE near-dup pipeline ------------------
    # shingle → 8 minhashes → 4 bands × 2 rows → bucket join → exact
    # jaccard verify (computed only on candidates — the LSH point).
    def d_minhash_pairs(spark, sf_dir):
        return minhash_dedup_pairs(
            _docs(spark, sf_dir), num_hashes=8, bands=4, n=3, threshold=0.8
        )

    sig_cols = ",\n       ".join(
        f"min(CASE WHEN seed = {i} THEN h END)::BIGINT AS sig_{i}"
        for i in range(8)
    )
    band_arms = " ".join(
        f"WHEN {b} THEN md5(sig_{2 * b}::VARCHAR || '_' || sig_{2 * b + 1}::VARCHAR)"
        for b in range(4)
    )
    _minhash_ctes = f"""words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), hashed AS (
  SELECT doc_id, seed,
         ('0x' || substr(md5(seed::VARCHAR || '|' || sh), 1, 8))::BIGINT AS h
  FROM shingles, UNNEST(generate_series(0, 7)) AS s(seed)
), sigs AS (
  SELECT doc_id, {sig_cols}
  FROM hashed GROUP BY doc_id
), banded AS (
  SELECT doc_id, band, CASE band {band_arms} END AS band_hash
  FROM sigs, UNNEST(generate_series(0, 3)) AS b(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_sh FROM shingles GROUP BY 1
), common AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_common
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
), vpairs AS (
  SELECT c.doc_a, c.doc_b,
         round(c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common), 4) AS jaccard
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) >= 0.8
)"""

    reg(
        "d_minhash_pairs",
        d_minhash_pairs,
        f"WITH {_minhash_ctes}\nSELECT doc_a, doc_b, jaccard FROM vpairs",
    )

    # ---- d_dup_clusters: connected components over verified dup pairs -----
    # (the dedup tail a training pipeline needs: pairs → clusters →
    # keep-one-representative). Spark side is iterative min-label
    # propagation; DuckDB oracle is the recursive-CTE transitive closure.
    def d_dup_clusters(spark, sf_dir):
        from .dedup_text import dedup_clusters

        docs = _docs(spark, sf_dir)
        pairs = minhash_dedup_pairs(
            docs, num_hashes=8, bands=4, n=3, threshold=0.8
        )
        return dedup_clusters(pairs, docs).select(
            "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
        )

    _reach_ctes = f"""{_minhash_ctes}, edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM vpairs
), reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
)"""

    reg(
        "d_dup_clusters",
        d_dup_clusters,
        f"""WITH RECURSIVE {_reach_ctes}
SELECT doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY doc_id""",
    )

    # ---- d_dedup_survivors: the deduped corpus (one rep per cluster) ------
    def d_dedup_survivors(spark, sf_dir):
        from .dedup_text import dedup_clusters, dedup_survivors

        docs = _docs(spark, sf_dir)
        pairs = minhash_dedup_pairs(
            docs, num_hashes=8, bands=4, n=3, threshold=0.8
        )
        clusters = dedup_clusters(pairs, docs)
        return dedup_survivors(docs, clusters).select(
            "doc_id", F.col("n_members").cast("long").alias("n_members")
        )

    reg(
        "d_dedup_survivors",
        d_dedup_survivors,
        f"""WITH RECURSIVE {_reach_ctes}, clusters AS (
  SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT cluster_id AS doc_id, count(*)::BIGINT AS n_members
FROM clusters GROUP BY cluster_id""",
    )

    # ---- d_contamination: train/eval decontamination ----------------------
    # shingle-overlap inverted-index join with a train-side document-
    # frequency cap (max_df) — the standard eval-set leak check.
    def d_contamination(spark, sf_dir):
        from .textops import contamination_check

        docs = _docs(spark, sf_dir)
        ev = docs.filter(F.col("doc_id") % 50 == 0)
        tr = docs.filter(F.col("doc_id") % 50 != 0)
        return contamination_check(tr, ev, n=3, max_df=20)

    _CONTAM_SQL = """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), tsh AS (
  SELECT doc_id AS train_doc_id, sh FROM shingles WHERE doc_id % 50 != 0
), keep AS (
  SELECT sh FROM tsh GROUP BY sh HAVING count(*) <= 20
), tshk AS (
  SELECT train_doc_id, sh FROM tsh WHERE sh IN (SELECT sh FROM keep)
), esh AS (
  SELECT doc_id AS eval_doc_id, sh FROM shingles WHERE doc_id % 50 = 0
), esizes AS (
  SELECT eval_doc_id, count(*) AS n_eval_sh FROM esh GROUP BY 1
), ov AS (
  SELECT train_doc_id, eval_doc_id, count(*)::BIGINT AS n_overlap
  FROM tshk JOIN esh USING (sh) GROUP BY 1, 2
)
SELECT train_doc_id, eval_doc_id, n_overlap,
       round(n_overlap * 1.0 / n_eval_sh, 4) AS contamination
FROM ov JOIN esizes USING (eval_doc_id)"""

    reg("d_contamination", d_contamination, _CONTAM_SQL)

    # ---- d_contamination_bloom: the SAME check behind a map-side Bloom
    # gate on the train shingle stream (eval-shingle bitset, JVM xxhash64
    # probes, one Arrow gather UDF; false positives die in the exact
    # join). Result is bit-identical to d_contamination for ANY filter
    # size, so it shares the exact oracle — what the driver hash-checks
    # here is precisely the "pre-filter changes the plan, not the
    # answer" contract.
    def d_contamination_bloom(spark, sf_dir):
        from .textops import contamination_check_bloom

        docs = _docs(spark, sf_dir)
        ev = docs.filter(F.col("doc_id") % 50 == 0)
        tr = docs.filter(F.col("doc_id") % 50 != 0)
        return contamination_check_bloom(tr, ev, n=3, max_df=20)

    reg("d_contamination_bloom", d_contamination_bloom, _CONTAM_SQL)

    # ---- d_stratified_sample: deterministic per-source downsampling -------
    def d_stratified_sample(spark, sf_dir):
        from .textops import stratified_sample

        out = stratified_sample(
            _docs(spark, sf_dir),
            "source",
            {"src0": 1.0, "src1": 0.5, "src2": 0.25},
            key_col="doc_id",
            default_rate=0.1,
        )
        return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))

    reg(
        "d_stratified_sample",
        d_stratified_sample,
        """WITH gated AS (
  SELECT source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS b
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_kept
FROM gated
WHERE (source = 'src0' AND b < 10000)
   OR (source = 'src1' AND b < 5000)
   OR (source = 'src2' AND b < 2500)
   OR (source NOT IN ('src0','src1','src2') AND b < 1000)
GROUP BY source""",
    )

    # ---- s_ann_pairs: bucketed ANN near-dup pairs -------------------------
    def s_ann_pairs(spark, sf_dir):
        return lsh_ann_pairs(_emb(spark, sf_dir), n_planes=8, threshold=0.3)

    plane_bits = " + ".join(
        f"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip(embedding, range_idx), "
        f"t -> CAST(t[1] AS DOUBLE) * (((t[2] - 1) * {p + 3} + {p}) % 7 - 3))), "
        f"(a, b) -> a + b) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(8)
    )
    reg(
        "s_ann_pairs",
        s_ann_pairs,
        f"""WITH base AS (
  SELECT vec_id, embedding,
         generate_series(1, len(embedding)) AS range_idx
  FROM embeddings
), buckets AS (
  SELECT vec_id, embedding, CAST({plane_bits} AS BIGINT) AS bucket FROM base
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos_sim
FROM buckets a JOIN buckets b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.3""",
    )

    # ---- d_embed_dedup: embedding-cosine near-dup dedup (LSH buckets →
    # in-bucket cosine verify → connected components → one rep/cluster) -----
    def d_embed_dedup(spark, sf_dir):
        from .similarity import embedding_dedup_survivors

        return embedding_dedup_survivors(
            _emb(spark, sf_dir), n_planes=8, threshold=0.3
        )

    reg(
        "d_embed_dedup",
        d_embed_dedup,
        f"""WITH RECURSIVE base AS (
  SELECT vec_id, embedding,
         generate_series(1, len(embedding)) AS range_idx
  FROM embeddings
), buckets AS (
  SELECT vec_id, embedding, CAST({plane_bits} AS BIGINT) AS bucket FROM base
), vpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.3
), edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM vpairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM vpairs
), reach(vec_id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.vec_id
), clusters AS (
  SELECT vec_id, min(r) AS cluster_id FROM reach GROUP BY vec_id
)
SELECT cluster_id AS vec_id, count(*)::BIGINT AS n_members
FROM clusters GROUP BY cluster_id""",
    )

    # ---- s_knn_join: brute-force kNN for a small query set ----------------
    def s_knn_join(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        queries_df = emb.filter(F.col("vec_id") < 3)
        return knn_join_bruteforce(emb, queries_df, k=5)

    reg(
        "s_knn_join",
        s_knn_join,
        """WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3
), pairs AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding, q.q_vec), 4) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id != q.q_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT q_id, vec_id, cos_sim, rn::INT AS rn FROM ranked WHERE rn <= 5""",
    )

    # ---- e_csv_parse: csv_parser (parser/csv/config.go:38-43) -------------
    def e_csv_parse(spark, sf_dir):
        ev = _ev2(spark, sf_dir).select(
            "event_id",
            F.concat_ws(
                ",",
                F.col("event_id"),
                F.col("event_type"),
                F.col("user_id"),
            ).alias("line"),
        )
        parsed = csv_parser(
            ev, "line", "eid BIGINT, et STRING, uid BIGINT", to="p"
        )
        return parsed.select(
            "event_id",
            F.col("p.eid").alias("eid"),
            F.col("p.et").alias("et"),
            F.col("p.uid").alias("uid"),
        )

    reg(
        "e_csv_parse",
        e_csv_parse,
        """WITH lines AS (
  SELECT event_id,
         event_id::VARCHAR || ',' || event_type || ',' || user_id::VARCHAR AS line
  FROM events
)
SELECT event_id,
       split_part(line, ',', 1)::BIGINT AS eid,
       split_part(line, ',', 2) AS et,
       split_part(line, ',', 3)::BIGINT AS uid
FROM lines""",
    )

    # ---- e_syslog_parse: RFC3164 shape via the grok engine ----------------
    # (parser/syslog/config.go:53-58). The line is constructed from event
    # fields, then round-tripped through the vectorized grok UDF; the
    # oracle computes the ground truth directly — value equality proves
    # the regex extraction.
    def e_syslog_parse(spark, sf_dir):
        ev = _ev2(spark, sf_dir)
        pri = (F.col("user_id") % 8 + 8 * 3).cast("int")
        pid = (F.col("event_id") % 30000).cast("int")
        line = F.format_string(
            "<%d>Jan  1 00:00:00 host%d app[%d]: %s",
            pri,
            (F.col("user_id") % 4).cast("int"),
            pid,
            F.col("event_type"),
        )
        df = ev.select("event_id", line.alias("line"))
        parsed = regex_parser(
            df,
            "line",
            r"<%{NONNEGINT:pri}>%{DATA:sl_ts} %{HOSTNAME:host} "
            r"%{WORD:app}\[%{NONNEGINT:procid}\]: %{GREEDYDATA:msg}",
        )
        return parsed.select(
            "event_id",
            (F.col("pri").cast("int") / 8).cast("int").alias("facility"),
            (F.col("pri").cast("int") % 8).alias("severity"),
            F.col("host"),
            F.col("procid").cast("bigint").alias("procid"),
            F.col("msg"),
        )

    reg(
        "e_syslog_parse",
        e_syslog_parse,
        """SELECT event_id,
       ((user_id % 8 + 24) // 8)::INT AS facility,
       ((user_id % 8 + 24) % 8)::BIGINT AS severity,
       'host' || (user_id % 4)::VARCHAR AS host,
       (event_id % 30000)::BIGINT AS procid,
       event_type AS msg
FROM events""",
    )

    # ---- e_jsonarray_parse: jsonarray_parser (parser/jsonarray/config.go:
    # 48) — JSON-array lines constructed from event fields; header mode
    # zips values with configured key names (assignkeys-style).
    def e_jsonarray_parse(spark, sf_dir):
        from .operators.parse import jsonarray_parser

        ev = _ev2(spark, sf_dir)
        line = F.format_string(
            '["%s", "%s", "%s"]',
            F.col("event_id").cast("string"),
            F.col("event_type"),
            (F.col("user_id") % 100).cast("string"),
        )
        df = ev.select("event_id", line.alias("line"))
        arr = jsonarray_parser(df, "line", to="arr")
        hdr = jsonarray_parser(df, "line", to="m",
                               header=["id", "etype", "ubucket"])
        return (
            arr.join(hdr.select("event_id", "m"), "event_id")
            .select(
                "event_id",
                F.size("arr").alias("n_items"),
                F.col("arr")[1].alias("second"),
                F.col("m")["etype"].alias("etype"),
                F.col("m")["ubucket"].alias("ubucket"),
            )
        )

    reg(
        "e_jsonarray_parse",
        e_jsonarray_parse,
        """SELECT event_id,
       3 AS n_items,
       event_type AS second,
       event_type AS etype,
       (user_id % 100)::VARCHAR AS ubucket
FROM events""",
    )

    # ---- t_recombine_last: recombine with is_last_entry boundaries --------
    # (transformer/recombine/config.go:50-61): groups CLOSE on the marker
    # row — exclusive-prefix-sum gaps-and-islands, reproduced in SQL with
    # a shifted window frame.
    def t_recombine_last(spark, sf_dir):
        from .operators.recombine import recombine

        fx = ensure_fixture_dir(sf_dir)
        df = read_transcripts(spark, fx)
        out = recombine(
            df, "conv_id", "turn_idx", "text", "\n",
            is_last_entry=(F.col("turn_idx") % 5 == 4),
        )
        return out.select(
            "conv_id",
            F.col("group_id").cast("long").alias("group_id"),
            F.col("n_parts").cast("long").alias("n_parts"),
            F.col("text").alias("chunk_text"),
        )

    reg(
        "t_recombine_last",
        t_recombine_last,
        f"""WITH marked AS (
  SELECT conv_id, turn_idx, text,
         coalesce(sum(CASE WHEN turn_idx % 5 = 4 THEN 1 ELSE 0 END) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gid
  FROM {_TR}
)
SELECT conv_id, gid::BIGINT AS group_id, count(*)::BIGINT AS n_parts,
       string_agg(text, chr(10) ORDER BY turn_idx) AS chunk_text
FROM marked GROUP BY conv_id, gid""",
    )

    # ---- e_trace_parse: stanza trace_parser (helper/trace.go) -------------
    # hex-length validation (32/16), invalid → NULL, flags hex → int.
    def e_trace_parse(spark, sf_dir):
        from .operators.parse import trace_parser

        ev = _ev2(spark, sf_dir)
        h = F.md5(F.col("event_id").cast("string"))
        df = ev.select(
            "event_id",
            F.when(F.col("event_id") % 3 == 0, h)
            .when(F.col("event_id") % 3 == 1, F.substring(h, 1, 10))
            .otherwise(F.lit("not-hex-at-all-wrong-length-zz"))
            .alias("trace_src"),
            F.when(F.col("event_id") % 2 == 0, F.substring(h, 1, 16))
            .otherwise(F.substring(h, 1, 5))
            .alias("span_src"),
            F.element_at(
                F.array(F.lit("ff"), F.lit("1"), F.lit("zz"), F.lit("0a")),
                (F.col("event_id") % 4 + 1).cast("int"),
            ).alias("flags_src"),
        )
        out = trace_parser(df, "trace_src", span_col="span_src",
                           flags_col="flags_src")
        return out.select("event_id", "trace_id", "span_id",
                          F.col("flags").cast("int").alias("flags"))

    reg(
        "e_trace_parse",
        e_trace_parse,
        """WITH src AS (
  SELECT event_id, md5(event_id::VARCHAR) AS h FROM events
)
SELECT event_id,
       CASE WHEN event_id % 3 = 0 THEN h END AS trace_id,
       CASE WHEN event_id % 2 = 0 THEN substr(h, 1, 16) END AS span_id,
       (CASE event_id % 4 WHEN 0 THEN 255 WHEN 1 THEN 1
                          WHEN 3 THEN 10 END)::INT AS flags
FROM src""",
    )

    # ---- t_recombine_maxbatch: recombine force-flush at batch cap ---------
    # (transformer/recombine/config.go:50-61 max_batch_size): groups open
    # on the is_first_entry marker and additionally flush every 3 rows.
    def t_recombine_maxbatch(spark, sf_dir):
        from .operators.recombine import recombine

        fx = ensure_fixture_dir(sf_dir)
        df = read_transcripts(spark, fx)
        out = recombine(
            df, "conv_id", "turn_idx", "text", "\n",
            is_first_entry=(F.col("turn_idx") % 7 == 0),
            max_batch_size=3,
        )
        return out.select(
            "conv_id", "group_id",
            F.col("n_parts").cast("long").alias("n_parts"),
            F.col("text").alias("chunk_text"),
        )

    reg(
        "t_recombine_maxbatch",
        t_recombine_maxbatch,
        f"""WITH marked AS (
  SELECT conv_id, turn_idx, text,
         sum(CASE WHEN turn_idx % 7 = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY conv_id ORDER BY turn_idx) AS gid
  FROM {_TR}
), sub AS (
  SELECT conv_id, turn_idx, text, gid,
         (row_number() OVER (PARTITION BY conv_id, gid ORDER BY turn_idx)
          - 1) // 3 AS sb
  FROM marked
)
SELECT conv_id, gid::VARCHAR || '#' || sb::VARCHAR AS group_id,
       count(*)::BIGINT AS n_parts,
       string_agg(text, chr(10) ORDER BY turn_idx) AS chunk_text
FROM sub GROUP BY conv_id, gid, sb""",
    )

    # ---- e_cum_to_delta: cumulativetodelta processor ----------------------
    # (processor/cumulativetodeltaprocessor): per (user_id, event_type)
    # stream in (ts, event_id) order, delta = value - lag(value); first
    # point NULL. One window shuffle on the stream identity.
    def e_cum_to_delta(spark, sf_dir):
        from .operators.aggregate import cumulative_to_delta

        ev = _ev2(spark, sf_dir)
        out = cumulative_to_delta(
            ev, keys=["user_id", "event_type"], value_col="value",
            order_by=["ts", "event_id"],
        )
        return out.select(
            "event_id",
            F.round(F.col("delta"), 6).alias("delta"),
        )

    reg(
        "e_cum_to_delta",
        e_cum_to_delta,
        """SELECT event_id,
       round(value - lag(value) OVER (
         PARTITION BY user_id, event_type ORDER BY ts, event_id), 6) AS delta
FROM events""",
    )

    # ---- e_delta_to_cum: deltatocumulative processor (batch form) ---------
    # running sum per (user_id, event_type) stream — inverse of
    # e_cum_to_delta over the same stream identity and ordering.
    def e_delta_to_cum(spark, sf_dir):
        from .operators.aggregate import delta_to_cumulative

        ev = _ev2(spark, sf_dir)
        out = delta_to_cumulative(
            ev, keys=["user_id", "event_type"], value_col="value",
            order_by=["ts", "event_id"],
        )
        return out.select(
            "event_id",
            F.round(F.col("cumulative"), 6).alias("cumulative"),
        )

    reg(
        "e_delta_to_cum",
        e_delta_to_cum,
        """SELECT event_id,
       round(sum(value) OVER (
         PARTITION BY user_id, event_type ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative
FROM events""",
    )

    # ---- e_container_parse: container parser (pkg/stanza/operator/parser/
    # container/parser.go:70-151) — docker/containerd/cri-o envelopes are
    # constructed from event fields, round-tripped through the parser
    # (format auto-detection + envelope extraction + k8s metadata from the
    # log file path), and the oracle computes the ground truth directly.
    def e_container_parse(spark, sf_dir):
        from .operators.parse import container_parser

        ev = _ev2(spark, sf_dir)
        sec = (F.col("event_id") % 60).cast("int")
        t_z = F.format_string("2024-01-01T00:00:%02d.123Z", sec)
        t_off = F.format_string("2024-01-01T00:00:%02d.123456789+00:00", sec)
        stream = F.when(F.col("user_id") % 2 == 0, F.lit("stdout")).otherwise(
            F.lit("stderr")
        )
        msg = F.concat_ws(" #", F.col("event_type"),
                          F.col("event_id").cast("string"))
        fmt_idx = F.col("event_id") % 3
        line = (
            F.when(fmt_idx == 0, F.format_string(
                '{"log":"%s","stream":"%s","time":"%s"}', msg, stream, t_z))
            .when(fmt_idx == 1, F.concat_ws(" ", t_z, stream, F.lit("F"), msg))
            .otherwise(F.concat_ws(" ", t_off, stream, F.lit("F"), msg))
        )
        path = F.format_string(
            "/var/log/pods/ns%d_pod-%d_aaaa-%d/app%d/%d.log",
            (F.col("user_id") % 3).cast("int"),
            (F.col("user_id") % 5).cast("int"),
            (F.col("user_id") % 10).cast("int"),
            (F.col("user_id") % 2).cast("int"),
            (F.col("event_id") % 3).cast("int"),
        )
        df = ev.select(
            "event_id", line.alias("line"), path.alias("log_file_path")
        )
        out = container_parser(df, source="line", path_col="log_file_path")
        a = F.col("attributes")
        return out.select(
            "event_id", "format", "body",
            a["log.iostream"].alias("iostream"),
            a["logtag"].alias("logtag"),
            a["k8s.namespace.name"].alias("ns"),
            a["k8s.pod.name"].alias("pod"),
            a["k8s.pod.uid"].alias("uid"),
            a["k8s.container.name"].alias("container"),
            a["k8s.container.restart_count"].alias("restart_count"),
            F.floor(F.col("ts").cast("double")).cast("long").alias("ts_sec"),
        )

    reg(
        "e_container_parse",
        e_container_parse,
        """SELECT event_id,
       CASE event_id % 3 WHEN 0 THEN 'docker'
            WHEN 1 THEN 'containerd' ELSE 'crio' END AS format,
       event_type || ' #' || event_id::VARCHAR AS body,
       CASE WHEN user_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS iostream,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE 'F' END AS logtag,
       'ns' || (user_id % 3)::VARCHAR AS ns,
       'pod-' || (user_id % 5)::VARCHAR AS pod,
       'aaaa-' || (user_id % 10)::VARCHAR AS uid,
       'app' || (user_id % 2)::VARCHAR AS container,
       (event_id % 3)::VARCHAR AS restart_count,
       (1704067200 + event_id % 60)::BIGINT AS ts_sec
FROM events""",
    )

    # ---- e_syslog5424_parse: RFC5424 + octet-counting framing -------------
    # (parser/syslog/config.go:53-58: protocol rfc5424, enable_octet_
    # counting). Lines constructed from events with the RFC6587 length
    # prefix; the Spark side must strip + VALIDATE the frame and parse the
    # header, nil-valued fields, structured data, and message.
    def e_syslog5424_parse(spark, sf_dir):
        from .operators.parse import syslog_rfc5424_parser

        ev = _ev2(spark, sf_dir)
        pri = (F.col("user_id") % 8 + 8 * 4).cast("int")
        body = F.format_string(
            '<%d>1 2024-01-01T00:00:%02d.123Z host%d app%d %d ID%d '
            '[meta seq="%d" kind="%s"] %s',
            pri,
            (F.col("event_id") % 60).cast("int"),
            (F.col("user_id") % 4).cast("int"),
            (F.col("user_id") % 3).cast("int"),
            (F.col("event_id") % 30000).cast("int"),
            (F.col("event_id") % 7).cast("int"),
            (F.col("event_id") % 100).cast("int"),
            F.col("event_type"),
            F.col("event_type"),
        )
        framed = F.concat_ws(" ", F.length(body).cast("string"), body)
        df = ev.select("event_id", framed.alias("line"))
        out = syslog_rfc5424_parser(df, "line", enable_octet_counting=True)
        return out.select(
            "event_id", "sl_facility", "sl_severity", "sl_version",
            F.floor(F.col("sl_ts").cast("double")).cast("long").alias("ts_sec"),
            "sl_hostname", "sl_appname", "sl_procid", "sl_msgid",
            "sl_sd_id",
            F.col("sl_sd")["seq"].alias("sd_seq"),
            F.col("sl_sd")["kind"].alias("sd_kind"),
            F.col("sl_msg").alias("msg"),
        )

    reg(
        "e_syslog5424_parse",
        e_syslog5424_parse,
        """SELECT event_id,
       ((user_id % 8 + 32) // 8)::INT AS sl_facility,
       ((user_id % 8 + 32) % 8)::INT AS sl_severity,
       1 AS sl_version,
       (1704067200 + event_id % 60)::BIGINT AS ts_sec,
       'host' || (user_id % 4)::VARCHAR AS sl_hostname,
       'app' || (user_id % 3)::VARCHAR AS sl_appname,
       (event_id % 30000)::VARCHAR AS sl_procid,
       'ID' || (event_id % 7)::VARCHAR AS sl_msgid,
       'meta' AS sl_sd_id,
       (event_id % 100)::VARCHAR AS sd_seq,
       event_type AS sd_kind,
       event_type AS msg
FROM events""",
    )

    # ---- t_ottl_slice_set: nested set below a slice element
    # (internal/value.go SetIndexableValue recursing into a map held by
    # a slice): append builds the type-erased list, set(tags[1]["seen"])
    # rebuilds element 1 as a JSON object, the out-of-range set is an
    # ignore-mode statement error (no-op), and the getter reads the
    # nested write back — each reproduced exactly in the SQL oracle.
    def t_ottl_slice_set(spark, sf_dir):
        from .ottl import StatementSequence

        df = _parsed(spark, sf_dir)
        logdf = df.select(
            "conv_id", "turn_idx",
            F.col("text").alias("body"),
            F.map_filter(
                F.create_map(F.lit("role"), F.col("role")),
                lambda k, v: v.isNotNull(),
            ).alias("attributes"),
        )
        seq = StatementSequence([
            'append(attributes["tags"], attributes["role"])',
            'append(attributes["tags"], "x")',
            'set(attributes["tags"][1]["seen"], "1")',
            'set(attributes["tags"][9], "never")',
            'set(attributes["seen"], attributes["tags"][1]["seen"])',
        ], error_mode="ignore")
        out = seq.apply(logdf)
        a = F.col("attributes")
        return out.select(
            "conv_id", "turn_idx",
            a["tags"].alias("tags"),
            a["seen"].alias("seen"),
        )

    reg(
        "t_ottl_slice_set",
        t_ottl_slice_set,
        f"""WITH {_parsed_cte()}
SELECT conv_id, turn_idx,
  CASE WHEN role IS NULL THEN NULL
       ELSE '["' || role || '","{{\\"seen\\":\\"1\\"}}"]' END AS tags,
  CASE WHEN role IS NULL THEN NULL ELSE '1' END AS seen
FROM parsed""",
    )

    # ---- t_context_windows: transcripts → SFT training examples -----------
    # previous-3-turns context per assistant turn, bounded window frame
    # on the conversation identity (shuffle-free under the bucketed
    # layout); byte-stable ordering per the north rule's (conv_id,
    # turn_idx) contract.
    def t_context_windows(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import context_windows

        fx = ensure_fixture_dir(sf_dir)
        return context_windows(read_transcripts(spark, fx), n_context=3)

    reg(
        "t_context_windows",
        t_context_windows,
        f"""WITH seg AS (
  SELECT conv_id, turn_idx, role, text,
         role || ': ' || text AS seg
  FROM {_TR}
), ctx AS (
  SELECT conv_id, turn_idx, role, text,
    COALESCE(array_to_string(
      list(seg) OVER (PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), ' <sep> '), '')
      AS context
  FROM seg
)
SELECT conv_id, turn_idx, context, text AS target
FROM ctx WHERE role = 'assistant'""",
    )

    # ---- d_dsir_select: DSIR importance resampling -------------------------
    # hashed unigram+bigram features → smoothed bucket log-ratios
    # (target=src0 vs raw corpus) quantized to integer 1e-4 units →
    # exact BIGINT per-doc sums → deterministic Gumbel top-k (Xie et
    # al., NeurIPS 2023). The quantized table makes Spark's partial-agg
    # sum order and DuckDB's bit-identical.
    def d_dsir_select(spark, sf_dir):
        from .textops import importance_resample

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return importance_resample(
            docs, docs.filter(F.col("source") == "src0"),
            k=100, buckets=4096, alpha=1.0, seed=7,
        )

    reg(
        "d_dsir_select",
        d_dsir_select,
        """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), feats AS (
  SELECT doc_id, f FROM (
    SELECT doc_id, unnest(w) AS f FROM w
    UNION ALL
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i + 1])) AS f
    FROM w
  )
), rawf AS (
  SELECT doc_id, ('0x' || substr(md5(f), 1, 8))::BIGINT % 4096 AS bucket
  FROM feats
), rawc AS (
  SELECT bucket, count(*)::DOUBLE AS rn FROM rawf GROUP BY bucket
), tgtc AS (
  SELECT r.bucket, count(*)::DOUBLE AS tn
  FROM rawf r JOIN documents d USING (doc_id)
  WHERE d.source = 'src0' GROUP BY r.bucket
), j AS (
  SELECT rawc.bucket, rn, coalesce(tn, 0) AS tn
  FROM rawc LEFT JOIN tgtc USING (bucket)
), tot AS (
  SELECT sum(rn) AS rtot, sum(tn) AS ttot FROM j
), lr AS (
  SELECT bucket,
         floor(10000 * (ln((tn + 1.0) / (ttot + 4096.0))
                        - ln((rn + 1.0) / (rtot + 4096.0))))::BIGINT AS lr_q
  FROM j, tot
), scored AS (
  SELECT doc_id, sum(lr_q)::BIGINT AS logw_q
  FROM rawf JOIN lr USING (bucket) GROUP BY doc_id
), keyed AS (
  SELECT doc_id, logw_q,
         (logw_q + floor(10000 * -ln(-ln(
            ((('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 8))::BIGINT
              % 1000000) + 0.5) / 1000000.0))))::BIGINT AS key_q
  FROM scored
), top AS (
  SELECT * FROM keyed ORDER BY key_q DESC, doc_id ASC LIMIT 100
)
SELECT doc_id, logw_q, key_q,
       row_number() OVER (ORDER BY key_q DESC, doc_id ASC)::INT AS rank
FROM top""",
    )

    # ---- d_dup_spans: exact-substring duplicate spans ----------------------
    # Lee et al. 2022 ExactSubstr: overlapping k-word windows, global
    # first occurrence exempt, per-doc gaps-and-islands merge.
    def d_dup_spans(spark, sf_dir):
        from .textops import duplicate_spans

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return duplicate_spans(docs, k=5)

    reg(
        "d_dup_spans",
        d_dup_spans,
        """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), wins0 AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CASE WHEN len(w) >= 5 THEN len(w) - 4 ELSE 0 END),
           i -> {'pos': i, 'h': md5(array_to_string(w[i + 1 : i + 5], ' '))}
         )) AS s
  FROM w
), wins AS (
  SELECT doc_id, s.pos AS pos, s.h AS h FROM wins0
), marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS cnt,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM wins
), dup AS (
  SELECT doc_id, pos FROM marked WHERE cnt > 1 AND rn > 1
), g AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos) + 5
              THEN 1 ELSE 0 END AS gap
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM g
)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + 5)::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, island""",
    )

    # ---- d_curriculum: curriculum binning ----------------------------------
    # exact global rank via the two-phase distributed prefix (no
    # single-partition window); bin = rank*n/N in BIGINT arithmetic.
    def d_curriculum(spark, sf_dir):
        from .textops import curriculum_bins

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return curriculum_bins(docs, n_bins=4)

    reg(
        "d_curriculum",
        d_curriculum,
        """WITH s AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS score
  FROM documents
), r AS (
  SELECT doc_id, score,
         (row_number() OVER (ORDER BY score, doc_id) - 1)::BIGINT AS rank,
         count(*) OVER ()::BIGINT AS n
  FROM s
)
SELECT doc_id, score, rank, ((rank * 4) // n)::INT AS bin FROM r""",
    )

    # ---- t_preference_pairs: DPO pair builder ------------------------------
    # per conversation: highest- vs lowest-scoring assistant turn, total
    # deterministic tie-breaks, ONE grouped aggregate (no window/join).
    def t_preference_pairs(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import preference_pairs

        fx = ensure_fixture_dir(sf_dir)
        return preference_pairs(read_transcripts(spark, fx))

    reg(
        "t_preference_pairs",
        t_preference_pairs,
        f"""WITH cand AS (
  SELECT conv_id, turn_idx, text,
         len(string_split(text, ' '))::BIGINT AS s
  FROM {_TR} WHERE role = 'assistant'
), ranked AS (
  SELECT conv_id, turn_idx, text, s,
    row_number() OVER (PARTITION BY conv_id
                       ORDER BY s DESC, turn_idx ASC) AS rc,
    row_number() OVER (PARTITION BY conv_id
                       ORDER BY s ASC, turn_idx DESC) AS rr,
    count(*) OVER (PARTITION BY conv_id) AS n
  FROM cand
)
SELECT c.conv_id,
       c.turn_idx AS chosen_turn_idx, r.turn_idx AS rejected_turn_idx,
       c.text AS chosen, r.text AS rejected,
       (c.s - r.s)::BIGINT AS margin
FROM ranked c JOIN ranked r USING (conv_id)
WHERE c.rc = 1 AND r.rr = 1 AND c.n >= 2""",
    )

    # ---- d_temperature_mix: n^alpha multilingual resampling ----------------
    # q_s ∝ n_s^alpha derived from observed counts (no target dict);
    # rates solved at the largest feasible total, same md5-bucket gate.
    # Oracle recomputes the closed form in SQL with the normalizer
    # summed in sorted-stratum order (float-discipline note in textops).
    def d_temperature_mix(spark, sf_dir):
        from .textops import temperature_mix_sample

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return temperature_mix_sample(docs, "lang", alpha=0.5).select(
            "doc_id", "lang"
        )

    reg(
        "d_temperature_mix",
        d_temperature_mix,
        """WITH counts AS (
  SELECT lang, count(*)::DOUBLE AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
), weights AS (
  SELECT lang, n, pow(n, 0.5) AS w FROM counts
), z AS (
  SELECT sum(w ORDER BY lang) AS z FROM weights
), probs AS (
  SELECT lang, n, w / z.z AS q FROM weights, z
), t AS (
  SELECT min(n / q) AS t FROM probs
), rates AS (
  SELECT lang, least(1.0, q * t.t / n) AS rate FROM probs, t
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r USING (lang)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
      < floor(r.rate * 10000)""",
    )

    # ---- t_conv_dedup: duplicate-conversation removal ----------------------
    # dialog-level exact dedup: commutative two-word xor fingerprint of
    # the (turn_idx, role, text) element hashes (hot-conversation safe —
    # algebraic agg, partial-combined map-side), lowest conv_id per
    # fingerprint survives.
    def t_conv_dedup(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import conversation_dedup

        fx = ensure_fixture_dir(sf_dir)
        return conversation_dedup(read_transcripts(spark, fx))

    reg(
        "t_conv_dedup",
        t_conv_dedup,
        f"""WITH h AS (
  SELECT conv_id,
         md5(turn_idx::VARCHAR || chr(31) || role || chr(31) || text) AS e
  FROM {_TR}
), conv AS (
  SELECT conv_id,
         bit_xor(('0x' || substr(e, 1, 14))::BIGINT) AS conv_hash_hi,
         bit_xor(('0x' || substr(e, 15, 14))::BIGINT) AS conv_hash_lo,
         count(*)::BIGINT AS n_turns
  FROM h GROUP BY conv_id
), ranked AS (
  SELECT conv_id, conv_hash_hi, conv_hash_lo, n_turns,
         row_number() OVER (PARTITION BY conv_hash_hi, conv_hash_lo
                            ORDER BY conv_id) AS rn,
         count(*) OVER (PARTITION BY conv_hash_hi, conv_hash_lo)::BIGINT
           AS n_copies
  FROM conv
)
SELECT conv_id, conv_hash_hi, conv_hash_lo, n_turns, n_copies
FROM ranked WHERE rn = 1""",
    )

    # ---- t_loss_mask: SFT loss-masking token spans --------------------------
    # per-turn [tok_start, tok_end) offsets within the assembled dialog +
    # assistant-only 0/1 mask; per-conversation window (scale-free).
    def t_loss_mask(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import loss_mask_spans

        fx = ensure_fixture_dir(sf_dir)
        return loss_mask_spans(read_transcripts(spark, fx))

    reg(
        "t_loss_mask",
        t_loss_mask,
        f"""WITH t AS (
  SELECT conv_id, turn_idx, role,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM {_TR}
)
SELECT conv_id, turn_idx, n_tokens,
       (sum(n_tokens) OVER w - n_tokens)::BIGINT AS tok_start,
       (sum(n_tokens) OVER w)::BIGINT AS tok_end,
       CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS loss_mask
FROM t
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS UNBOUNDED PRECEDING)""",
    )

    # ---- t_context_trim: token-budget context-window trimming ---------------
    # keep the system prompt + the maximal suffix of remaining turns
    # fitting the leftover budget (drop oldest middle turns first).
    def t_context_trim(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import truncate_to_budget

        fx = ensure_fixture_dir(sf_dir)
        return truncate_to_budget(read_transcripts(spark, fx), budget=128)

    reg(
        "t_context_trim",
        t_context_trim,
        f"""WITH t AS (
  SELECT conv_id, turn_idx, role,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         (turn_idx = 0 AND role = 'system') AS is_sys
  FROM {_TR}
), gated AS (
  SELECT conv_id, turn_idx, role, n_tokens, is_sys,
         sum(CASE WHEN is_sys THEN n_tokens ELSE 0 END)
           OVER (PARTITION BY conv_id) AS sys_tokens,
         sum(CASE WHEN is_sys THEN 0 ELSE n_tokens END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                 ROWS UNBOUNDED PRECEDING) AS suffix_sum
  FROM t
)
SELECT conv_id, turn_idx, role, n_tokens
FROM gated WHERE is_sys OR suffix_sum <= 128 - sys_tokens""",
    )

    # ---- t_tool_bigrams: tool-call transition counts -------------------------
    # the conversation's ordered tool-call trace folded to global bigram
    # counts; '<start>' marks each conversation's first call.
    def t_tool_bigrams(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import tool_transitions

        fx = ensure_fixture_dir(sf_dir)
        return tool_transitions(read_transcripts(spark, fx))

    reg(
        "t_tool_bigrams",
        t_tool_bigrams,
        f"""WITH calls AS (
  SELECT conv_id, turn_idx, tool FROM {_TR} WHERE tool IS NOT NULL
), seq AS (
  SELECT coalesce(
           lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx),
           '<start>') AS prev_tool,
         tool
  FROM calls
)
SELECT prev_tool, tool, count(*)::BIGINT AS n_transitions
FROM seq GROUP BY prev_tool, tool""",
    )

    # ---- t_chat_render: chat-template dialog assembly ------------------------
    # one training string per conversation: <|role|>text segments in
    # turn order; n_tokens is the per-turn whitespace-token sum that
    # loss_mask_spans' offsets tile.
    def t_chat_render(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import render_dialogs

        fx = ensure_fixture_dir(sf_dir)
        return render_dialogs(read_transcripts(spark, fx))

    reg(
        "t_chat_render",
        t_chat_render,
        f"""SELECT conv_id,
       string_agg('<|' || role || '|>' || text, chr(10) ORDER BY turn_idx)
         AS dialog,
       count(*)::BIGINT AS n_turns,
       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
FROM {_TR} GROUP BY conv_id""",
    )

    # ---- t_conv_fuzzy_dedup: NEAR-duplicate conversation detection ---------
    # the fixture has no fuzzy dup conversations, so both engines plant
    # the same deterministic ones first: every conversation whose id ends
    # in '01' (1% of convs) is cloned as 'dup-<id>' minus its final turn
    # — a trimmed re-log. MinHash-LSH over per-turn <|role|>text shingle
    # sets (union per conv — algebraic, hot-conversation safe), exact
    # jaccard verified on candidates only.
    def t_conv_fuzzy_dedup(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import conversation_fuzzy_dedup

        fx = ensure_fixture_dir(sf_dir)
        turns = read_transcripts(spark, fx).select(
            "conv_id", "turn_idx", "role", "text"
        )
        mx = turns.groupBy("conv_id").agg(F.max("turn_idx").alias("_mx"))
        clones = (
            turns.join(mx, "conv_id")
            .filter(
                F.col("conv_id").endswith("01")
                & (F.col("turn_idx") < F.col("_mx"))
            )
            .select(
                F.concat(F.lit("dup-"), F.col("conv_id")).alias("conv_id"),
                "turn_idx", "role", "text",
            )
        )
        return conversation_fuzzy_dedup(
            turns.unionByName(clones), threshold=0.5
        )

    fuzzy_sig_cols = ",\n       ".join(
        f"min(CASE WHEN seed = {i} THEN h END)::BIGINT AS sig_{i}"
        for i in range(8)
    )
    fuzzy_band_arms = " ".join(
        f"WHEN {b} THEN md5(sig_{2 * b}::VARCHAR || '_' || sig_{2 * b + 1}::VARCHAR)"
        for b in range(4)
    )
    reg(
        "t_conv_fuzzy_dedup",
        t_conv_fuzzy_dedup,
        f"""WITH mx AS (
  SELECT conv_id, max(turn_idx) AS mxi FROM {_TR} GROUP BY conv_id
), planted AS (
  SELECT conv_id, role, text FROM {_TR}
  UNION ALL
  SELECT 'dup-' || t.conv_id, t.role, t.text
  FROM {_TR} t JOIN mx ON t.conv_id = mx.conv_id
  WHERE t.conv_id LIKE '%01' AND t.turn_idx < mx.mxi
), words AS (
  SELECT conv_id AS doc_id,
         string_split('<|' || role || '|>' || text, ' ') AS w
  FROM planted
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), hashed AS (
  SELECT doc_id, seed,
         ('0x' || substr(md5(seed::VARCHAR || '|' || sh), 1, 8))::BIGINT AS h
  FROM shingles, UNNEST(generate_series(0, 7)) AS s(seed)
), sigs AS (
  SELECT doc_id, {fuzzy_sig_cols}
  FROM hashed GROUP BY doc_id
), banded AS (
  SELECT doc_id, band, CASE band {fuzzy_band_arms} END AS band_hash
  FROM sigs, UNNEST(generate_series(0, 3)) AS b(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_sh FROM shingles GROUP BY 1
), common AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_common
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
)
SELECT c.doc_a AS conv_a, c.doc_b AS conv_b,
       round(c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common), 4)
         AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) >= 0.5""",
    )

    # ---- t_conv_lint: structural validation of dialogs ---------------------
    # the SFT sanity gate: contiguous turn indices, system-led,
    # assistant-ended, adjacent-role repeats — one conv-keyed agg.
    def t_conv_lint(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import conversation_lint

        fx = ensure_fixture_dir(sf_dir)
        return conversation_lint(read_transcripts(spark, fx))

    reg(
        "t_conv_lint",
        t_conv_lint,
        f"""WITH flags AS (
  SELECT conv_id, turn_idx AS i, role AS r,
         role = lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx, role)
           AS rep
  FROM {_TR}
), agg AS (
  SELECT conv_id,
         count(*)::BIGINT AS n_turns,
         (min(i) = 0 AND max(i) = count(*) - 1
          AND count(DISTINCT i) = count(*)) AS is_contiguous,
         coalesce(max(CASE WHEN i = 0 THEN (r = 'system') END), false)
           AS starts_with_system,
         coalesce(max(rep), false) AS has_role_repeat,
         ((max(struct_pack(i := i, r := r))).r = 'assistant')
           AS ends_with_assistant
  FROM flags GROUP BY conv_id
)
SELECT conv_id, n_turns, is_contiguous, starts_with_system,
       has_role_repeat, ends_with_assistant,
       (is_contiguous AND starts_with_system AND ends_with_assistant)
         AS is_valid
FROM agg""",
    )

    # ---- t_sft_corpus: the full transcripts → training-examples build -------
    # lint gate → exact dialog dedup → 128-token context trim → chat
    # render; one conv-keyed partitioning end to end.
    def t_sft_corpus(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import sft_corpus

        fx = ensure_fixture_dir(sf_dir)
        return sft_corpus(read_transcripts(spark, fx), budget=128)

    reg(
        "t_sft_corpus",
        t_sft_corpus,
        f"""WITH flags AS (
  SELECT conv_id, turn_idx AS i, role AS r,
         role = lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx, role)
           AS rep
  FROM {_TR}
), lint AS (
  SELECT conv_id
  FROM flags GROUP BY conv_id
  HAVING (min(i) = 0 AND max(i) = count(*) - 1
          AND count(DISTINCT i) = count(*))
     AND coalesce(max(CASE WHEN i = 0 THEN (r = 'system') END), false)
     AND ((max(struct_pack(i := i, r := r))).r = 'assistant')
), vt AS (
  SELECT t.conv_id, t.turn_idx, t.role, t.text
  FROM {_TR} t JOIN lint USING (conv_id)
), h AS (
  SELECT conv_id,
         md5(turn_idx::VARCHAR || chr(31) || role || chr(31) || text) AS e
  FROM vt
), fp AS (
  SELECT conv_id,
         bit_xor(('0x' || substr(e, 1, 14))::BIGINT) AS hi,
         bit_xor(('0x' || substr(e, 15, 14))::BIGINT) AS lo
  FROM h GROUP BY conv_id
), surv AS (
  SELECT conv_id FROM (
    SELECT conv_id,
           row_number() OVER (PARTITION BY hi, lo ORDER BY conv_id) AS rn
    FROM fp
  ) q WHERE rn = 1
), st AS (
  SELECT vt.* FROM vt JOIN surv USING (conv_id)
), tok AS (
  SELECT conv_id, turn_idx, role, text,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         (turn_idx = 0 AND role = 'system') AS is_sys
  FROM st
), gated AS (
  SELECT *,
         sum(CASE WHEN is_sys THEN n_tokens ELSE 0 END)
           OVER (PARTITION BY conv_id) AS sys_tokens,
         sum(CASE WHEN is_sys THEN 0 ELSE n_tokens END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                 ROWS UNBOUNDED PRECEDING) AS suffix_sum
  FROM tok
), kept AS (
  SELECT conv_id, turn_idx, role, text
  FROM gated WHERE is_sys OR suffix_sum <= 128 - sys_tokens
)
SELECT conv_id,
       string_agg('<|' || role || '|>' || text, chr(10) ORDER BY turn_idx)
         AS dialog,
       count(*)::BIGINT AS n_turns,
       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
FROM kept GROUP BY conv_id""",
    )

    # ---- t_conv_contamination: conversation-level eval-leak check ----------
    # eval docs are built FROM the corpus (turns 1-3 of every conv whose
    # id ends in '13' — a deterministically "leaked benchmark"), so the
    # source conversations must surface at contamination 1.0; train units
    # are whole dialogs via per-turn shingles unioned per conversation.
    def t_conv_contamination(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import conversation_contamination

        fx = ensure_fixture_dir(sf_dir)
        turns = read_transcripts(spark, fx).select(
            "conv_id", "turn_idx", "text"
        )
        ev = turns.filter(
            F.col("conv_id").endswith("13")
            & F.col("turn_idx").between(1, 3)
        ).select(
            F.concat_ws(
                "#", F.col("conv_id"), F.col("turn_idx").cast("string")
            ).alias("doc_id"),
            "text",
        )
        return conversation_contamination(turns, ev, n=3)

    reg(
        "t_conv_contamination",
        t_conv_contamination,
        f"""WITH tw AS (
  SELECT conv_id, string_split(text, ' ') AS w FROM {_TR}
), tsh AS (
  SELECT DISTINCT conv_id AS train_doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM tw, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
), ev AS (
  SELECT conv_id || '#' || turn_idx::VARCHAR AS eval_doc_id,
         string_split(text, ' ') AS w
  FROM {_TR} WHERE conv_id LIKE '%13' AND turn_idx BETWEEN 1 AND 3
), esh AS (
  SELECT DISTINCT eval_doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM ev, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
), esizes AS (
  SELECT eval_doc_id, count(*) AS n_eval_sh FROM esh GROUP BY 1
), ov AS (
  SELECT train_doc_id, eval_doc_id, count(*)::BIGINT AS n_overlap
  FROM tsh JOIN esh USING (sh) GROUP BY 1, 2
)
SELECT train_doc_id AS conv_id, eval_doc_id, n_overlap,
       round(n_overlap * 1.0 / n_eval_sh, 4) AS contamination
FROM ov JOIN esizes USING (eval_doc_id)""",
    )

    # ---- d_unigram_xent: LM cross-entropy quality scoring -------------------
    # Laplace-smoothed unigram LM fit on the corpus, per-doc bits/token;
    # ln-probs quantized to BIGINT 1e-6 units pre-sum so the aggregation
    # is order-immune exact integer math (the DSIR recipe).
    def d_unigram_xent(spark, sf_dir):
        from .textops import unigram_xent_score

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return unigram_xent_score(docs)

    reg(
        "d_unigram_xent",
        d_unigram_xent,
        """WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY w
), tot AS (
  SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS v FROM counts
), logp AS (
  SELECT w, round(ln((c + 1.0) / (total + v)) * 1e6)::BIGINT AS q_logp
  FROM counts, tot
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(q_logp)::BIGINT AS q_sum
  FROM tok JOIN logp USING (w) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(-(q_sum / 1000000.0) / ln(2) / n_tokens, 4) AS xent_bits
FROM agg""",
    )

    # ---- t_turn_retry_collapse: consecutive duplicate-turn folding ----------
    # retries are planted deterministically (every conv ending '21' gets
    # each turn twice at indices 2i and 2i+1); consecutive identical
    # (role, text) runs fold to one turn + count via gaps-and-islands.
    def t_turn_retry_collapse(spark, sf_dir):
        from .sources.readers import read_transcripts
        from .textops import collapse_turn_retries

        fx = ensure_fixture_dir(sf_dir)
        turns = read_transcripts(spark, fx).select(
            "conv_id", "turn_idx", "role", "text"
        )
        r21 = turns.filter(F.col("conv_id").endswith("21"))
        planted = (
            turns.filter(~F.col("conv_id").endswith("21"))
            .unionByName(r21.select(
                "conv_id", (F.col("turn_idx") * 2).alias("turn_idx"),
                "role", "text"))
            .unionByName(r21.select(
                "conv_id", (F.col("turn_idx") * 2 + 1).alias("turn_idx"),
                "role", "text"))
        )
        return collapse_turn_retries(planted)

    reg(
        "t_turn_retry_collapse",
        t_turn_retry_collapse,
        f"""WITH planted AS (
  SELECT conv_id, turn_idx, role, text FROM {_TR}
  WHERE conv_id NOT LIKE '%21'
  UNION ALL
  SELECT conv_id, turn_idx * 2, role, text FROM {_TR}
  WHERE conv_id LIKE '%21'
  UNION ALL
  SELECT conv_id, turn_idx * 2 + 1, role, text FROM {_TR}
  WHERE conv_id LIKE '%21'
), flagged AS (
  SELECT conv_id, turn_idx, role, text,
         CASE WHEN lag(role) OVER w IS NULL
                OR role != lag(role) OVER w
                OR text != lag(text) OVER w
              THEN 1 ELSE 0 END AS is_new
  FROM planted
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), islands AS (
  SELECT conv_id, turn_idx, role, text,
         sum(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
)
SELECT conv_id, min(turn_idx) AS turn_idx, min(role) AS role,
       min(text) AS text, count(*)::BIGINT AS n_repeats
FROM islands GROUP BY conv_id, isl""",
    )

    # ---- d_passage_chunks: overlapping word-window passage splitting --------
    # RAG / pretraining chunking: size-32 windows at stride 24, last
    # chunk short, sub-size doc = one chunk. Pure Column plan — split +
    # sequence + transform + posexplode, zero shuffle, no UDF.
    def d_passage_chunks(spark, sf_dir):
        from .textops import passage_chunks

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return passage_chunks(docs, size=32, stride=24)

    reg(
        "d_passage_chunks",
        d_passage_chunks,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), c AS (
  SELECT doc_id, w,
         (1 + floor((greatest(len(w) - 32, 0) + 23) / 24))::BIGINT AS nc
  FROM words
)
SELECT doc_id, i::INT AS chunk_idx,
       array_to_string(w[i*24+1 : i*24+32], ' ') AS chunk_text,
       len(w[i*24+1 : i*24+32])::INT AS n_words
FROM c, UNNEST(generate_series(0, nc - 1)) AS t(i)""",
    )

    # ---- d_incremental_dedup: new-batch-vs-kept-corpus exact dedup ----------
    # the crawl-refresh shape: sources src10..src19 are the "new batch",
    # src0..src9 the already-kept corpus; batch docs whose text
    # verbatim-exists in the corpus are dropped, then keep-one in batch.
    # Both sides reduce to distinct md5 BEFORE the anti join.
    def d_incremental_dedup(spark, sf_dir):
        from .textops import incremental_dedup

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        src_n = F.substring("source", 4, 10).cast("int")
        return incremental_dedup(
            docs.filter(src_n >= 10), docs.filter(src_n < 10)
        )

    reg(
        "d_incremental_dedup",
        d_incremental_dedup,
        """WITH tagged AS (
  SELECT doc_id, md5(text) AS text_hash,
         CAST(substr(source, 4) AS INT) AS src_n
  FROM documents
), batch AS (
  SELECT text_hash, count(*)::BIGINT AS n_batch_dups,
         min(doc_id)::BIGINT AS keep_doc_id
  FROM tagged WHERE src_n >= 10 GROUP BY 1
)
SELECT text_hash, keep_doc_id, n_batch_dups FROM batch
WHERE NOT EXISTS (
  SELECT 1 FROM tagged t
  WHERE t.src_n < 10 AND t.text_hash = batch.text_hash
)""",
    )

    # ---- d_containment: shingle-containment near-superset pairs -------------
    # containment = |A∩B| / min(|A|,|B|) (Broder) — catches quote /
    # boilerplate inclusion symmetric Jaccard misses; same inverted-
    # index join shape as d_ngram_jaccard, threshold 0.9.
    def d_containment(spark, sf_dir):
        from .textops import containment_pairs

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return containment_pairs(docs, n=3, threshold=0.9)

    reg(
        "d_containment",
        d_containment,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_sh FROM shingles GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(c.n_common * 1.0 / least(sa.n_sh, sb.n_sh), 4) AS containment
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.n_common * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.9""",
    )

    # ---- d_winnowing: MOSS winnowing fingerprints ---------------------------
    # Schleimer et al. 2003: k=5 word-gram hashes, window w=4, per-window
    # min (rightmost tie) → (pos, fp) sketch. ONE per-row array
    # projection — zero shuffle, no UDF; oracle replicates the nested
    # list algebra with DuckDB lambdas.
    def d_winnowing(spark, sf_dir):
        from .textops import winnowing_fingerprints

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return winnowing_fingerprints(docs, k=5, w=4)

    reg(
        "d_winnowing",
        d_winnowing,
        """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS wd FROM documents
), grams AS (
  SELECT doc_id,
    CASE WHEN len(wd) >= 5 THEN
      list_transform(generate_series(1, len(wd) - 4),
        i -> ('0x' || substr(md5(array_to_string(wd[i:i+4], ' ')), 1, 8))::BIGINT)
    ELSE [] END AS h
  FROM words
), wins AS (
  SELECT doc_id,
    list_transform(
      generate_series(1, greatest(len(h) - 3, 1)),
      j -> struct_pack(
        pos := list_max(list_filter(generate_series(j, j + 3),
                 p -> p <= len(h) AND h[p] = list_aggregate(h[j:j+3], 'min'))) - 1,
        fp := list_aggregate(h[j:j+3], 'min'))
    ) AS sel
  FROM grams
)
SELECT DISTINCT doc_id, s.pos::INT AS pos, s.fp::BIGINT AS fp
FROM wins, UNNEST(sel) AS t(s)
WHERE s.fp IS NOT NULL""",
    )

    # ---- e_funnel_steps: ordered funnel analysis ----------------------------
    # view → click → purchase, step i+1 strictly after the user's
    # earliest step i; per-step filtered min-aggs + shrinking user-keyed
    # joins (never a per-user event buffer — hot-key safe).
    def e_funnel_steps(spark, sf_dir):
        from .operators.aggregate import funnel_steps

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return funnel_steps(ev, ["view", "click", "purchase"])

    reg(
        "e_funnel_steps",
        e_funnel_steps,
        """WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
)
SELECT s1.user_id,
       (1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
          + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END)::INT
         AS steps_completed,
       floor(epoch(s1.t1))::BIGINT AS t_first,
       floor(epoch(coalesce(s3.t3, s2.t2, s1.t1)))::BIGINT AS t_last
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    )

    # ---- e_retention: cohort retention triangle -----------------------------
    # cohort = hour of first event; n_users active at each period
    # offset. Two map-side-combinable aggs + one user-keyed join.
    def e_retention(spark, sf_dir):
        from .operators.aggregate import retention_cohorts

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return retention_cohorts(ev, period_seconds=3600)

    reg(
        "e_retention",
        e_retention,
        """WITH pr AS (
  SELECT user_id, floor(floor(epoch(ts)) / 3600)::BIGINT AS p FROM events
), firsts AS (
  SELECT user_id, min(p) AS cohort_period FROM pr GROUP BY 1
), active AS (
  SELECT DISTINCT user_id, p FROM pr
)
SELECT cohort_period, (p - cohort_period)::BIGINT AS period_offset,
       count(*)::BIGINT AS n_users
FROM active JOIN firsts USING (user_id)
GROUP BY 1, 2""",
    )

    # ---- d_norm_dedup: dedup on canonicalized text ---------------------------
    # lowercase / punctuation→space / whitespace-collapse / trim, then
    # the exact_dedup contract — catches reformatted copies byte-exact
    # dedup misses. Zero-UDF projection + one 16-byte-key shuffle.
    def d_norm_dedup(spark, sf_dir):
        from .textops import normalized_dedup

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return normalized_dedup(docs)

    reg(
        "d_norm_dedup",
        d_norm_dedup,
        """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
       count(*)::BIGINT AS n_dups, min(doc_id)::BIGINT AS keep_doc_id
FROM documents GROUP BY 1""",
    )

    # ---- d_stratified_topk: exactly-k-per-stratum sampling -------------------
    # k=5 docs per source ranked by md5(doc_id) — eval-set construction.
    # Spark runs the two-phase salted form (bounded window partitions);
    # the oracle runs the naive one-window form — identical result.
    def d_stratified_topk(spark, sf_dir):
        from .textops import stratified_topk

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return stratified_topk(docs, "source", k=5).select("doc_id", "source")

    reg(
        "d_stratified_topk",
        d_stratified_topk,
        """WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                    doc_id) AS r
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE r <= 5""",
    )

    # ---- t_skew_stats: hot-key diagnosis -------------------------------------
    # top-20 conversations by turn count + skew ratio vs the mean key —
    # the measurement behind each salt-or-not decision. Hash agg +
    # broadcast scalar + TakeOrderedAndProject.
    def t_skew_stats(spark, sf_dir):
        from .operators.group import skew_stats
        from .sources.readers import read_transcripts

        fx = ensure_fixture_dir(sf_dir)
        return skew_stats(read_transcripts(spark, fx), ["conv_id"], topk=20)

    reg(
        "t_skew_stats",
        t_skew_stats,
        f"""WITH counts AS (
  SELECT conv_id, count(*)::BIGINT AS n_rows FROM {_TR} GROUP BY 1
), tot AS (
  SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS n_keys FROM counts
)
SELECT conv_id, n_rows,
       round(n_rows * 1.0 / total, 6) AS share,
       round(n_rows * 1.0 * n_keys / total, 4) AS skew
FROM counts, tot
ORDER BY n_rows DESC, conv_id LIMIT 20""",
    )

    # ---- d_vocab_cardinality: per-source vocabulary stats (exact form) ------
    # distinct tokens + total tokens per source; the approx=True HLL++
    # sketch twin is pytest-gated (engine-specific estimates).
    def d_vocab_cardinality(spark, sf_dir):
        from .textops import vocab_cardinality

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return vocab_cardinality(docs, by="source")

    reg(
        "d_vocab_cardinality",
        d_vocab_cardinality,
        """SELECT source, count(DISTINCT w)::BIGINT AS n_vocab,
       count(*)::BIGINT AS n_tokens
FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY source""",
    )

    # ---- d_corpus_merge: MERGE INTO corpus versioning ------------------------
    # deterministic change batch: doc_id%10==0 delete, %10==1 upsert
    # (reversed text), %10==2 re-keyed inserts; one full-outer equi-join
    # + projection (the copy-on-write MERGE plan).
    def d_corpus_merge(spark, sf_dir):
        from .textops import corpus_merge

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        ch = (
            docs.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", F.lit("delete").alias("op"),
                    F.lit(None).cast("string").alias("text"))
            .unionByName(
                docs.filter(F.col("doc_id") % 10 == 1).select(
                    "doc_id", F.lit("upsert").alias("op"),
                    F.reverse(F.col("text")).alias("text"))
            )
            .unionByName(
                docs.filter(F.col("doc_id") % 10 == 2).select(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    F.lit("upsert").alias("op"),
                    F.concat(F.lit("new doc "),
                             F.col("doc_id").cast("string")).alias("text"))
            )
        )
        out = corpus_merge(docs, ch)
        return out.select("doc_id", "text", "lang", "source")

    reg(
        "d_corpus_merge",
        d_corpus_merge,
        """WITH ch AS (
  SELECT doc_id, 'delete' AS op, NULL::VARCHAR AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, 'upsert', reverse(text)
  FROM documents WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 1000000, 'upsert', 'new doc ' || doc_id::VARCHAR
  FROM documents WHERE doc_id % 10 = 2
)
SELECT coalesce(s.doc_id, c.doc_id)::BIGINT AS doc_id,
       CASE WHEN c.op = 'upsert' THEN c.text ELSE s.text END AS text,
       s.lang, s.source
FROM documents s FULL OUTER JOIN ch c ON s.doc_id = c.doc_id
WHERE c.op IS NULL OR c.op != 'delete'""",
    )

    # ---- e_asof_rates: backward as-of temporal join --------------------------
    # each purchase gets the user's most recent signup "rate" at or
    # before event time (ASOF LEFT JOIN); Spark runs the one-shuffle
    # union + last(ignorenulls) running-window form — never a range join.
    def e_asof_rates(spark, sf_dir):
        from .operators.enrich import asof_join

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        updates = (
            ev.filter(F.col("event_type") == "signup")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("rate"))
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        out = asof_join(purchases, updates, by="user_id")
        return out.select(
            "event_id",
            "user_id",
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).cast("long").alias("t_event"),
            F.round("rate", 6).alias("rate"),
        )

    reg(
        "e_asof_rates",
        e_asof_rates,
        """WITH updates AS (
  SELECT user_id, ts, max(value) AS rate FROM events
  WHERE event_type = 'signup' GROUP BY 1, 2
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, floor(epoch(p.ts))::BIGINT AS t_event,
       round(u.rate, 6) AS rate
FROM purchases p ASOF LEFT JOIN updates u
  ON p.user_id = u.user_id AND p.ts >= u.ts""",
    )

    # ---- e_attribution: attribution-window interval join ---------------------
    # purchases credited to every signup of the same user within a
    # 2-hour window; the time-bucket co-partitioned interval join (equi
    # on (user, bucket), exact range post-filter). Cents-quantized sums
    # (order-immune integer math, the repo's BIGINT discipline).
    def e_attribution(spark, sf_dir):
        from .operators.enrich import interval_join

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        signups = ev.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("t_start"),
            F.expr("ts + INTERVAL 2 HOURS").alias("t_end"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
        hits = interval_join(purchases, signups, by="user_id")
        agg = hits.groupBy("signup_id").agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("_cents"),
        )
        return (
            signups.join(agg, "signup_id", "left")
            .select(
                "signup_id",
                "user_id",
                F.coalesce("n_purchases", F.lit(0)).cast("long").alias(
                    "n_purchases"
                ),
                F.round(
                    F.coalesce(F.col("_cents"), F.lit(0)) / 100.0, 2
                ).alias("sum_value"),
            )
        )

    reg(
        "e_attribution",
        e_attribution,
        """WITH s AS (
  SELECT event_id AS signup_id, user_id, ts AS t0,
         ts + INTERVAL 2 HOUR AS t1
  FROM events WHERE event_type = 'signup'
), p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT s.signup_id, s.user_id,
       count(p.ts)::BIGINT AS n_purchases,
       round(coalesce(sum(round(p.value * 100)::BIGINT), 0) / 100.0, 2)
         AS sum_value
FROM s LEFT JOIN p
  ON s.user_id = p.user_id AND p.ts >= s.t0 AND p.ts <= s.t1
GROUP BY 1, 2""",
    )

    # ---- e_anomaly_zscore: trailing-window value anomaly score ---------------
    # per-user z of each value vs the preceding 20 events; cents-
    # quantized window sums (exact BIGINTs), one fixed float expression
    # on top — last-bit identical across engines.
    def e_anomaly_zscore(spark, sf_dir):
        from .operators.aggregate import rolling_zscore

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        out = rolling_zscore(
            ev, keys=["user_id"], order_cols=["event_id"],
            window=20, min_points=5,
        )
        return out.select("event_id", "user_id", "zscore")

    reg(
        "e_anomaly_zscore",
        e_anomaly_zscore,
        """WITH c AS (
  SELECT event_id, user_id, ts, round(value * 100)::BIGINT AS cents
  FROM events
), s AS (
  SELECT event_id, user_id, cents,
         count(cents) OVER w AS n,
         sum(cents) OVER w AS s1,
         sum(cents * cents) OVER w AS s2
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       CASE WHEN n >= 5
              AND (s2 - s1 * s1 / n) / (n - 1) > 0
            THEN round((cents - s1 * 1.0 / n)
                   / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) + 0.0
       END AS zscore
FROM s""",
    )

    # ---- s_topic_hist: corpus topic distribution over embedding space -------
    # nearest-centroid assignment (ivf_topk's coarse quantizer, shared
    # scorer UDF) → per-cell size, share, and 1e-6-quantized mean member
    # cosine (cluster coherence); the latent-domain input to mixture
    # rebalancing.
    def s_topic_hist(spark, sf_dir):
        from .similarity import topic_histogram

        return topic_histogram(_emb(spark, sf_dir), n_centroids=8)

    reg(
        "s_topic_hist",
        s_topic_hist,
        """WITH cents AS (
  SELECT vec_id AS cell, embedding::DOUBLE[] AS cent
  FROM embeddings ORDER BY vec_id LIMIT 8
), assigned AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cell FROM cents c
          ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cent) DESC,
                   c.cell DESC LIMIT 1) AS cell
  FROM embeddings e
), tot AS (
  SELECT count(*)::DOUBLE AS n FROM embeddings
), q AS (
  SELECT a.cell,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       c.cent) * 1e6)::BIGINT AS qc
  FROM assigned a JOIN cents c USING (cell)
)
SELECT cell, count(*)::BIGINT AS n_vecs,
       round(count(*) / tot.n, 6) AS share,
       round(sum(qc) / 1e6 / count(*), 4) AS mean_cos
FROM q, tot GROUP BY cell, tot.n""",
    )

def _register_round5_features(reg) -> None:
    """Round-5 additions, appended at the registry tail = their true
    build order (same precedent as the round-4 block)."""

    # ---- d_bm25_topk: Okapi BM25 top-k retrieval --------------------------
    # quality-targeted corpus selection: score every document against a
    # deterministic query set (every 97th doc's first 3 words), keep the
    # best 5 per query. Inverted-index join, stopword df cap, per-term
    # partial scores BIGINT-quantized before the order-immune sum
    # (unigram-xent float discipline) — hash-exact vs the oracle.
    def d_bm25_topk(spark, sf_dir):
        from .textops import bm25_topk

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        queries = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 3), " "
            ).alias("qtext"),
        )
        # the synthetic corpus draws from a ~30-word vocabulary, so every
        # term exceeds a realistic stopword df cap — disable it here (the
        # cap's drop behavior is unit-tested in test_corpus_ops)
        return bm25_topk(docs, queries, k=5, max_df_ratio=1.0)

    reg(
        "d_bm25_topk",
        d_bm25_topk,
        """WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1
), dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         (sum(dl)::DOUBLE / count(*)) AS avgdl
  FROM dl
), post AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dft.df, s.n_docs, s.avgdl
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term), stats s
  WHERE dft.df <= s.n_docs * 1.0
), qt AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest((string_split(text, ' '))[1:3]) AS term
  FROM documents WHERE doc_id % 97 = 0
), scored AS (
  SELECT qt.query_id, p.doc_id,
         sum(round(ln(1.0 + (p.n_docs - p.df + 0.5) / (p.df + 0.5))
             * ((p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * (p.dl / p.avgdl))))
             * 1e6)::BIGINT) AS q_sum
  FROM qt JOIN post p USING (term)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, rank::INT AS rank,
       round(q_sum / 1000000.0, 4) AS score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY q_sum DESC, doc_id ASC) AS rank
  FROM scored) WHERE rank <= 5""",
    )

    # ---- e_json_profile: schema-on-read JSON field profiling --------------
    # lines constructed from events with deliberate schema drift: "value"
    # wobbles int/double by event_id%3, "flag" cycles null/true/false/
    # missing by %5, and even/odd ids carry "tags" (array) vs "meta"
    # (object). The profile reports per-key presence, per-kind counts,
    # and fill rate — the drift report read before pointing a typed
    # parser at a feed. Oracle recomputes kinds via DuckDB json_type.
    def e_json_profile(spark, sf_dir):
        from .operators.parse import json_field_profile

        ev = _ev(spark, sf_dir)
        eid = F.col("event_id")
        line = F.concat(
            F.format_string(
                '{"event":"%s","seq":%d', F.col("event_type"), eid
            ),
            F.when(
                eid % 3 == 0,
                F.format_string(',"value":%d', (eid % 50).cast("int")),
            ).otherwise(
                F.format_string(
                    ',"value":%s', ((eid % 100) / 4.0).cast("string")
                )
            ),
            F.when(eid % 5 == 0, F.lit(',"flag":null'))
            .when(eid % 5 == 1, F.lit(',"flag":true'))
            .when(eid % 5 == 2, F.lit(',"flag":false'))
            .otherwise(F.lit("")),
            F.when(
                eid % 2 == 0,
                F.format_string(',"tags":["a","%s"]', F.col("event_type")),
            ).otherwise(
                F.format_string(
                    ',"meta":{"u":%d}', (F.col("user_id") % 100).cast("int")
                )
            ),
            F.lit("}"),
        )
        return json_field_profile(ev.select(line.alias("line")), "line")

    reg(
        "e_json_profile",
        e_json_profile,
        """WITH src AS (
  SELECT '{"event":"' || event_type || '","seq":' || event_id::VARCHAR
    || CASE WHEN event_id % 3 = 0
            THEN ',"value":' || (event_id % 50)::VARCHAR
            ELSE ',"value":' || ((event_id % 100) / 4.0)::VARCHAR END
    || CASE WHEN event_id % 5 = 0 THEN ',"flag":null'
            WHEN event_id % 5 = 1 THEN ',"flag":true'
            WHEN event_id % 5 = 2 THEN ',"flag":false'
            ELSE '' END
    || CASE WHEN event_id % 2 = 0
            THEN ',"tags":["a","' || event_type || '"]'
            ELSE ',"meta":{"u":' || (user_id % 100)::VARCHAR || '}' END
    || '}' AS line
  FROM events
), tot AS (
  SELECT count(*)::BIGINT AS total FROM src
), kv AS (
  SELECT key, json_type(line::JSON, key) AS t
  FROM (SELECT line, unnest(json_keys(line)) AS key FROM src)
)
SELECT key,
  count(*)::BIGINT AS n_present,
  sum(CASE WHEN t = 'VARCHAR' THEN 1 ELSE 0 END)::BIGINT AS n_string,
  sum(CASE WHEN t IN ('UBIGINT', 'BIGINT') THEN 1 ELSE 0 END)::BIGINT
    AS n_int,
  sum(CASE WHEN t = 'DOUBLE' THEN 1 ELSE 0 END)::BIGINT AS n_double,
  sum(CASE WHEN t = 'BOOLEAN' THEN 1 ELSE 0 END)::BIGINT AS n_bool,
  sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
  sum(CASE WHEN t = 'OBJECT' THEN 1 ELSE 0 END)::BIGINT AS n_object,
  sum(CASE WHEN t = 'ARRAY' THEN 1 ELSE 0 END)::BIGINT AS n_array,
  round(count(*) / tot.total, 4) AS fill_rate
FROM kv, tot GROUP BY key, tot.total""",
    )

    # ---- d_retrieval_eval: recall@k + reciprocal rank of BM25 -------------
    # self-retrieval closure: each query is built from its source doc's
    # first 3 words, so the source doc is the gold answer; the metrics
    # quantify whether the retriever actually surfaces it (mean rr over
    # queries = MRR@5). Composes bm25_topk → retrieval_metrics in one
    # oracle-gated DAG.
    def d_retrieval_eval(spark, sf_dir):
        from .textops import bm25_topk, retrieval_metrics

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        queries = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 3), " "
            ).alias("qtext"),
        )
        results = bm25_topk(docs, queries, k=5, max_df_ratio=1.0)
        gold = queries.select(
            "query_id", F.col("query_id").alias("doc_id")
        )
        return retrieval_metrics(results, gold, k=5)

    reg(
        "d_retrieval_eval",
        d_retrieval_eval,
        """WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1
), dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         (sum(dl)::DOUBLE / count(*)) AS avgdl
  FROM dl
), post AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dft.df, s.n_docs, s.avgdl
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (term), stats s
  WHERE dft.df <= s.n_docs * 1.0
), qt AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest((string_split(text, ' '))[1:3]) AS term
  FROM documents WHERE doc_id % 97 = 0
), scored AS (
  SELECT qt.query_id, p.doc_id,
         sum(round(ln(1.0 + (p.n_docs - p.df + 0.5) / (p.df + 0.5))
             * ((p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * (p.dl / p.avgdl))))
             * 1e6)::BIGINT) AS q_sum
  FROM qt JOIN post p USING (term)
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY q_sum DESC, doc_id ASC) AS rank
    FROM scored) WHERE rank <= 5
), gold AS (
  SELECT doc_id AS query_id, doc_id FROM documents WHERE doc_id % 97 = 0
), hits AS (
  SELECT r.query_id, count(*)::BIGINT AS hits_at_k,
         min(r.rank) AS first_hit
  FROM ranked r
  JOIN gold g ON r.query_id = g.query_id AND r.doc_id = g.doc_id
  GROUP BY 1
), perq AS (
  SELECT query_id, count(*)::BIGINT AS n_gold FROM gold GROUP BY 1
)
SELECT p.query_id, p.n_gold,
       coalesce(h.hits_at_k, 0)::BIGINT AS hits_at_k,
       round(coalesce(h.hits_at_k, 0) / least(p.n_gold, 5), 4)
         AS recall_at_k,
       round(coalesce(1.0 / h.first_hit, 0.0), 4) AS rr
FROM perq p LEFT JOIN hits h USING (query_id)""",
    )
