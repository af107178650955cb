"""Severity parsing — stanza severity enum + preset token mapping.

Reference semantics:
- enum 0..24: pkg/stanza/entry/severity.go:11-52 (DEFAULT, TRACE..TRACE4,
  DEBUG..DEBUG4, INFO..INFO4, WARN..WARN4, ERROR..ERROR4, FATAL..FATAL4).
- preset aliases + HTTP range mappings (2xx→INFO, 3xx→INFO, 4xx→WARN,
  5xx→ERROR): pkg/stanza/operator/helper/severity_builder.go:17-225.

Spark-first realization: the mapping is a tiny dimension, so it compiles
to either a broadcast-join against the severity_map table (a JVM
LocalRelation; the transcripts parse uses this) or a generated CASE WHEN
chain that stays inside whole-stage codegen — no UDF either way.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sources.readers import local_frame

# full enum 0..24 (severity.go:11-52): each named level has 2/3/4 tiers
SEVERITY_NUMBERS: dict[str, int] = {"DEFAULT": 0}
for _base, _num in [("TRACE", 1), ("DEBUG", 5), ("INFO", 9),
                    ("WARN", 13), ("ERROR", 17), ("FATAL", 21)]:
    SEVERITY_NUMBERS[_base] = _num
    for _t in (2, 3, 4):
        SEVERITY_NUMBERS[f"{_base}{_t}"] = _num + _t - 1


def _default_preset() -> dict[str, str]:
    """The reference's default builtin mapping (severity_builder.go:17-86):
    the 'aliases' preset — every tier name plus its numeric string "1".."24"
    — extended with warning/warning2-4 -> WARN tiers and err/err2-4 ->
    ERROR tiers. Tokens are matched case-insensitively (the reference
    lowercases, we uppercase; equivalent)."""
    m: dict[str, str] = {}
    for canon, num in SEVERITY_NUMBERS.items():
        if canon == "DEFAULT":
            continue
        m[canon] = canon
        m[str(num)] = canon
    for t in ("", "2", "3", "4"):
        m[f"WARNING{t}"] = f"WARN{t}" if t else "WARN"
        m[f"ERR{t}"] = f"ERROR{t}" if t else "ERROR"
    return m


# Extra tokens beyond the builtin preset, supplied the way a collector
# config would via SeverityConfig.Mapping (severity_builder.go:124-146,
# parseableValues:199-225 lowercases custom string values). Kept as this
# pipeline's standing custom mapping so syslog-style tokens resolve.
_CUSTOM_MAPPING: dict[str, str] = {
    "INFORMATION": "INFO",
    "NOTICE": "INFO",
    "CRITICAL": "ERROR",
    "EMERGENCY": "FATAL",
    "PANIC": "FATAL",
}

_ALIASES: dict[str, str] = {**_default_preset(), **_CUSTOM_MAPPING}

# HTTP status range presets (severity_builder.go:166-197: 2xx/3xx→INFO,
# 4xx→WARN, 5xx→ERROR)
_HTTP_RANGES: list[tuple[int, int, str]] = [
    (200, 299, "INFO"),
    (300, 399, "INFO"),
    (400, 499, "WARN"),
    (500, 599, "ERROR"),
]


def severity_map_rows() -> list[tuple[str, int, str]]:
    """(token, severity_number, severity_text) rows — the mapping as a dim
    table (for the broadcast-join variant and for the DuckDB oracle)."""
    rows: list[tuple[str, int, str]] = []
    for alias, canon in _ALIASES.items():
        rows.append((alias, SEVERITY_NUMBERS[canon], canon))
    for lo, hi, canon in _HTTP_RANGES:
        for code in range(lo, hi + 1):
            rows.append((str(code), SEVERITY_NUMBERS[canon], canon))
    return rows


def severity_map_df(spark):
    """The mapping as a broadcast-able dim DataFrame (token, severity_number,
    severity_text). Preferred over the CASE-chain columns in any plan where
    severity feeds further expressions (routing conditions, group keys):
    a join output is a materialized attribute, while a CASE chain gets
    re-inlined by projection collapse into every downstream use — fatal
    when that use is an interpreted higher-order function.

    The 461 rows reach the JVM once as Arrow and plan as a
    ``LocalTableScan`` under the ``BroadcastHashJoin``, so building the
    broadcast runs no Python worker (``sources.readers.local_frame``)."""
    return local_frame(
        spark,
        severity_map_rows(),
        "token string, severity_number int, severity_text string",
    )


def expand_mapping(mapping: dict) -> dict[str, str]:
    """SeverityConfig.Mapping → {TOKEN: canonical severity_text}, with the
    reference's parseableValues expansion (severity_builder.go:199-225):
    ints stringify, '2xx'..'5xx' expand to their hundred tokens,
    {'min': a, 'max': b} dicts expand to each integer's string — ALL
    matching stays exact-token (the reference compares strings, so '007'
    never matches a 7..9 range)."""
    ranges = {"2xx": (200, 299), "3xx": (300, 399),
              "4xx": (400, 499), "5xx": (500, 599)}
    out: dict[str, str] = {}
    for sev, vals in mapping.items():
        canon = _ALIASES.get(str(sev).upper())
        if canon is None:
            raise ValueError(f"unrecognized severity {sev!r}")
        for v in vals if isinstance(vals, list) else [vals]:
            if isinstance(v, bool):
                raise ValueError(f"type bool cannot be parsed as a severity")
            if isinstance(v, int):
                out[str(v)] = canon
            elif isinstance(v, str) and v in ranges:
                lo, hi = ranges[v]
                for i in range(lo, hi + 1):
                    out[str(i)] = canon
            elif isinstance(v, str):
                out[v.upper()] = canon
            elif isinstance(v, dict) and {"min", "max"} <= v.keys():
                lo, hi = sorted((int(v["min"]), int(v["max"])))
                for i in range(lo, hi + 1):
                    out[str(i)] = canon
            else:
                raise ValueError(f"type {type(v)} cannot be parsed as a severity")
    return out


def severity_text_col(token: Column, mapping: dict | None = None) -> Column:
    """token (raw string like 'warn', 'WARNING', '503') → canonical
    severity_text; NULL when unmapped (caller decides DEFAULT fallback).
    ``mapping`` adds config-supplied tokens (SeverityConfig.Mapping,
    severity_builder.go:124-146) which OVERRIDE builtin entries for the
    same token (map assignment semantics)."""
    up = F.upper(token)
    overrides = expand_mapping(mapping) if mapping else {}
    # flat CASE chain, generated from the same tables the oracle uses;
    # custom tokens first (they shadow builtins), then HTTP ranges, then
    # the builtin preset (same precedence order as _sev_text_sql)
    code = F.when(up.rlike("^[0-9]{3}$"), up.cast("int"))
    out = None
    for tok, canon in overrides.items():
        cond = up == tok
        out = F.when(cond, F.lit(canon)) if out is None else out.when(cond, F.lit(canon))
    for lo, hi, canon in _HTTP_RANGES:
        cond = (code >= lo) & (code <= hi)
        out = F.when(cond, F.lit(canon)) if out is None else out.when(cond, F.lit(canon))
    for alias, canon in _ALIASES.items():
        out = out.when(up == alias, F.lit(canon))
    return out.otherwise(F.lit(None).cast("string"))


def severity_number_col(sev_text: Column) -> Column:
    """canonical severity_text → enum number; 0 (DEFAULT) when NULL."""
    out = None
    for canon, num in SEVERITY_NUMBERS.items():
        cond = sev_text == canon
        out = F.when(cond, F.lit(num)) if out is None else out.when(cond, F.lit(num))
    return out.otherwise(F.lit(0)).cast("int")
