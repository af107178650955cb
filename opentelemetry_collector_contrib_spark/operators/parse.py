"""Parsing operators (stanza parsers, SURVEY.md §2.2).

Reference: pkg/stanza/operator/parser/{regex,json,csv,jsonarray,keyvalue};
helper sub-parsers time.go:19-110, severity_builder.go:17-225, trace.go.
All stanza parsers share `parse_from`/`parse_to`/`if`/`on_error`
(helper/parser.go:85-188); here `parse_from` is just the source column and
`on_error=send` maps to null-out-and-keep (null-safe extraction),
`on_error=drop` to a filter on parse success.

Spark-first: every parser that a built-in covers uses the built-in
(JVM-side, codegen): from_json, from_csv, split + map_from_entries,
try_to_timestamp, regexp_extract. Under Spark's default ANSI mode a bad
value or a repeated key never fails the job (see ``time_parser`` and
``last_wins_map``). Only grok/named-capture regex needs the pandas-UDF path
(functions/grok.py). The transcripts parse stage below is JVM-only:
six fixed-token regexp_extract calls, no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.severity import (
    severity_map_df,
    severity_number_col,
    severity_text_col,
)

# ---------------------------------------------------------------------------
# transcripts parse stage — the tokens FIXTURES.md embeds in `text`
# (regex_parser + severity_parser + keyvalue_parser composed, single pass)
# ---------------------------------------------------------------------------

# identical regexes are used by (1) the regexp_extract parse below and
# (2) the DuckDB oracle SQL — divergence-proof.
TOKEN_PATTERNS: dict[str, str] = {
    "sev_token": r"(?:^| )level=(\S+)",
    "err_code": r"(?:^| )err=(E\d+)",
    "tool_name": r"<tool:(\w+) call_id=",
    "call_id": r"call_id=([0-9a-f]+)>",
    "dur_ms": r"(?:^| )dur_ms=(\d+)",
    "nbytes": r"(?:^| )bytes=(\d+)",
}


def parse_transcripts(df: DataFrame, source: str = "text") -> DataFrame:
    """parse stage: extract severity/err/tool/kv tokens from ``text`` into
    typed columns + map severity (severity_parser semantics incl. HTTP
    ranges). `text` itself is NEVER rewritten (bit-for-bit invariant).

    Pure-builtin regexp_extract inside whole-stage codegen. This beat a
    vectorized pandas UDF (pyarrow RE2, one Arrow round trip) at every
    core count measured: 2.2× at sf0.1 / local[32] and 2× at 100k turns /
    local[4] (BASELINE.md "Transcript parse path"). The fixed token
    patterns need no grok engine, and staying JVM-side skips the Arrow
    copy of the full text column and the Python worker spin-up.
    """
    cols = {
        n: F.nullif(F.regexp_extract(F.col(source), p, 1), F.lit(""))
        for n, p in TOKEN_PATTERNS.items()
    }
    df = df.select(
        "*",
        cols["sev_token"].alias("sev_token"),
        cols["err_code"].alias("err_code"),
        cols["tool_name"].alias("tool_name"),
        cols["call_id"].alias("call_id"),
        cols["dur_ms"].cast("int").alias("dur_ms"),
        cols["nbytes"].cast("long").alias("nbytes"),
    )
    # severity mapping via broadcast dim join (severity_builder.go presets
    # as a lookup table). NOT the when-chain columns: those get re-inlined
    # into every downstream expression by projection collapse — the routing
    # conditions then carry N copies of the full chain into interpreted
    # (non-codegen) higher-order functions. A join output is a materialized
    # attribute; downstream plans reference it, never recompute it.
    dim = severity_map_df(df.sparkSession)
    df = (
        df.join(
            F.broadcast(dim),
            F.upper(F.col("sev_token")) == dim["token"],
            "left",
        )
        .drop("token")
        .withColumn("severity_number", F.coalesce("severity_number", F.lit(0)))
    )
    return df


# ---------------------------------------------------------------------------
# generic stanza parsers
# ---------------------------------------------------------------------------


def regex_parser(
    df: DataFrame,
    source: str,
    pattern: str,
    on_error: str = "send",
) -> DataFrame:
    """stanza regex_parser (parser/regex/parser.go:16-63): named-capture
    regex over a string field → one column per capture group.

    Uses the grok engine's single-pass pandas UDF (named groups need it;
    Spark's regexp_extract is positional). The reference's LRU memo cache
    (regex/cache.go:24-110) is unnecessary: per-batch vectorized regex is
    already amortized; for highly repetitive corpora compose with
    ``dedup_before_parse``.
    """
    from ..functions.grok import GrokPattern

    g = GrokPattern(pattern)
    out = g.apply(df, source)
    if on_error == "drop":
        first = g.names[0]
        out = out.filter(F.col(first).isNotNull())
    return out


def dedup_before_parse(df: DataFrame, source: str, parse_fn) -> DataFrame:
    """Memo-cache analog (regex/cache.go): parse each DISTINCT source value
    once, broadcast-join results back. Worth it only when distinct(source)
    << rows (e.g. repeated log lines); the regex cache in the reference
    exists for exactly that shape."""
    distinct = df.select(source).distinct()
    parsed = parse_fn(distinct)
    return df.join(F.broadcast(parsed), on=source, how="left")


def json_parser(
    df: DataFrame, source: str, schema: T.DataType | str, to: str = "parsed"
) -> DataFrame:
    """stanza json_parser (parser/json/config.go:35) → from_json."""
    return df.withColumn(to, F.from_json(F.col(source), schema))


def json_field_profile(df: DataFrame, source: str) -> DataFrame:
    """Schema-on-read profiling of a JSON-lines column: one row per
    top-level key with its presence count, per-kind counts (string /
    int / double / bool / json-null / object / array), and fill rate
    against ALL input rows — the drift report an operator reads before
    pointing a typed parser at a feed (which fields exist, how often,
    and whether a field's type wobbles between producers).

    Plan: one parse_json, one explode of the top-level object map, one
    hash agg on the key (map-side partials; key cardinality = schema
    width, tiny) with the 1-row total broadcast into the projection —
    entirely JVM-side, no Python. Non-object / unparseable lines simply
    contribute no keys (their absence shows up in every fill_rate).
    Deterministic: counts are exact integers, fill_rate rounds at 4."""
    from ..pdata import variant_kind, variant_object_map

    total = df.agg(F.count(F.lit(1)).cast("long").alias("total"))
    kv = df.select(
        F.explode(
            variant_object_map(F.try_parse_json(F.col(source)))
        ).alias("key", "val")
    ).select("key", variant_kind(F.col("val")).alias("kind"))

    def n(kind: str, alias: str):
        return F.sum(
            F.when(F.col("kind") == kind, 1).otherwise(0)
        ).cast("long").alias(alias)

    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_present"),
            n("string", "n_string"),
            n("int", "n_int"),
            n("double", "n_double"),
            n("bool", "n_bool"),
            n("empty", "n_null"),
            n("map", "n_object"),
            n("slice", "n_array"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "key", "n_present", "n_string", "n_int", "n_double",
            "n_bool", "n_null", "n_object", "n_array",
            F.round(F.col("n_present") / F.col("total"), 4)
            .alias("fill_rate"),
        )
    )


def csv_parser(
    df: DataFrame,
    source: str,
    schema: str,
    to: str = "parsed",
    delimiter: str = ",",
) -> DataFrame:
    """stanza csv_parser (parser/csv/config.go:38-43) → from_csv."""
    return df.withColumn(
        to, F.from_csv(F.col(source), schema, {"sep": delimiter})
    )


def last_wins_map(entries: Column) -> Column:
    """``map_from_entries`` over an array of (key, value) structs where a
    repeated key keeps its LAST value, as the reference's per-pair Go map
    assignment does. Plain ``map_from_entries``/``str_to_map`` follow
    ``spark.sql.mapKeyDedupPolicy``, whose default fails the whole job
    with DUPLICATED_MAP_KEY; this keeps an entry only when no later entry
    has its key, and leaves the session conf alone."""

    def dedup(es: Column) -> Column:
        return F.map_from_entries(F.filter(es, lambda e, i: ~F.exists(
            F.slice(es, i + 2, F.size(es)), lambda x: x["key"] == e["key"]
        )))

    # the entries bind once, as a lambda variable: referenced directly
    # they would be re-evaluated for every element the filter visits
    return F.transform(F.array(entries), dedup)[0]


def kv_map(c: Column, pair_delim: str, kv_delim: str) -> Column:
    """``str_to_map(c, pair_delim, kv_delim)`` with last-wins keys: the
    same regex split into pairs and into at most (key, value), a pair
    without ``kv_delim`` mapping to NULL."""
    kvs = F.transform(F.split(c, pair_delim, -1), lambda p: F.split(p, kv_delim, 2))
    return last_wins_map(F.transform(
        kvs, lambda kv: F.struct(kv[0].alias("key"), F.get(kv, 1).alias("value"))
    ))


def keyvalue_parser(
    df: DataFrame,
    source: str,
    to: str = "parsed",
    pair_delim: str = " ",
    kv_delim: str = "=",
) -> DataFrame:
    """stanza keyvalue_parser (parser/keyvalue/config.go:38-39) →
    ``kv_map`` (JVM-side); ``k=1 k=2`` parses to {k: 2}."""
    return df.withColumn(to, kv_map(F.col(source), pair_delim, kv_delim))


def time_parser(
    df: DataFrame,
    source: str,
    layout_type: str = "strptime",
    layout: str | None = None,
    to: str = "ts",
) -> DataFrame:
    """stanza time_parser (helper/time.go:19-110): strptime/epoch layouts.

    strptime %-codes are translated to Spark datetime patterns; epoch
    variants map to timestamp_seconds/millis/micros. A value that does
    not parse becomes NULL (``on_error: send``), under ANSI mode too:
    ``try_to_timestamp`` and ``try_cast``, never a failed job.
    """
    c = F.col(source)
    if layout_type == "epoch":
        unit = layout or "s"
        n = c.try_cast("long")
        if unit == "s":
            out = F.timestamp_seconds(n)
        elif unit == "ms":
            out = F.timestamp_millis(n)
        elif unit == "us":
            out = F.timestamp_micros(n)
        elif unit == "ns":
            out = F.timestamp_micros((n / 1000).cast("long"))
        else:
            raise ValueError(f"epoch unit {unit!r}")
        return df.withColumn(to, out)
    fmt = _strptime_to_spark(layout or "%Y-%m-%d %H:%M:%S")
    return df.withColumn(to, F.try_to_timestamp(c, F.lit(fmt)))


_STRPTIME_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%L": "SSS",
    "%j": "DDD", "%p": "a", "%z": "XX", "%Z": "zz", "%b": "MMM",
    "%B": "MMMM", "%a": "EEE", "%A": "EEEE", "%%": "%",
}


def _strptime_to_spark(layout: str) -> str:
    """%-code translation with literal-run quoting: Spark datetime
    patterns treat ANY letter as a pattern char, so literal text between
    codes (the 'T' in ISO-8601, 'UTC' suffixes, …) must be single-quoted
    or to_timestamp throws INVALID_DATETIME_PATTERN."""
    parts: list[tuple[str, str]] = []
    i = 0
    while i < len(layout):
        code = layout[i:i + 2]
        if layout[i] == "%" and code in _STRPTIME_MAP:
            parts.append(("code", _STRPTIME_MAP[code]))
            i += 2
        else:
            parts.append(("lit", layout[i]))
            i += 1
    out: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        if buf:
            s = "".join(buf)
            if any(c.isalpha() for c in s):
                out.append("'" + s.replace("'", "''") + "'")
            else:
                out.append(s)
            buf.clear()

    for kind, s in parts:
        if kind == "lit":
            buf.append(s)
        else:
            flush()
            out.append(s)
    flush()
    return "".join(out)


def trace_parser(
    df: DataFrame,
    trace_col: str,
    span_col: str | None = None,
    flags_col: str | None = None,
) -> DataFrame:
    """stanza trace_parser (pkg/stanza/operator/helper/trace.go): parse
    W3C ids. The reference hex-decodes into []byte and errors on invalid
    input; our ids stay lowercase-hex strings (the `.string` OTTL view),
    so validation = exact hex-length check, invalid → NULL (on_error=send
    semantics: record continues, field unset). trace=16 bytes, span=8
    bytes, flags=1 byte parsed to its int value."""
    t = F.lower(F.col(trace_col).cast("string"))
    df = df.withColumn(
        "trace_id", F.when(t.rlike("^[0-9a-f]{32}$"), t)
    )
    if span_col:
        s = F.lower(F.col(span_col).cast("string"))
        df = df.withColumn(
            "span_id", F.when(s.rlike("^[0-9a-f]{16}$"), s)
        )
    if flags_col:
        fl = F.lower(F.col(flags_col).cast("string"))
        df = df.withColumn(
            "flags",
            F.when(fl.rlike("^[0-9a-f]{1,2}$"),
                   F.conv(fl, 16, 10).cast("int")),
        )
    return df


def jsonarray_parser(
    df: DataFrame,
    source: str,
    to: str = "parsed",
    header: list[str] | None = None,
) -> DataFrame:
    """stanza jsonarray_parser (parser/jsonarray/config.go:48): parse a
    JSON-array string into a slice; with `header` configured, zip values
    with the header names into a map (assignkeys-style), mirroring the
    parser's header mode."""
    arr = F.from_json(F.col(source), "array<string>")
    if header is None:
        return df.withColumn(to, arr)
    keys = F.array(*[F.lit(h) for h in header])
    vals = F.array(*[F.try_element_at(arr, F.lit(i + 1))
                     for i in range(len(header))])
    return df.withColumn(to, F.map_from_arrays(keys, vals))


def uri_parser(df: DataFrame, source: str, prefix: str = "uri_") -> DataFrame:
    """stanza uri_parser (parser/uri) → parse_url per component."""
    c = F.col(source)
    return (
        df.withColumn(prefix + "scheme", F.parse_url(c, F.lit("PROTOCOL")))
        .withColumn(prefix + "host", F.parse_url(c, F.lit("HOST")))
        .withColumn(prefix + "path", F.parse_url(c, F.lit("PATH")))
        .withColumn(prefix + "query", F.parse_url(c, F.lit("QUERY")))
    )


def severity_parser(
    df: DataFrame, source: str, to_text: str = "severity_text",
    to_num: str = "severity_number", mapping: dict | None = None,
) -> DataFrame:
    """stanza severity_parser (helper/severity_builder.go:17-225):
    token → enum via the default preset + HTTP ranges; ``mapping`` adds
    SeverityConfig.Mapping custom tokens/ranges (config-supplied values
    override builtins for the same token). Codegen CASE chain."""
    df = df.withColumn(to_text, severity_text_col(F.col(source), mapping))
    return df.withColumn(to_num, severity_number_col(F.col(to_text)))


# ---------------------------------------------------------------------------
# container parser (docker / containerd / cri-o)
# ---------------------------------------------------------------------------

# pkg/stanza/operator/parser/container/parser.go:28-31 — the three
# envelope patterns and the k8s log-path pattern, verbatim semantics
_CRIO_RX = r"^([^ Z]+) (stdout|stderr) ([^ ]*) ?(.*)$"
_CONTAINERD_RX = r"^([^ ^Z]+Z) (stdout|stderr) ([^ ]*) ?(.*)$"
_LOGPATH_RX = (
    r"^.*/([^_]+)_([^_]+)_([a-f0-9\-]+)/([^\._]+)/(\d+)\.log$"
)


def container_parser(
    df: DataFrame,
    source: str = "text",
    path_col: str | None = None,
    fmt: str | None = None,
    add_metadata_from_filepath: bool = True,
) -> DataFrame:
    """stanza `container` parser (pkg/stanza/operator/parser/container/
    parser.go:70-151, config.go:58-60): parse docker / containerd / cri-o
    log envelopes, auto-detecting the format per line when `fmt` is None
    (detectFormat, parser.go:197-217: `^{` → docker, time-without-Z →
    crio, time-ending-Z → containerd).

    Emits columns:
      format     detected envelope
      body       the log content (docker `log` field / CRI log group)
      attributes map with the reference's exact keys — log.iostream
                 (stream, logFieldsMapping parser.go:43-46), logtag,
                 time (original, kept pending the removeOriginalTimeField
                 feature gate), and k8s.* extracted from `path_col` via
                 logpathPattern (parser.go:31, k8sMetadataMapping :47-53)
      ts         parsed event time (docker/containerd goTimeLayout,
                 crio RFC3339Nano with offset — both ISO, one cast)

    All JVM-side: one from_json for docker + regexp_extract for CRI —
    no Python in the path (the reference publishes a perf contract for
    exactly this chain, testbed/tests/log_test.go:70-110).

    CRI partial lines (logtag P/F) are stitched by
    container_recombine(); docker lines bypass recombine like the
    reference (Process routes only containerd/crio through the internal
    recombine operator, parser.go:92-146).
    """
    c = F.col(source)
    if fmt is not None:
        if fmt not in ("docker", "containerd", "crio"):
            raise ValueError(f"container format {fmt!r}")
        detected = F.lit(fmt)
    else:
        detected = (
            F.when(c.rlike(r"^\{"), F.lit("docker"))
            .when(c.rlike(_CRIO_RX) & ~c.rlike(_CONTAINERD_RX), F.lit("crio"))
            .when(c.rlike(_CONTAINERD_RX), F.lit("containerd"))
        )

    docker = F.from_json(c, "log string, stream string, time string")
    is_docker = detected == "docker"
    cri_rx = F.when(detected == "crio", F.lit(_CRIO_RX)).otherwise(
        F.lit(_CONTAINERD_RX)
    )
    # regexp_extract needs a literal pattern per call — evaluate both and
    # select (cheap: both anchored single-pass scans)
    def _cri(idx: int) -> F.Column:
        return F.when(
            detected == "crio",
            F.nullif(F.regexp_extract(c, _CRIO_RX, idx), F.lit("")),
        ).otherwise(
            F.nullif(F.regexp_extract(c, _CONTAINERD_RX, idx), F.lit(""))
        )

    time_s = F.when(is_docker, docker["time"]).otherwise(_cri(1))
    stream = F.when(is_docker, docker["stream"]).otherwise(_cri(2))
    logtag = F.when(is_docker, F.lit(None).cast("string")).otherwise(_cri(3))
    body = F.when(is_docker, docker["log"]).otherwise(
        F.coalesce(_cri(4), F.lit(""))
    )

    kv: list[F.Column] = [
        F.lit("log.iostream"), stream,
        F.lit("logtag"), logtag,
        F.lit("time"), time_s,
    ]
    if add_metadata_from_filepath and path_col is not None:
        p = F.col(path_col)
        for key, idx in (
            ("k8s.namespace.name", 1),
            ("k8s.pod.name", 2),
            ("k8s.pod.uid", 3),
            ("k8s.container.name", 4),
            ("k8s.container.restart_count", 5),
        ):
            kv.extend([
                F.lit(key),
                F.nullif(F.regexp_extract(p, _LOGPATH_RX, idx), F.lit("")),
            ])
    attrs = F.map_filter(F.create_map(*kv), lambda _, v: v.isNotNull())

    return (
        df.withColumn("format", detected)
        .withColumn("body", body)
        .withColumn("attributes", attrs)
        # goTimeLayout / crioTimeLayout (parser.go:33-34) are both ISO —
        # Spark's lenient timestamp cast covers millis and nano+offset
        .withColumn("ts", time_s.cast("timestamp"))
    )


def container_recombine(
    df: DataFrame, order_by: str, path_col: str = "log_file_path"
) -> DataFrame:
    """Stitch CRI partial lines: the reference wires an internal
    recombine with is_last_entry = `attributes.logtag == 'F'`,
    source_identifier = log.file.path, combine_with "" (config.go:
    createRecombine, recombineIsLastEntry). Docker rows bypass it
    (parser.go Process routes only CRI formats through recombine) —
    split, stitch, reunite."""
    from .recombine import recombine

    cri = df.filter(F.col("format") != "docker")
    docker = df.filter(F.col("format") == "docker")
    stitched = recombine(
        cri,
        path_col,
        order_by,
        combine_field="body",
        combine_with="",
        is_last_entry=F.col("attributes")["logtag"] == "F",
    ).select(
        F.col(path_col),
        F.col("body"),
        F.col("n_parts"),
        F.col("first_" + order_by).alias(order_by),
    )
    return stitched.unionByName(
        docker.select(
            F.col(path_col), F.col("body"),
            F.lit(1).cast("long").alias("n_parts"), F.col(order_by),
        )
    )


# ---------------------------------------------------------------------------
# syslog RFC5424 (+ octet-counting framing)
# ---------------------------------------------------------------------------

# RFC5424: <PRI>VERSION SP TIMESTAMP SP HOSTNAME SP APP-NAME SP PROCID SP
# MSGID SP STRUCTURED-DATA [SP MSG]; "-" is the nil value. Reference:
# pkg/stanza/operator/parser/syslog (config.go:53-58 protocol rfc5424 +
# enable_octet_counting; parsing delegated to go-syslog/rfc5424 and
# octetcounting — here a single anchored regex, all JVM-side).
_RFC5424_RX = (
    r"^<(\d{1,3})>(\d{1,2}) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(-|(?:\[.*?\])+)(?: (.*))?$"
)


def syslog_rfc5424_parser(
    df: DataFrame,
    source: str,
    enable_octet_counting: bool = False,
    prefix: str = "sl_",
) -> DataFrame:
    """Parse RFC5424 syslog lines into typed columns.

    enable_octet_counting: the line is framed as "LEN SP MSG" (RFC6587
    octet counting, go-syslog/octetcounting). The frame is validated —
    a LEN that does not match the payload length nulls the record's
    parsed fields (on_error=send semantics), mirroring the reference
    erroring on bad frames.

    Emits {prefix}facility/severity/version/ts/hostname/appname/procid/
    msgid/sd_id/sd (map)/msg. Multiple SD elements: the first element's
    params are lifted into the map (common path); the raw SD string is
    kept in {prefix}sd_raw for full fidelity.
    """
    line = F.col(source)
    if enable_octet_counting:
        octets = F.regexp_extract(line, r"^(\d+) ", 1)
        payload = F.regexp_replace(line, r"^\d+ ", "")
        frame_ok = (F.nullif(octets, F.lit("")).isNotNull()
                    & (F.length(payload) == octets.cast("int")))
        line = F.when(frame_ok, payload)

    def g(idx: int) -> Column:
        return F.nullif(
            F.nullif(F.regexp_extract(line, _RFC5424_RX, idx), F.lit("")),
            F.lit("-"),
        )

    pri = g(1).cast("int")
    sd_raw = g(8)
    first_sd = F.regexp_extract(sd_raw, r"^\[(\S+)( [^\]]*)?\]", 0)
    sd_id = F.nullif(F.regexp_extract(first_sd, r"^\[(\S+)", 1), F.lit(""))
    sd_params = F.nullif(
        F.trim(F.regexp_extract(first_sd, r"^\[\S+ ([^\]]*)\]", 1)),
        F.lit(""),
    )
    sd_map = F.when(
        sd_params.isNotNull(),
        kv_map(F.regexp_replace(sd_params, '"', ""), " ", "="),
    )
    return (
        df.withColumn(prefix + "facility", (pri / 8).cast("int"))
        .withColumn(prefix + "severity", (pri % 8).cast("int"))
        .withColumn(prefix + "version", g(2).cast("int"))
        .withColumn(prefix + "ts", g(3).cast("timestamp"))
        .withColumn(prefix + "hostname", g(4))
        .withColumn(prefix + "appname", g(5))
        .withColumn(prefix + "procid", g(6))
        .withColumn(prefix + "msgid", g(7))
        .withColumn(prefix + "sd_raw", sd_raw)
        .withColumn(prefix + "sd_id", sd_id)
        .withColumn(prefix + "sd", sd_map)
        .withColumn(prefix + "msg", g(9))
    )
