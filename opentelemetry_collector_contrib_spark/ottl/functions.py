"""OTTL converter registry → built-in pyspark.sql.functions.

Mirrors pkg/ottl/ottlfuncs/functions.go:36-98 (converter registration);
per-converter semantics from ottlfuncs/README.md (line refs in SURVEY.md
§2.4). Every converter is JVM-side / codegen except ParseXML (stdlib XML
has no Column equivalent — Arrow-batched pandas UDF, the sanctioned slow
path). Converters receive raw AST args (so string-literal options like
case mode or time layout are read at compile time) and return a Column.

Fallible converters register failure predicates via ``ctx.note_failure``
so the compiler can realize the reference's error modes (pkg/ottl/
config.go:11-27): ignore/silent skip the statement on failing rows,
propagate raises.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .parser import Call, HexBytes, ListExpr, Literal, OTTLError, Path


def literal_arg(node):
    if isinstance(node, Literal):
        return node.value
    raise OTTLError(f"argument must be a literal, got {node!r}")


def _vals(args, ctx):
    """Compile converter args. Runtime-typed VARIANT values render to
    their pcommon.Value.AsString form (scalar → text, composite → JSON)
    so every string/number-domain converter works on typed body paths;
    type-check converters (IsMap/Len/…) use _raw_one for the kind."""
    from .compiler import VARIANT, compile_value, static_type

    out = []
    for a in args:
        c = compile_value(a, ctx)
        if static_type(a, ctx) == VARIANT:
            from ..pdata import variant_render

            c = variant_render(c)
        out.append(c)
    return out


def _one(args, ctx) -> Column:
    return _vals(args, ctx)[0]


def _raw_one(args, ctx) -> Column:
    """First arg WITHOUT variant rendering (kind-aware converters)."""
    from .compiler import compile_value

    return compile_value(args[0], ctx)


def _stype(node, ctx) -> str:
    from .compiler import static_type

    return static_type(node, ctx)


# ---- string / encoding ----------------------------------------------------

def _concat(args, ctx):
    # Concat(values[], delimiter) README.md:503
    if not isinstance(args[0], ListExpr):
        raise OTTLError("Concat expects a list first arg")
    from .compiler import compile_value

    vals = [compile_value(a, ctx) for a in args[0].items]
    delim = literal_arg(args[1])
    return F.concat_ws(delim, *[v.cast("string") for v in vals])


_SNAKE_RX1, _SNAKE_RX2 = "([a-z0-9])([A-Z])", "$1_$2"


def _convert_case(args, ctx):
    c = _one(args, ctx)
    mode = literal_arg(args[1])
    if mode == "upper":
        return F.upper(c)
    if mode == "lower":
        return F.lower(c)
    if mode == "snake":
        return F.lower(F.regexp_replace(c, _SNAKE_RX1, _SNAKE_RX2))
    if mode == "camel":
        # snake_case → CamelCase (ottlfuncs func_convert_case.go semantics)
        return F.replace(F.initcap(F.regexp_replace(c, "_", " ")),
                         F.lit(" "), F.lit(""))
    raise OTTLError(f"ConvertCase mode {mode!r}")


def _substring(args, ctx):
    # Substring(target, start, length) — 0-based (README.md:1441);
    # Spark substring is 1-based. The reference errors on start<0,
    # length<=0 (compile-time here: args are literals) and on
    # start+length > len(target) (runtime failure predicate,
    # func_substring.go:34-58) — unlike Spark's silent truncation.
    c = _one(args, ctx)
    start = int(literal_arg(args[1]))
    length = int(literal_arg(args[2]))
    if start < 0:
        raise OTTLError(f"Substring: start {start} cannot be negative")
    if length <= 0:
        raise OTTLError(f"Substring: length {length} must be positive")
    ctx.note_failure(
        c.isNull() | (F.length(c.cast("string")) < F.lit(start + length)),
        f"Substring: range {start}+{length} exceeds target length",
    )
    return F.substring(c, start + 1, length)


def _split(args, ctx):
    c = _one(args, ctx)
    return F.split(c, re.escape(literal_arg(args[1])))


# converters whose results are arrays / maps — Len must count elements
# (ottlfuncs/README.md:975: Len of a slice/map is its cardinality, not the
# length of a string rendering). Dispatch is static on the argument AST.
_ARRAY_FNS = {"Split", "ParseCSV", "Sort"}
_MAP_FNS = {"ParseKeyValue", "ExtractPatterns",
            "ExtractGrokPatterns", "ParseXML", "UserAgent", "URL"}


def _len(args, ctx):
    node = args[0]
    fn_name = getattr(node, "name", None)  # set only for Call nodes
    if fn_name == "ParseCSV" and (len(node.args) > 1 or node.kwargs):
        return F.size(F.map_keys(_one(args, ctx)))  # header mode → map
    if fn_name in _ARRAY_FNS:
        return F.size(_one(args, ctx))
    if fn_name in _MAP_FNS:
        return F.size(F.map_keys(_one(args, ctx)))
    if _stype(node, ctx) == "variant":
        # pcommon Len: Slice/Map → element count, Str → char count
        from ..pdata import variant_kind, variant_render

        v = _raw_one(args, ctx)
        k = variant_kind(v)
        return (
            F.when(
                k == "slice",
                F.size(F.try_variant_get(v, "$", "array<variant>")),
            )
            .when(
                k == "map",
                F.size(
                    F.map_keys(
                        F.try_variant_get(v, "$", "map<string,variant>")
                    )
                ),
            )
            .otherwise(F.length(variant_render(v)))
        )
    if isinstance(node, Path) and _stype(node, ctx) in ("map", "array"):
        return F.size(_one(args, ctx))
    return F.length(_one(args, ctx).cast("string"))


def _format(args, ctx):
    # Format(formatString, [args]) README.md:725
    fmt = literal_arg(args[0])
    from .compiler import compile_value

    vals = [compile_value(a, ctx) for a in args[1].items]
    return F.format_string(fmt.replace("%v", "%s"), *vals)


def _extract_patterns(args, ctx):
    """ExtractPatterns(target, pattern) README.md:599 — named captures →
    struct. Compiled to one regexp_extract per named group (codegen) —
    group indices resolved at compile time with Python's re."""
    c = _one(args, ctx)
    pat = literal_arg(args[1])
    rx = re.compile(pat)
    if not rx.groupindex:
        raise OTTLError("ExtractPatterns requires named capture groups")
    # Java regex rejects (?P<name>…) — strip names, extract by group index
    java_rx = re.sub(r"\(\?P<\w+>", "(", pat)
    fields = [
        F.nullif(F.regexp_extract(c, java_rx, idx), F.lit("")).alias(name)
        for name, idx in rx.groupindex.items()
    ]
    return F.struct(*fields)


def _extract_grok(args, ctx):
    """ExtractGrokPatterns(target, pattern, Optional[namedCapturesOnly],
    Optional[patternDefinitions]) README.md:615-705 — grok compiled to
    named-capture regex on the driver. namedCapturesOnly defaults FALSE
    like the reference (func_extract_grok_patterns.go:43: unnamed
    %{SYNTAX} references then capture under the syntax name);
    patternDefinitions is the "NAME=pattern" custom-definition list
    (validated with the reference's two startup errors). Column-level
    variant: one regexp_extract per group (codegen, no Python); the
    pandas-UDF single-pass variant lives in functions/grok.py
    GrokPattern.extract."""
    from ..functions.grok import GrokPattern
    from .parser import ListExpr as _ListExpr

    c = _one(args, ctx)
    kw = getattr(args, "kwargs", {}) or {}
    pos = list(args)
    nco_node = pos[2] if len(pos) > 2 else kw.get("namedCapturesOnly")
    defs_node = pos[3] if len(pos) > 3 else kw.get("patternDefinitions")
    nco = bool(literal_arg(nco_node)) if nco_node is not None else False
    custom: dict[str, str] = {}
    if defs_node is not None:
        items = (defs_node.items if isinstance(defs_node, _ListExpr)
                 else [defs_node])
        for i, item in enumerate(items):
            s = str(literal_arg(item))
            parts = s.split("=", 1)
            if len(parts) == 1:
                trimmed = s if len(s) <= 20 else s[:17] + "..."
                raise OTTLError(
                    f"pattern {trimmed!r} supplied to ExtractGrokPatterns "
                    f"at index {i} has incorrect format, expecting "
                    "PATTERNNAME=pattern definition"
                )
            if ":" in parts[0]:
                raise OTTLError(
                    f"pattern ID {parts[0]!r} should not contain ':'"
                )
            custom[parts[0]] = parts[1]
    try:
        g = GrokPattern(literal_arg(pos[1]), custom_patterns=custom or None,
                        named_captures_only=nco)
    except (ValueError, KeyError) as e:
        raise OTTLError(str(e)) from None
    # Java regex rejects (?P<name>…) — strip names, extract by group index
    java_rx = re.sub(r"\(\?P<\w+>", "(", g.regex_str)
    fields = []
    for name, idx in g.regex.groupindex.items():
        col = F.nullif(F.regexp_extract(c, java_rx, idx), F.lit(""))
        t = g.types.get(name)
        if t and t != "string":
            col = col.cast(t)
        # dotted ECS keys (url.port) ride as display names — regex
        # groups are \w-sanitized, the output map is not
        fields.append(col.alias(g.display.get(name, name)))
    return F.struct(*fields)


# ---- type conversion / checks ---------------------------------------------

def _int_conv(args, ctx):
    # Int(value) README.md:799 — errors on unconvertible input
    # (ottl.IntLikeGetter); floats truncate like Go's int64(f)
    c = _one(args, ctx)
    out = c.try_cast("long")
    ctx.note_failure(c.isNotNull() & out.isNull(), "Int: unsupported value")
    return out


def _double_conv(args, ctx):
    c = _one(args, ctx)
    out = c.try_cast("double")
    ctx.note_failure(c.isNotNull() & out.isNull(), "Double: unsupported value")
    return out


def _log_conv(args, ctx):
    # Log(value) — reference errors on nil and on value <= 0
    # (func_log.go:38-45)
    c = _one(args, ctx)
    d = c.try_cast("double")
    ctx.note_failure(
        c.isNull() | d.isNull() | (d <= 0),
        "Log: expected number greater than zero",
    )
    return F.log(d)


def _typecheck(expect: str):
    """IsBool/IsInt/IsDouble/IsString (README.md:825-975, 1388): TYPE
    checks, not parseability checks — `IsInt("42")` is false in the
    reference because "42" is a string. Static types decide at compile
    time; type-erased map values (dynamic) fall back to a rendering
    check, the closest runtime reconstruction of the erased type tag."""
    dyn_check = {
        "bool": lambda c: c.isin("true", "false"),
        "int": lambda c: c.rlike("^-?\\d+$"),
        "float": lambda c: c.try_cast("double").isNotNull(),
        "string": lambda c: c.isNotNull(),
    }[expect]

    variant_kind_name = {
        "bool": "bool", "int": "int", "float": "double",
        "string": "string",
    }[expect]

    def fn(args, ctx):
        t = _stype(args[0], ctx)
        if t == "variant":
            from ..pdata import variant_kind

            return variant_kind(_raw_one(args, ctx)) == variant_kind_name
        if t == "dynamic":
            c = _one(args, ctx)
            return F.coalesce(dyn_check(c), F.lit(False))
        if expect == "float":
            return F.lit(t == "float")
        return F.lit(t == expect)

    return fn


def _is_map(args, ctx):
    t = _stype(args[0], ctx)
    if t == "variant":
        from ..pdata import variant_kind

        return variant_kind(_raw_one(args, ctx)) == "map"
    if t == "dynamic":
        c = _one(args, ctx)
        return F.coalesce(
            F.from_json(c, "map<string,string>").isNotNull(), F.lit(False)
        )
    return F.lit(t == "map")


def _is_list(args, ctx):
    t = _stype(args[0], ctx)
    if t == "variant":
        from ..pdata import variant_kind

        return variant_kind(_raw_one(args, ctx)) == "slice"
    if t == "dynamic":
        c = _one(args, ctx)
        return F.coalesce(
            F.from_json(c, "array<string>").isNotNull(), F.lit(False)
        )
    return F.lit(t == "array")


def _span_id(args, ctx):
    # SpanID(bytes) README.md:1388 — exactly 8 bytes; our ids are
    # lowercase hex-string columns, so the value is the 16-char hex
    b = literal_arg(args[0])
    if not isinstance(b, HexBytes) or len(b.hex) != 16:
        raise OTTLError("SpanID requires an 8-byte 0x literal")
    return F.lit(b.hex)


def _trace_id(args, ctx):
    # TraceID(bytes) README.md:1522 — exactly 16 bytes
    b = literal_arg(args[0])
    if not isinstance(b, HexBytes) or len(b.hex) != 32:
        raise OTTLError("TraceID requires a 16-byte 0x literal")
    return F.lit(b.hex)


def _unix(args, ctx):
    # Unix(seconds, Optional[nanoseconds]) README.md:1548 → time.Time
    sec = _one(args, ctx).cast("long")
    if len(args) > 1:
        from .compiler import compile_value

        nanos = compile_value(args[1], ctx).cast("long")
    else:
        nanos = F.lit(0).cast("long")
    return F.timestamp_micros(sec * F.lit(1_000_000)
                              + (nanos / F.lit(1000)).cast("long"))


# ---- UserAgent (README.md:1619) -------------------------------------------
# The reference delegates to uap-go (the public uap-core regex corpus).
# Vendoring all 1000+ regexes is out of scope; this covers the browser /
# mobile-browser / bot / tool families plus OS and device extraction the
# corpus itself highlights, entirely JVM-side (one chain of rlike +
# regexp_extract whens — codegen, no UDF), and falls back to uap's
# "Other" family for unmatched strings like the reference does.
# Priority = list order (first match wins on overlap, uap's rule order).

_UA_RULES = [
    # (family, detect regex, version-capture regex)
    # -- bots / crawlers (uap-core spiders block) --
    ("Googlebot", r"Googlebot", r"Googlebot/([0-9.]+)"),
    ("Bingbot", r"[Bb]ingbot", r"bingbot/([0-9.]+)"),
    ("DuckDuckBot", r"DuckDuckBot", r"DuckDuckBot[-/]([0-9.]+)"),
    ("YandexBot", r"YandexBot", r"YandexBot/([0-9.]+)"),
    ("Applebot", r"Applebot", r"Applebot/([0-9.]+)"),
    ("AhrefsBot", r"AhrefsBot", r"AhrefsBot/([0-9.]+)"),
    ("SemrushBot", r"SemrushBot", r"SemrushBot/([0-9.]+)"),
    ("Slackbot", r"Slackbot", r"Slackbot[ /]([0-9.]+)"),
    ("Twitterbot", r"Twitterbot", r"Twitterbot/([0-9.]+)"),
    ("FacebookBot", r"facebookexternalhit", r"facebookexternalhit/([0-9.]+)"),
    ("Baiduspider", r"Baiduspider", r"Baiduspider[-/]?([0-9.]*)"),
    ("Sogou web spider", r"Sogou web spider",
     r"Sogou web spider/([0-9.]+)"),
    ("PetalBot", r"PetalBot", r"PetalBot[ /]?([0-9.]*)"),
    ("Bytespider", r"Bytespider", r"Bytespider[ /]?([0-9.]*)"),
    ("GPTBot", r"GPTBot", r"GPTBot/([0-9.]+)"),
    ("CCBot", r"CCBot", r"CCBot/([0-9.]+)"),
    ("MJ12bot", r"MJ12bot", r"MJ12bot/v?([0-9.]+)"),
    ("DotBot", r"DotBot", r"DotBot/([0-9.]+)"),
    ("Exabot", r"Exabot", r"Exabot/([0-9.]+)"),
    ("LinkedInBot", r"LinkedInBot", r"LinkedInBot/([0-9.]+)"),
    ("Discordbot", r"Discordbot", r"Discordbot/([0-9.]+)"),
    ("TelegramBot", r"TelegramBot", r"TelegramBot()"),
    ("Pinterestbot", r"Pinterest(?:bot)?/", r"Pinterest(?:bot)?/([0-9.]+)"),
    ("WhatsApp", r"WhatsApp/", r"WhatsApp/([0-9.]+)"),
    ("AdsBot-Google", r"AdsBot-Google", r"AdsBot-Google[^0-9]*([0-9.]*)"),
    ("Mediapartners-Google", r"Mediapartners-Google",
     r"Mediapartners-Google/?([0-9.]*)"),
    ("FeedFetcher-Google", r"FeedFetcher-Google",
     r"FeedFetcher-Google;?\s*/?([0-9.]*)"),
    ("Google-Read-Aloud", r"Google-Read-Aloud", r"Google-Read-Aloud()"),
    ("APIs-Google", r"APIs-Google", r"APIs-Google()"),
    ("Storebot-Google", r"Storebot-Google", r"Storebot-Google/?([0-9.]*)"),
    ("Google-InspectionTool", r"Google-InspectionTool",
     r"Google-InspectionTool/([0-9.]+)"),
    ("GoogleOther", r"GoogleOther", r"GoogleOther()"),
    ("SeznamBot", r"SeznamBot", r"SeznamBot/([0-9.]+)"),
    ("archive.org_bot", r"archive\.org_bot", r"archive\.org_bot()"),
    ("ia_archiver", r"ia_archiver", r"ia_archiver()"),
    ("MojeekBot", r"MojeekBot", r"MojeekBot/([0-9.]+)"),
    ("Qwantify", r"Qwantify", r"Qwantify/([0-9.]+)"),
    ("Amazonbot", r"Amazonbot", r"Amazonbot/([0-9.]+)"),
    ("ClaudeBot", r"ClaudeBot", r"ClaudeBot/([0-9.]+)"),
    ("PerplexityBot", r"PerplexityBot", r"PerplexityBot/([0-9.]+)"),
    ("OAI-SearchBot", r"OAI-SearchBot", r"OAI-SearchBot/([0-9.]+)"),
    ("meta-externalagent", r"meta-externalagent",
     r"meta-externalagent/([0-9.]+)"),
    ("YisouSpider", r"YisouSpider", r"YisouSpider/?([0-9.]*)"),
    ("360Spider", r"360Spider|HaosouSpider", r"360Spider()"),
    ("BLEXBot", r"BLEXBot", r"BLEXBot/([0-9.]+)"),
    ("rogerbot", r"rogerbot", r"rogerbot/([0-9.]+)"),
    ("serpstatbot", r"serpstatbot", r"serpstatbot/([0-9.]+)"),
    ("DataForSeoBot", r"DataForSeoBot", r"DataForSeoBot/([0-9.]+)"),
    ("UptimeRobot", r"UptimeRobot", r"UptimeRobot/([0-9.]+)"),
    ("PingdomBot", r"Pingdom\.com_bot", r"Pingdom\.com_bot_version_([0-9.]+)"),
    ("StatusCake", r"StatusCake", r"StatusCake()"),
    ("Site24x7", r"Site24x7", r"Site24x7()"),
    ("coccocbot", r"coccocbot", r"coccocbot-\w+/([0-9.]+)"),
    ("Yeti", r"\bYeti/", r"Yeti/([0-9.]+)"),
    ("Daumoa", r"Daum[/ ]", r"Daum/([0-9.]+)"),
    # -- in-app webviews (uap keeps the app as the family) --
    ("Facebook", r"FBAV/|FBAN/", r"FBAV/([0-9.]+)"),
    ("Instagram", r"Instagram", r"Instagram ([0-9.]+)"),
    ("WeChat", r"MicroMessenger/", r"MicroMessenger/([0-9.]+)"),
    ("QQ Browser Mobile", r"MQQBrowser/", r"MQQBrowser/([0-9.]+)"),
    ("QQ Browser", r"QQBrowser/", r"QQBrowser/([0-9.]+)"),
    ("LINE", r"\bLine/", r"Line/([0-9.]+)"),
    ("Snapchat", r"Snapchat/", r"Snapchat/([0-9.]+)"),
    ("Google", r"\bGSA/", r"GSA/([0-9.]+)"),
    # -- programmatic clients --
    ("curl", r"^curl/", r"^curl/([0-9.]+)"),
    ("Wget", r"^Wget/", r"^Wget/([0-9.]+)"),
    ("Python Requests", r"^python-requests/", r"^python-requests/([0-9.]+)"),
    ("Python-urllib", r"^Python-urllib/", r"^Python-urllib/([0-9.]+)"),
    ("Go-http-client", r"^Go-http-client/", r"^Go-http-client/([0-9.]+)"),
    ("Apache-HttpClient", r"^Apache-HttpClient/",
     r"^Apache-HttpClient/([0-9.]+)"),
    ("okhttp", r"^okhttp/", r"^okhttp/([0-9.]+)"),
    ("Java", r"^Java/", r"^Java/([0-9._]+)"),
    ("axios", r"^axios/", r"^axios/([0-9.]+)"),
    ("node-fetch", r"^node-fetch/", r"^node-fetch/([0-9.]+)"),
    ("PostmanRuntime", r"^PostmanRuntime/", r"^PostmanRuntime/([0-9.]+)"),
    ("aiohttp", r"aiohttp/", r"aiohttp/([0-9.]+)"),
    ("httpx", r"^python-httpx/", r"^python-httpx/([0-9.]+)"),
    ("libwww-perl", r"^libwww-perl/", r"^libwww-perl/([0-9.]+)"),
    ("PHP", r"^PHP/", r"^PHP/([0-9.]+)"),
    # uap-core family name; unanchored so a prefixed GuzzleHttp/ matches
    ("Guzzle", r"GuzzleHttp/", r"GuzzleHttp/([0-9.]+)"),
    ("WordPress", r"^WordPress/", r"^WordPress/([0-9.]+)"),
    ("Dart", r"^Dart/", r"^Dart/([0-9.]+)"),
    ("Scrapy", r"^Scrapy/", r"^Scrapy/([0-9.]+)"),
    ("Faraday", r"^Faraday v", r"^Faraday v([0-9.]+)"),
    ("rest-client", r"^rest-client/", r"^rest-client/([0-9.]+)"),
    ("Ruby", r"^Ruby\b", r"^Ruby/?([0-9.]*)"),
    ("HTTPie", r"^HTTPie/", r"^HTTPie/([0-9.]+)"),
    ("node-superagent", r"^node-superagent/",
     r"^node-superagent/([0-9.]+)"),
    ("Deno", r"^Deno/", r"^Deno/([0-9.]+)"),
    ("Bun", r"^Bun/", r"^Bun/([0-9.]+)"),
    ("reqwest", r"^reqwest/", r"^reqwest/([0-9.]+)"),
    ("Apache-HttpAsyncClient", r"^Apache-HttpAsyncClient/",
     r"^Apache-HttpAsyncClient/([0-9.]+)"),
    ("Jersey", r"^Jersey/", r"^Jersey/([0-9.]+)"),
    ("Google-HTTP-Java-Client", r"^Google-HTTP-Java-Client/",
     r"^Google-HTTP-Java-Client/([0-9.]+)"),
    ("insomnia", r"^insomnia/", r"^insomnia/([0-9.]+)"),
    # -- embedded / headless --
    ("HeadlessChrome", r"HeadlessChrome/", r"HeadlessChrome/([0-9.]+)"),
    ("Electron", r"Electron/", r"Electron/([0-9.]+)"),
    ("PhantomJS", r"PhantomJS/", r"PhantomJS/([0-9.]+)"),
    # -- browsers (desktop + mobile variants; uap family names; specific
    # Chromium/WebKit derivatives must precede the generic Chrome/Safari
    # rules — list order is uap rule priority) --
    ("Vivaldi", r"Vivaldi/", r"Vivaldi/([0-9.]+)"),
    ("Whale", r"Whale/", r"Whale/([0-9.]+)"),
    ("Coc Coc", r"coc_coc_browser/", r"coc_coc_browser/([0-9.]+)"),
    ("Firefox Focus", r"\bFocus/", r"Focus/([0-9.]+)"),
    ("DuckDuckGo Mobile", r"DuckDuckGo/", r"DuckDuckGo/([0-9.]+)"),
    ("Avast Secure Browser", r"Avast/", r"Avast/([0-9.]+)"),
    ("AVG Secure Browser", r"AVG/", r"AVG/([0-9.]+)"),
    ("Opera Touch", r"OPT/", r"OPT/([0-9.]+)"),
    ("2345Explorer", r"2345Explorer", r"2345Explorer[ /]?v?([0-9.]*)"),
    ("Dolphin", r"Dolphin[ /]", r"Dolphin[ /]?(?:\(INT\))?[ /]?([0-9.]*)"),
    ("Quark", r"\bQuark/", r"Quark/([0-9.]+)"),
    ("VivoBrowser", r"VivoBrowser/", r"VivoBrowser/([0-9.]+)"),
    ("HeyTapBrowser", r"HeyTapBrowser/", r"HeyTapBrowser/([0-9.]+)"),
    ("OppoBrowser", r"OppoBrowser/", r"OppoBrowser/([0-9.]+)"),
    ("Mint Browser", r"Mint Browser/", r"Mint Browser/([0-9.]+)"),
    ("Ecosia", r"Ecosia", r"Ecosia [a-z]+@([0-9.]+)"),
    ("Iron", r"\bIron[ /]", r"Iron[ /]([0-9.]+)"),
    ("Thunderbird", r"Thunderbird/", r"Thunderbird/([0-9.]+)"),
    ("K-Meleon", r"K-Meleon/", r"K-Meleon/([0-9.]+)"),
    ("Basilisk", r"Basilisk/", r"Basilisk/([0-9.]+)"),
    ("Otter", r"Otter/", r"Otter/([0-9.]+)"),
    ("Iridium", r"Iridium/", r"Iridium/([0-9.]+)"),
    ("NetFront", r"NetFront/", r"NetFront/([0-9.]+)"),
    ("Links", r"^Links ", r"^Links \(([0-9.]+)"),
    ("ELinks", r"^ELinks", r"^ELinks[/ ]?\(?([0-9.]*)"),
    ("Maxthon", r"Maxthon[ /]", r"Maxthon[ /]?([0-9.]*)"),
    ("Sleipnir", r"Sleipnir/", r"Sleipnir/([0-9.]+)"),
    ("Puffin", r"Puffin/", r"Puffin/([0-9.]+)"),
    ("Baidu Browser", r"BIDUBrowser", r"BIDUBrowser[ /]([0-9.]+)"),
    ("Sogou Explorer", r"MetaSr", r"MetaSr ([0-9.]+)"),
    ("MiuiBrowser", r"MiuiBrowser/", r"MiuiBrowser/([0-9.]+)"),
    ("HuaweiBrowser", r"HuaweiBrowser/", r"HuaweiBrowser/([0-9.]+)"),
    ("Amazon Silk", r"\bSilk/", r"Silk/([0-9.]+)"),
    ("Opera Mini", r"Opera Mini", r"Opera Mini/([0-9.]+)"),
    ("SeaMonkey", r"SeaMonkey/", r"SeaMonkey/([0-9.]+)"),
    ("Pale Moon", r"PaleMoon/", r"PaleMoon/([0-9.]+)"),
    ("Waterfox", r"Waterfox/", r"Waterfox/([0-9.]+)"),
    ("Konqueror", r"[Kk]onqueror/", r"[Kk]onqueror/([0-9.]+)"),
    ("Epiphany", r"Epiphany/", r"Epiphany/([0-9.]+)"),
    ("Midori", r"Midori/", r"Midori/([0-9.]+)"),
    ("Falkon", r"Falkon/", r"Falkon/([0-9.]+)"),
    ("Lynx", r"^Lynx/", r"^Lynx/([0-9.]+)"),
    ("w3m", r"^w3m/", r"^w3m/([0-9.]+)"),
    ("Edge Mobile", r"EdgA/", r"EdgA/([0-9.]+)"),
    ("Edge", r"Edg(e|iOS)?/", r"Edg(?:e|iOS)?/([0-9.]+)"),
    ("Opera Mobile", r"OPR/[0-9.]+.*Mobile|Mobile.*OPR/|Opera Mobi",
     r"(?:OPR|Version)/([0-9.]+)"),
    ("Opera", r"OPR/|^Opera/", r"(?:OPR|Version|Opera)/([0-9.]+)"),
    ("Samsung Internet", r"SamsungBrowser/", r"SamsungBrowser/([0-9.]+)"),
    ("Yandex Browser", r"YaBrowser/", r"YaBrowser/([0-9.]+)"),
    ("UC Browser", r"UCBrowser/", r"UCBrowser/([0-9.]+)"),
    ("Chrome Mobile iOS", r"CriOS/", r"CriOS/([0-9.]+)"),
    ("Firefox iOS", r"FxiOS/", r"FxiOS/([0-9.]+)"),
    ("Chrome Mobile WebView", r"; wv\).*Chrome/", r"Chrome/([0-9.]+)"),
    ("Chrome Mobile", r"Chrome/[0-9.]+ Mobile", r"Chrome/([0-9.]+)"),
    ("Chrome", r"Chrome/", r"Chrome/([0-9.]+)"),
    ("Firefox Mobile", r"Firefox/[0-9.]+.*(Mobile|Tablet)|Mobile.*Firefox/",
     r"Firefox/([0-9.]+)"),
    ("Firefox", r"Firefox/", r"Firefox/([0-9.]+)"),
    ("IE Mobile", r"IEMobile", r"IEMobile[ /]([0-9.]+)"),
    ("IE", r"MSIE [0-9.]+|Trident/.*rv:", r"(?:MSIE |rv:)([0-9.]+)"),
    ("Mobile Safari", r"Version/[0-9.]+.*Mobile.*Safari/",
     r"Version/([0-9.]+)"),
    ("Safari", r"Version/[0-9.]+.*Safari/", r"Version/([0-9.]+)"),
]

# OS families (uap-core os_parsers essentials). (name, detect,
# version-capture, fixed-version) — fixed-version used when the token
# encodes the marketing version (Windows NT mapping).
_UA_OS_RULES = [
    ("Windows Phone", r"Windows Phone(?: OS)? [0-9.]+",
     r"Windows Phone(?: OS)? ([0-9.]+)", None),
    ("Windows", r"Windows NT 10\.0", None, "10"),
    ("Windows", r"Windows NT 6\.3", None, "8.1"),
    ("Windows", r"Windows NT 6\.2", None, "8"),
    ("Windows", r"Windows NT 6\.1", None, "7"),
    ("Windows", r"Windows NT 6\.0", None, "Vista"),
    ("Windows", r"Windows NT 5\.1", None, "XP"),
    ("Windows", r"Windows NT 5\.0", None, "2000"),
    ("Windows", r"Windows 98", None, "98"),
    ("Windows", r"Windows CE", None, "CE"),
    ("Chrome OS", r"CrOS ", r"CrOS [^ ]+ ([0-9.]+)", None),
    ("KaiOS", r"KAIOS/", r"KAIOS/([0-9.]+)", None),
    ("Tizen", r"Tizen[ /]", r"Tizen[ /]([0-9.]+)", None),
    ("webOS", r"Web0?OS[ /]|hpwOS", r"(?:webOS|Web0S|hpwOS)[ /]([0-9.]+)",
     None),
    ("HarmonyOS", r"HarmonyOS", r"HarmonyOS[ ;]*([0-9.]*)", None),
    ("Android", r"Android [0-9.]+", r"Android ([0-9.]+)", None),
    ("Android", r"Android", None, None),
    ("iOS", r"(iPhone|CPU) OS [0-9_]+",
     r"(?:iPhone|CPU) OS ([0-9_]+)", None),
    ("ATV OS X", r"Apple TV", None, None),
    ("Mac OS X", r"Mac OS X 1[0-9][_.0-9]*",
     r"Mac OS X (1[0-9][_.0-9]*)", None),
    ("BlackBerry OS", r"BlackBerry|BB10", r"Version/([0-9.]+)", None),
    ("Firefox OS", r"\(Mobile; rv:[0-9.]+\) Gecko/[0-9.]+ Firefox/",
     None, None),
    ("PlayStation", r"PlayStation \d", r"PlayStation \d[^;)]*? ([0-9.]+)",
     None),
    ("Nintendo", r"Nintendo", None, None),
    ("Roku", r"Roku/", r"Roku/DVP-([0-9.]+)", None),
    ("FreeBSD", r"FreeBSD", None, None),
    ("OpenBSD", r"OpenBSD", None, None),
    ("NetBSD", r"NetBSD", None, None),
    ("Fedora", r"Fedora", None, None),
    ("Ubuntu", r"Ubuntu", None, None),
    ("Debian", r"Debian", None, None),
    ("Linux", r"Linux", None, None),
]

# Device families: specific hardware first, Android model capture, else
# the uap desktop convention ("Mac", "Other"). Crawlers map to "Spider"
# (uap-core device spiders block).
_UA_DEVICE_RULES = [
    ("Spider",
     r"[Bb]ot\b|bot/|[Ss]pider|[Cc]rawler|facebookexternalhit|Slurp"
     r"|Mediapartners|APIs-Google|Google-Read-Aloud|GoogleOther"
     r"|FeedFetcher|ia_archiver|Qwantify|\bYeti/|\bDaum/|StatusCake"
     r"|Site24x7|UptimeRobot|Pingdom|Google-InspectionTool"),
    ("Kindle", r"Kindle|\bSilk/"),
    ("Apple TV", r"Apple TV"),
    ("PlayStation", r"PlayStation \d"),
    ("Nintendo", r"Nintendo"),
    ("XBOX", r"Xbox"),
    ("Roku", r"Roku/"),
    ("iPod", r"iPod"),
    ("iPhone", r"iPhone"),
    ("iPad", r"iPad"),
    ("Mac", r"Macintosh"),
]
_ANDROID_MODEL_RX = r"; ([^;)]+) Build/"


def _user_agent(args, ctx):
    c = _one(args, ctx).cast("string")
    name = F.lit("Other")
    ver = F.lit(None).cast("string")
    for family, detect, vrx in reversed(_UA_RULES):
        hit = c.rlike(detect)
        name = F.when(hit, F.lit(family)).otherwise(name)
        ver = F.when(
            hit, F.nullif(F.regexp_extract(c, vrx, 1), F.lit(""))
        ).otherwise(ver)

    os_name = F.lit("Other")
    os_ver = F.lit(None).cast("string")
    for fam, detect, vrx, fixed in reversed(_UA_OS_RULES):
        hit = c.rlike(detect)
        os_name = F.when(hit, F.lit(fam)).otherwise(os_name)
        if fixed is not None:
            v = F.lit(fixed)
        elif vrx is not None:
            # uap renders iOS/macOS underscore versions dotted
            v = F.nullif(
                F.replace(
                    F.regexp_extract(c, vrx, 1), F.lit("_"), F.lit(".")
                ),
                F.lit(""),
            )
        else:
            v = F.lit(None).cast("string")
        os_ver = F.when(hit, v).otherwise(os_ver)

    android_model = F.nullif(
        F.regexp_extract(c, _ANDROID_MODEL_RX, 1), F.lit("")
    )
    device = F.when(
        c.rlike(r"Android"), F.coalesce(android_model, F.lit("Other"))
    ).otherwise(F.lit("Other"))
    for fam, detect in reversed(_UA_DEVICE_RULES):
        device = F.when(c.rlike(detect), F.lit(fam)).otherwise(device)

    m = F.create_map(
        F.lit("user_agent.name"), name,
        F.lit("user_agent.version"), ver,
        F.lit("user_agent.original"), c,
        F.lit("os.name"), os_name,
        F.lit("os.version"), os_ver,
        F.lit("device.name"), device,
    )
    return F.map_filter(m, lambda _, v: v.isNotNull())


# ---- ParseXML (README.md:1218) --------------------------------------------


def _xml_to_dict(el):
    out = {"tag": el.tag.strip()}
    if el.attrib:
        out["attributes"] = {k: str(v) for k, v in el.attrib.items()}
    # rule 1: all character data trimmed, joined → content
    texts = [el.text or ""] + [(ch.tail or "") for ch in el]
    content = "".join(t.strip() for t in texts)
    if content:
        out["content"] = content
    if len(el):
        out["children"] = [_xml_to_dict(ch) for ch in el]
    return out


def _parse_xml_series(s):
    import xml.etree.ElementTree as ET

    def parse(v):
        if v is None:
            return None
        try:
            return json.dumps(_xml_to_dict(ET.fromstring(v)))
        except (ET.ParseError, RecursionError):
            return None

    return s.map(parse)


_FNV_UDF = None


def _fnv64a():
    """Lazily-built Arrow-batched FNV-1a 64 UDF (cached: pandas_udf
    construction is not free and converters compile per statement)."""
    global _FNV_UDF
    if _FNV_UDF is None:
        from pyspark.sql.pandas.functions import pandas_udf

        def _series(s):
            mask = (1 << 64) - 1

            def h(x):
                if x is None:
                    return None
                acc = 0xCBF29CE484222325
                for b in x.encode("utf-8"):
                    acc = ((acc ^ b) * 0x100000001B3) & mask
                return acc - (1 << 64) if acc >= (1 << 63) else acc

            return s.map(h)

        _FNV_UDF = pandas_udf(_series, "long")
    return _FNV_UDF


def _parse_xml(args, ctx):
    """ParseXML(target) — tag/attributes/content/children tree
    (README.md:1218-1260). Rules 1-5 implemented in _xml_to_dict with
    stdlib ElementTree inside an Arrow-batched pandas UDF (comments/PIs
    are dropped by ElementTree itself), then lifted to VARIANT via
    parse_json — UNBOUNDED depth, matching the reference's pcommon.Map
    result (round 3's static-struct form was capped at depth 6)."""
    from pyspark.sql.pandas.functions import pandas_udf

    c = _one(args, ctx)
    udf = pandas_udf(_parse_xml_series, "string")
    parsed = F.parse_json(udf(c.cast("string")))
    ctx.note_failure(c.isNotNull() & parsed.isNull(),
                     "ParseXML: invalid XML document")
    return parsed


# ---- time -----------------------------------------------------------------

_GO_DUR_RX = re.compile(r"(-?\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")
_DUR_SECS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3,
             "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_go_duration(s: str) -> float:
    """Go time.ParseDuration subset → seconds (float)."""
    pos, total = 0, 0.0
    for m in _GO_DUR_RX.finditer(s):
        if m.start() != pos:
            raise OTTLError(f"bad duration {s!r}")
        total += float(m.group(1)) * _DUR_SECS[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise OTTLError(f"bad duration {s!r}")
    return total


def _duration(args, ctx):
    # Duration("1h30m") → seconds as double (README.md:583); downstream
    # Hours()/Minutes()/... divide accordingly
    return F.lit(parse_go_duration(literal_arg(args[0])))


def _dur_conv(divisor: float, integral: bool = False):
    """Duration seconds → unit. Go semantics: Duration.Hours/Minutes/
    Seconds return float64, but Milliseconds/Microseconds/Nanoseconds
    return int64 via integer division — i.e. TRUNCATED toward zero
    (Milliseconds(Duration("1500us")) == 1, not 2). Seconds are lifted
    to exact nanos first (round absorbs 1e-3/1e-6 float artifacts), then
    divided and truncated by the long cast."""
    def fn(args, ctx):
        secs = _one(args, ctx)
        if not integral:
            return secs / F.lit(divisor)
        nanos = F.round(secs.cast("double") * F.lit(1e9))
        return (nanos / F.lit(divisor * 1e9)).cast("long")

    return fn


def _time(args, ctx):
    from ..operators.parse import _strptime_to_spark

    c = _one(args, ctx)
    fmt = _strptime_to_spark(literal_arg(args[1]))
    out = F.try_to_timestamp(c, F.lit(fmt))
    ctx.note_failure(c.isNotNull() & out.isNull(),
                     f"Time: cannot parse with layout {fmt!r}")
    return out


_TRUNC_UNIT = {3600.0: "hour", 60.0: "minute", 1.0: "second",
               86400.0: "day"}


def _truncate_time(args, ctx):
    c = _one(args, ctx)
    # the reference signature is TruncateTime(time, Duration) — accept
    # both a Duration(...) call (e2e corpus form) and a bare Go-duration
    # string literal ("1h", transformprocessor config shorthand)
    dur_node = args[1]
    if isinstance(dur_node, Call) and dur_node.name == "Duration":
        dur_node = dur_node.args[0]
    secs = parse_go_duration(literal_arg(dur_node))
    unit = _TRUNC_UNIT.get(secs)
    if unit:
        return F.date_trunc(unit, c)
    # arbitrary bucket: floor(epoch/secs)*secs
    e = c.cast("double")
    return F.timestamp_seconds(F.floor(e / secs) * int(secs))


def _parse_key_value(args, ctx):
    """ParseKeyValue(target, Optional[delimiter], Optional[pair_delimiter])
    (README.md:1161; func_parse_key_value.go via parseutils): double-
    quoted values may contain BOTH delimiters and unquote on output.
    One JVM pass: pair-wise regexp_extract_all, then key/value split and
    quote strip per element — no Python boundary."""
    import re as _re

    from ..operators.parse import last_wins_map

    c = _one(args, ctx)
    d1 = str(literal_arg(args[1])) if len(args) > 1 else "="
    d2 = str(literal_arg(args[2])) if len(args) > 2 else " "
    e1, e2 = _re.escape(d1), _re.escape(d2)
    # a key runs up to the first delimiter of either kind and an unquoted
    # value up to the next pair delimiter; lookaheads, not character
    # classes, so a multi-character delimiter matches only as a whole
    key = f"(?:(?!{e1}|{e2}).)+"
    rx = f'(?s)(?:^|{e2})({key}){e1}("[^"]*"|(?:(?!{e2}).)*)'
    pairs = F.regexp_extract_all(c, F.lit(rx), F.lit(0))

    def entry(p):
        p2 = F.regexp_replace(p, f"^{e2}", "")
        k = F.substring_index(p2, d1, 1)
        v = F.substring(p2, F.length(k) + (len(d1) + 1), F.length(p2))
        v = F.when(
            v.rlike('^".*"$'), F.substring(v, F.lit(2), F.length(v) - 2)
        ).otherwise(v)
        return F.struct(k.alias("key"), v.alias("value"))

    # a repeated key keeps its last value, as parseutils' map assignment
    return last_wins_map(F.transform(pairs, entry))


def _hex(args, ctx):
    """Hex(value) — Go %x of the value's byte encoding (func_hex.go):
    bool → one byte 00/01, int64 → 8-byte big-endian, float64 → the
    IEEE-754 bit pattern, string → its raw bytes. Dispatch is on the
    STATIC OTTL type (a numeric-looking string still hexes its bytes).
    Runtime-typed (variant/dynamic) inputs fall back to int-then-bytes,
    and non-literal float columns hex their integral value (no JVM
    builtin exposes raw double bits) — both documented deviations."""
    node = args[0]
    t = _stype(node, ctx)
    if t == "bool":
        if isinstance(node, Literal):
            return F.lit("01" if node.value else "00")
        return F.when(_raw_one(args, ctx), F.lit("01")).otherwise(F.lit("00"))
    if t == "float" and isinstance(node, Literal):
        import struct as _struct

        return F.lit(_struct.pack(">d", float(node.value)).hex())
    c = _one(args, ctx)
    if t in ("int", "float"):
        return F.lpad(F.lower(F.hex(c.try_cast("long"))), 16, "0")
    if t == "string":
        return F.lower(F.hex(c))
    return F.when(
        c.try_cast("long").isNotNull(),
        F.lpad(F.lower(F.hex(c.try_cast("long"))), 16, "0"),
    ).otherwise(F.lower(F.hex(c)))


def _sort(args, ctx):
    """Sort(target, order) — func_sort.go: homogeneous numeric slices
    sort numerically (int+double widen to double); mixed-kind slices
    fall back to ordering by each element's string rendering. Deviation:
    Spark arrays are homogeneous, so a mixed literal list is coerced to
    STRING elements (order identical to the reference, element types
    erased to their renderings)."""
    from .parser import ListExpr as _ListExpr

    asc = len(args) < 2 or literal_arg(args[1]) != "desc"
    node = args[0]
    if isinstance(node, _ListExpr):
        types = {_stype(i, ctx) for i in node.items}
        if len(types) > 1 and not types <= {"int", "float"}:
            from .compiler import compile_value

            arr = F.array(
                *[compile_value(i, ctx).cast("string") for i in node.items]
            )
            return F.sort_array(arr, asc=asc)
    return F.sort_array(_one(args, ctx), asc=asc)


def _decode(args, ctx):
    # Decode(value, encoding) README.md:487: "base64" → base64 decode;
    # otherwise a charset decode of the byte content
    enc = str(literal_arg(args[1])).lower().replace("-", "")
    c = _one(args, ctx)
    if enc == "base64":
        return F.unbase64(c).cast("string")
    return F.decode(c.cast("binary"), str(literal_arg(args[1])))


def _parse_csv(args, ctx):
    """ParseCSV(target, headers, delimiter=",", headerDelimiter=delim,
    mode="strict") README.md:1132 — header-keyed map via from_csv (proper
    quote handling). Bare ParseCSV(target) keeps the round-1 split-to-
    array behavior (used as an array source by Len/IsList/Sort)."""
    c = _one(args, ctx)
    kw = {k: literal_arg(v) for k, v in getattr(args, "kwargs", {}).items()}
    pos = args[1:] if len(args) > 1 else []
    if not pos and not kw:
        return F.split(c, ",")
    headers = literal_arg(pos[0]) if pos else kw["headers"]
    delim = (literal_arg(pos[1]) if len(pos) > 1
             else kw.get("delimiter", ","))
    hdelim = (literal_arg(pos[2]) if len(pos) > 2
              else kw.get("headerDelimiter", delim))
    mode = (literal_arg(pos[3]) if len(pos) > 3 else kw.get("mode", "strict"))
    if mode not in ("strict", "lazyQuotes", "ignoreQuotes"):
        raise OTTLError(f"ParseCSV mode {mode!r}")
    hdrs = str(headers).split(str(hdelim))
    schema = ", ".join(f"`_c{i}` string" for i in range(len(hdrs)))
    opts = {"sep": str(delim)}
    if mode == "ignoreQuotes":
        opts["quote"] = "\u0000"  # NUL disables quoting
    parsed = F.from_csv(c, schema, opts)
    return F.map_from_arrays(
        F.array(*[F.lit(h) for h in hdrs]),
        F.array(*[parsed[f"_c{i}"] for i in range(len(hdrs))]),
    )


def _parse_json(args, ctx):
    # ParseJSON → typed VARIANT (objects → maps, arrays → slices, values
    # keep native kinds — func_parse_json.go into pcommon). Deviation:
    # JSON integer tokens stay int64 here; Go's encoding/json widens
    # every number to float64 (so the reference stores 1 as 1.0).
    c = _one(args, ctx)
    out = F.try_parse_json(c)
    ctx.note_failure(c.isNotNull() & out.isNull(), "ParseJSON: invalid JSON")
    return out


# ---- registry -------------------------------------------------------------

CONVERTERS = {
    # encoding / hashing
    "Base64Decode": lambda a, c: F.unbase64(_one(a, c)).cast("string"),
    "Decode": _decode,
    "Hex": _hex,
    "MD5": lambda a, c: F.md5(_one(a, c)),
    "SHA1": lambda a, c: F.sha1(_one(a, c)),
    "SHA256": lambda a, c: F.sha2(_one(a, c), 256),
    "SHA512": lambda a, c: F.sha2(_one(a, c), 512),
    # exact FNV-1a 64 (func_fnv.go: hash/fnv New64a over UTF-8 bytes,
    # returned as signed int64). Needs mod-2^64 wraparound, which ANSI-mode
    # long arithmetic forbids JVM-side → Arrow-batched pandas UDF.
    "FNV": lambda a, c: _fnv64a()(_one(a, c).cast("string")),
    # strings
    "Concat": _concat,
    "ConvertCase": _convert_case,
    "Format": _format,
    "Len": _len,
    "Log": _log_conv,
    "Split": _split,
    "Substring": _substring,
    "Trim": lambda a, c: F.trim(_one(a, c)),
    # type conversion / checks
    "Double": _double_conv,
    "Int": _int_conv,
    # String: pcommon AsString — slices render as compact JSON
    # ("[1,2,3]", func_string.go → Value.AsString), scalars as their
    # text form (Spark's array cast would render "[1, 2, 3]")
    "String": lambda a, c: (
        F.to_json(_raw_one(a, c))
        if _stype(a[0], c) == "array"
        else _one(a, c).cast("string")
    ),
    "IsBool": _typecheck("bool"),
    "IsDouble": _typecheck("float"),
    "IsInt": _typecheck("int"),
    "IsString": _typecheck("string"),
    "IsMap": _is_map,
    "IsList": _is_list,
    "IsMatch": lambda a, c: _one(a, c).rlike(literal_arg(a[1])),
    # span context (ottlfuncs/func_is_root_span.go): root = parent span
    # id absent/empty (ids are hex-string columns in this engine)
    "IsRootSpan": lambda a, c: F.coalesce(
        F.col(c.path_map.get("parent_span_id", "parent_span_id")).isin(
            "", "0000000000000000"
        ),
        F.lit(True),
    ),
    # ids
    "SpanID": _span_id,
    "TraceID": _trace_id,
    # parsing
    "ExtractPatterns": _extract_patterns,
    "ExtractGrokPatterns": _extract_grok,
    "ParseJSON": _parse_json,
    "ParseXML": _parse_xml,
    "ParseKeyValue": _parse_key_value,
    "ParseCSV": _parse_csv,
    "UserAgent": _user_agent,
    "URL": lambda a, c: F.struct(
        F.parse_url(_one(a, c), F.lit("PROTOCOL")).alias("scheme"),
        F.parse_url(_one(a, c), F.lit("HOST")).alias("domain"),
        F.parse_url(_one(a, c), F.lit("PATH")).alias("path"),
        F.parse_url(_one(a, c), F.lit("QUERY")).alias("query"),
    ),
    # arrays
    "Sort": _sort,
    # time
    "Day": lambda a, c: F.dayofmonth(_one(a, c)),
    "Hour": lambda a, c: F.hour(_one(a, c)),
    "Minute": lambda a, c: F.minute(_one(a, c)),
    "Month": lambda a, c: F.month(_one(a, c)),
    "Year": lambda a, c: F.year(_one(a, c)),
    "Duration": _duration,
    "Hours": _dur_conv(3600.0),
    "Minutes": _dur_conv(60.0),
    "Seconds": _dur_conv(1.0),
    "Milliseconds": _dur_conv(1e-3, integral=True),
    "Microseconds": _dur_conv(1e-6, integral=True),
    "Nanoseconds": _dur_conv(1e-9, integral=True),
    "Time": _time,
    "TruncateTime": _truncate_time,
    "Unix": _unix,
    "UnixSeconds": lambda a, c: F.unix_seconds(_one(a, c)),
    "UnixMilli": lambda a, c: F.unix_millis(_one(a, c)),
    "UnixMicro": lambda a, c: F.unix_micros(_one(a, c)),
    "UnixNano": lambda a, c: F.unix_micros(_one(a, c)) * 1000,
    # nondeterministic (banned in oracle-checked paths, provided for parity)
    "Now": lambda a, c: F.current_timestamp(),
    "UUID": lambda a, c: F.expr("uuid()"),
}

# static OTTL return type per converter (drives the compare.go matrix and
# Len/IsMap/IsList dispatch in the compiler). Values use the compiler's
# type constants as plain strings to avoid an import cycle.
CONVERTER_TYPES = {
    "Base64Decode": "string", "Decode": "string", "Hex": "string",
    "MD5": "string", "SHA1": "string", "SHA256": "string", "SHA512": "string",
    "FNV": "int",
    "Concat": "string", "ConvertCase": "string", "Format": "string",
    "Len": "int", "Log": "float", "Split": "array", "Substring": "string",
    "Trim": "string",
    "Double": "float", "Int": "int", "String": "string",
    "IsBool": "bool", "IsDouble": "bool", "IsInt": "bool",
    "IsString": "bool", "IsMap": "bool", "IsList": "bool", "IsMatch": "bool",
    "IsRootSpan": "bool",
    "SpanID": "bytes", "TraceID": "bytes",
    "ExtractPatterns": "map", "ExtractGrokPatterns": "map",
    "ParseJSON": "variant", "ParseXML": "variant", "ParseKeyValue": "map",
    "ParseCSV": "array", "UserAgent": "map", "URL": "map",
    "Sort": "array",
    "Day": "int", "Hour": "int", "Minute": "int", "Month": "int",
    "Year": "int",
    "Duration": "duration", "Hours": "float", "Minutes": "float",
    "Seconds": "float", "Milliseconds": "int", "Microseconds": "int",
    "Nanoseconds": "int",
    "Time": "time", "TruncateTime": "time", "Unix": "time",
    "UnixSeconds": "int", "UnixMilli": "int", "UnixMicro": "int",
    "UnixNano": "int",
    "Now": "time", "UUID": "string",
}
