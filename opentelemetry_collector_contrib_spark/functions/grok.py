"""Grok pattern engine — OTTL ``ExtractGrokPatterns`` analog.

Reference: pkg/ottl/ottlfuncs/func_extract_grok_patterns.go and
ottlfuncs/README.md:615-705 (Elastic go-grok dialect: ``%{SYNTAX:ID:TYPE}``
with custom pattern definitions and int/long/double/float/bool type casts).

Spark-first realization (SURVEY.md §2.4): the grok expression is compiled
ONCE on the driver into a single Python regex with named groups; execution
is ONE vectorized pandas UDF call (``Series.str.extract`` — one Arrow
round trip, all capture groups extracted in a single pass), returning a
struct column. Typed casts happen JVM-side afterwards via ``cast`` so the
Python boundary carries only strings.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The Elastic/logstash grok base pattern library (public Apache-2.0
# pattern DATA — logstash-patterns-core grok-patterns + httpd files,
# the set go-grok ships as its default (ottlfuncs/README.md:615-705)).
# Adapted where the originals use Oniguruma-only syntax our engines
# lack: atomic groups (?>…) → (?:…), lookbehind guards dropped (RE2 has
# neither; affects only pathological embeddings like "1.2.3.4.5").
# Composite entries reference %{NAME} and expand recursively at compile
# time; entries with %{NAME:field} captures (SYSLOGPROG, the Apache log
# lines) yield those named fields when used as a top-level expression,
# exactly like real grok.
BASE_PATTERNS: dict[str, str] = {
    # --- primitives ---
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?(?:[0-9]+)",
    "NONNEGINT": r"\b[0-9]+\b",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "POSINT": r"\b[1-9][0-9]*\b",
    "BASE16NUM": r"\b[+-]?(?:0x)?[0-9A-Fa-f]+\b",
    "BASE16FLOAT": (
        r"\b[+-]?(?:0x)?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?"
        r"|\.[0-9A-Fa-f]+)\b"
    ),
    "HEXDIGIT": r"[0-9a-fA-F]",
    "LOGLEVEL": (
        r"[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|"
        r"[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|"
        r"WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|"
        r"CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|"
        r"[Ee]merg(?:ency)?"
    ),
    # --- identities / addresses ---
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": (
        r"[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~]{1,64}"
        r"(?:\.[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~]{1,62})*"
    ),
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "URN": (
        r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:"
        r"(?:%[0-9a-fA-F]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+"
    ),
    "CISCOMAC": r"(?:(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4})",
    "WINDOWSMAC": r"(?:(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2})",
    "COMMONMAC": r"(?:(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2})",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    # --- network ---
    "IPV4": (
        r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    ),
    "IPV6": (
        r"(?:(?:[0-9A-Fa-f]{1,4}:){7}(?:[0-9A-Fa-f]{1,4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){6}(?::[0-9A-Fa-f]{1,4}|%{IPV4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){5}(?:(?::[0-9A-Fa-f]{1,4}){1,2}"
        r"|:%{IPV4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){4}(?:(?::[0-9A-Fa-f]{1,4}){1,3}"
        r"|(?::[0-9A-Fa-f]{1,4})?:%{IPV4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){3}(?:(?::[0-9A-Fa-f]{1,4}){1,4}"
        r"|(?::[0-9A-Fa-f]{1,4}){0,2}:%{IPV4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){2}(?:(?::[0-9A-Fa-f]{1,4}){1,5}"
        r"|(?::[0-9A-Fa-f]{1,4}){0,3}:%{IPV4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){1}(?:(?::[0-9A-Fa-f]{1,4}){1,6}"
        r"|(?::[0-9A-Fa-f]{1,4}){0,4}:%{IPV4}|:)"
        r"|:(?:(?::[0-9A-Fa-f]{1,4}){1,7}|(?::[0-9A-Fa-f]{1,4}){0,5}"
        r":%{IPV4}|:))(?:%[0-9A-Za-z]+)?"
    ),
    # IP keeps the historical lenient octet form (used by existing
    # oracle-backed pipelines); STRICTIP is the library-exact composite
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "STRICTIP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": (
        r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})"
        r"(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?"
    ),
    "IPORHOST": (
        r"(?:(?:\d{1,3}\.){3}\d{1,3}"
        r"|\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})"
        r"(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?)"
    ),
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    # --- paths / URIs ---
    "PATH": r"(?:/[\w_%!$@:.,+~-]*)+",
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]*)+",
    "TTY": r"(?:/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+))",
    "WINPATH": r"(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+\-.]+",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIQUERY": r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": (
        r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?"
        r"(?:%{URIPATHPARAM})?"
    ),
    # --- dates & times ---
    "MONTH": (
        r"\b(?:[Jj]an(?:uary|uar)?|[Ff]eb(?:ruary|ruar)?|"
        r"[Mm](?:a|ä)?r(?:ch|z)?|[Aa]pr(?:il)?|[Mm]a(?:y|i)?|"
        r"[Jj]un(?:e|i)?|[Jj]ul(?:y|i)?|[Aa]ug(?:ust)?|[Ss]ep(?:tember)?|"
        r"[Oo](?:c|k)?t(?:ober)?|[Nn]ov(?:ember)?|[Dd]e(?:c|z)(?:ember)?)\b"
    ),
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": (
        r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|"
        r"Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)"
    ),
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"%{SECOND}",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?"
        r"(?:Z|[+-]\d{2}:?\d{2})?"
    ),
    "DATE": r"%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[APMCE][SD]T|UTC|GMT|[A-Z]{3,4})",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": (
        r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}"
    ),
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": (
        r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}"
    ),
    "HTTPDATE": r"\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
    # --- syslog ---
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    # --- quoted strings ---
    "QS": r'"(?:[^"\\]|\\.)*"',
    "QUOTEDSTRING": (
        r"(?:\"(?:\\.|[^\\\"])*\"|'(?:\\.|[^\\'])*'|`(?:\\.|[^\\`])*`)"
    ),
    # --- Apache/httpd access logs (httpd patterns file) ---
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} "
        r"\[%{HTTPDATE:timestamp}\] "
        r'"(?:%{WORD:verb} %{NOTSPACE:request}'
        r"(?: HTTP/%{NUMBER:httpversion})?"
        r'|%{DATA:rawrequest})" '
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w\].\[@-]+))?(?::(\w+))?\}")
_TYPE_TO_SPARK = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "boolean": "boolean",
    "string": "string",
}


class GrokPattern:
    """A compiled grok expression: Python regex + (name -> cast type).

    ``named_captures_only=False`` (go-grok Compile's second arg; the
    ExtractGrokPatterns converter DEFAULT, func_extract_grok_patterns.go
    :43) additionally captures the expression's top-level unnamed
    ``%{SYNTAX}`` references under their syntax name (duplicates get
    _1/_2 suffixes). Nested library-internal references stay non-
    capturing either way — go-grok names every nesting level, but those
    inner groups are noise for extraction and explode the group count."""

    def __init__(self, expr: str, custom_patterns: dict[str, str] | None = None,
                 named_captures_only: bool = True):
        self.expr = expr
        self.types: dict[str, str] = {}
        # regex group name (sanitized, \w only) → display name (the
        # original grok ident — go-grok's ECS patterns use dotted names
        # like url.port, which regex groups can't carry)
        self.display: dict[str, str] = {}
        self.named_captures_only = named_captures_only
        self._auto_used: set[str] = set()
        # default set + every product set = go-grok's Complete set (the
        # collector loads all additional sets; ottlfuncs/README.md:658)
        from .grok_products import product_patterns

        lib = dict(BASE_PATTERNS)
        lib.update(product_patterns())
        if custom_patterns:
            # custom defs may themselves reference %{...}
            for k, v in custom_patterns.items():
                lib[k] = self._expand(v, lib, capture=False)
        self.regex_str = self._expand(expr, lib, capture=True)
        self.regex = re.compile(self.regex_str)
        self.names = list(self.regex.groupindex.keys())
        if not self.names:
            raise ValueError(f"grok expr captures nothing: {expr!r}")

    def _expand(self, expr: str, lib: dict[str, str], capture: bool) -> str:
        top_level = [True]

        def sub(m: re.Match) -> str:
            syntax, ident, typ = m.group(1), m.group(2), m.group(3)
            if syntax not in lib:
                raise KeyError(f"unknown grok pattern %{{{syntax}}}")
            body = lib[syntax]
            if ident and capture:
                name = re.sub(r"\W", "_", ident)
                self.display[name] = ident
                if typ:
                    self.types[name] = _TYPE_TO_SPARK.get(typ, "string")
                return f"(?P<{name}>{body})"
            if capture and top_level[0] and not self.named_captures_only:
                name = re.sub(r"\W", "_", syntax)
                i, base = 1, name
                while name in self._auto_used:
                    name = f"{base}_{i}"
                    i += 1
                self._auto_used.add(name)
                return f"(?P<{name}>{body})"
            return f"(?:{body})"

        prev = None
        while prev != expr:  # pattern lib entries may nest
            prev = expr
            expr = _GROK_REF.sub(sub, expr)
            top_level[0] = False  # later passes expand library internals
        return expr

    # ---- execution ------------------------------------------------------
    def struct_type(self) -> T.StructType:
        return T.StructType(
            [T.StructField(n, T.StringType(), True) for n in self.names]
        )

    def extract(self, col: Column | str) -> Column:
        """Vectorized extraction: one pandas UDF, one regex pass, all named
        groups at once. Returns struct<name:string,...> (null fields when
        no match — the OTTL converter returns an empty map then; callers
        get null-safe struct fields which is the flat-schema equivalent)."""
        regex = self.regex  # capture for closure; compiled once per worker
        regex_str = self.regex_str
        names = self.names
        out_type = self.struct_type()

        # engine choice happens ONCE at compile time on the driver:
        # pyarrow's RE2 (C++, ~4× pandas) when it accepts the pattern,
        # else the pandas Python-regex fallback (RE2 lacks backrefs /
        # lookarounds; none of BASE_PATTERNS need them, custom ones might)
        use_re2 = True
        try:
            import pyarrow as pa
            import pyarrow.compute as pc

            pc.extract_regex(pa.array([], pa.string()), pattern=regex_str)
        except Exception:
            use_re2 = False

        @F.pandas_udf(out_type)
        def _grok(s: pd.Series) -> pd.DataFrame:
            if use_re2:
                import pyarrow as pa
                import pyarrow.compute as pc

                # typed: an all-None batch would otherwise infer `null`
                m = pc.extract_regex(
                    pa.Array.from_pandas(s, type=pa.string()),
                    pattern=regex_str,
                )
                return pd.DataFrame(
                    {n: pc.struct_field(m, n).to_pandas() for n in names}
                )
            df = s.str.extract(regex, expand=True)
            df.columns = names
            return df

        # The UDF is pure, but marking it nondeterministic stops Catalyst
        # from substituting it into filters pushed through the projection
        # above it, which would re-run the whole extraction once per
        # filter (stacked ArrowEvalPython nodes). No useful scan pushdown
        # is lost: every downstream predicate depends on the UDF output.
        return _grok.asNondeterministic()(
            F.col(col) if isinstance(col, str) else col
        )

    def apply(self, df: DataFrame, source: str, prefix: str = "") -> DataFrame:
        """Extract + typed casts fanned out to top-level columns."""
        tmp = "_grok"
        df = df.withColumn(tmp, self.extract(source))
        for n in self.names:
            c = F.col(f"{tmp}.{n}")
            typ = self.types.get(n)
            if typ and typ != "string":
                c = c.cast(typ)
            df = df.withColumn(prefix + n, c)
        return df.drop(tmp)
