"""Compile OTTL ASTs to Catalyst Column trees and DataFrame rewrites.

The reference evaluates statements per-record (StatementSequence.Execute,
pkg/ottl/parser.go:281-298; per-record loop transformprocessor/internal/
common/logs.go:34-57). Here each statement compiles ONCE on the driver
into `withColumn(target, when(cond, new).otherwise(old))` — vectorized,
whole-stage-codegen'd, and Catalyst collapses adjacent projections so an
N-statement sequence is still one physical stage.

Error modes (pkg/ottl/config.go:11-27, applied parser.go:281-298):
fallible converters register a *failure predicate* alongside their value
expression. In 'ignore'/'silent' mode the statement is SKIPPED on rows
where any failure predicate holds (the reference logs-and-continues /
silently continues — either way the record is left unmodified); in
'propagate' mode the compiled plan raises via `raise_error` on the first
failing row, failing the job like StatementSequence.Execute returning err.

Comparison semantics reproduce the cross-type matrix of pkg/ottl/compare.go
(LANGUAGE.md:228-291): int-vs-float compared as float64; bool ordering
false < true; nil==nil (and <=, >=) true, nil-vs-anything only `!=` true;
values of *mismatched types are never equal and never ordered* (`==`
false, `!=` true, inequalities false) — unlike Spark's cast-based
comparisons where `"5" == 5` is true. Types are resolved statically at
compile time (literals, path map, converter return types); map-valued
attribute accesses are *dynamic* (the reference stores typed pcommon
values; our MAP<STRING,STRING> erases them) and are compared by try-cast
with a runtime mismatch guard.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import CONVERTERS, CONVERTER_TYPES, literal_arg
from .parser import (
    Binary,
    BoolOp,
    Call,
    Comparison,
    HexBytes,
    ListExpr,
    Literal,
    MapExpr,
    Not,
    OTTLError,
    Path,
    Statement,
    parse_condition,
    parse_statement,
)

# default log-context path → physical column (ottllog/log.go:196-264)
DEFAULT_PATH_MAP = {
    "body": "body",
    "severity_number": "severity_number",
    "severity_text": "severity_text",
    "time": "ts",
    "observed_time": "observed_ts",
    "attributes": "attributes",
    "resource.attributes": "resource",
    # contexts/internal/resource.go:24-31 + scope.go:24-36
    "resource.schema_url": "resource_schema_url",
    "instrumentation_scope.name": "scope",
    "instrumentation_scope.version": "scope_version",
    "instrumentation_scope.schema_url": "scope_schema_url",
    "instrumentation_scope.attributes": "scope_attributes",
    "trace_id": "trace_id",
    "span_id": "span_id",
    "flags": "flags",
    "dropped_attributes_count": "dropped_attributes_count",
    "cache": "cache",
}

# static OTTL types (compare.go's switch arms)
INT, FLOAT, STRING, BOOL = "int", "float", "string", "bool"
TIME, DURATION, ARRAY, MAP = "time", "duration", "array", "map"
BYTES, NIL, DYNAMIC = "bytes", "nil", "dynamic"
# runtime-typed pcommon.Value column (Spark VARIANT physical type, from
# pdata.parse_otlp_records) — unlike DYNAMIC (type-erased string), the
# per-row kind is KNOWN, so the compare.go matrix applies exactly:
# a variant holding int 5 is != "5", matching the reference
VARIANT = "variant"

# default OTTL type per *physical* column of the canonical log shape
DEFAULT_PATH_TYPES = {
    "severity_number": INT,
    "flags": INT,
    "dropped_attributes_count": INT,
    "ts": TIME,
    "observed_ts": TIME,
    "attributes": MAP,
    "resource": MAP,
    "scope_attributes": MAP,
    "cache": MAP,
    # ids are hex-STRING columns physically, but their OTTL type is
    # BYTES (pcommon.TraceID/SpanID) so `trace_id == TraceID(0x…)`
    # compares bytes==bytes instead of falling into the string-vs-bytes
    # mismatch arm (e2e corpus "Using hex")
    "trace_id": BYTES,
    "span_id": BYTES,
}


class Context:
    """Binds OTTL paths to physical columns of a specific DataFrame shape.

    ``path_map`` overrides let e.g. the transcripts pipeline map
    ``body`` → ``text``; ``path_types`` overrides declare the OTTL type of
    a physical column (e.g. a typed side-column ``dur_ms`` → "int").
    """

    def __init__(self, path_map: dict | None = None, error_mode: str = "ignore",
                 path_types: dict | None = None):
        self.path_map = {**DEFAULT_PATH_MAP, **(path_map or {})}
        if error_mode not in ("ignore", "silent", "propagate"):
            raise OTTLError(f"unknown error mode {error_mode!r}")
        self.error_mode = error_mode
        self.path_types = {**DEFAULT_PATH_TYPES, **(path_types or {})}
        self._failures: list[tuple[Column, str]] = []

    # ---- failure bookkeeping (error modes) -------------------------------

    def note_failure(self, pred: Column, msg: str) -> None:
        """Record 'this row would have errored in the reference'."""
        self._failures.append((F.coalesce(pred, F.lit(False)), msg))

    def take_failures(self) -> list[tuple[Column, str]]:
        out, self._failures = self._failures, []
        return out

    def _fold_failures(self, value: Column | None, cond: Column | None):
        """Consume pending failures into (value, cond) per error mode."""
        fails = self.take_failures()
        if not fails:
            return value, cond
        if self.error_mode == "propagate":
            if value is not None:
                for pred, msg in fails:
                    value = F.when(
                        pred, F.raise_error(F.lit(f"ottl: {msg}"))
                    ).otherwise(value)
            else:
                pred = reduce(lambda a, b: a | b, (p for p, _ in fails))
                guard = F.when(
                    pred, F.raise_error(F.lit(f"ottl: {fails[0][1]}"))
                ).otherwise(F.lit(True))
                cond = guard if cond is None else (cond & guard)
            return value, cond
        # ignore / silent: skip the statement on failing rows
        any_fail = reduce(lambda a, b: a | b, (p for p, _ in fails))
        cond = (~any_fail) if cond is None else (cond & ~any_fail)
        return value, cond

    # ---- path resolution --------------------------------------------------

    def resolve(self, path: Path) -> tuple[str, list[str]]:
        """→ (physical column name, residual map keys)."""
        dotted = ".".join(path.parts)
        if dotted in self.path_map:
            return self.path_map[dotted], list(path.keys)
        # trace_id.string / span_id.string → same physical hex-string col
        if len(path.parts) == 2 and path.parts[1] == "string":
            base = ".".join(path.parts[:1])
            if base in self.path_map:
                return self.path_map[base], list(path.keys)
        raise OTTLError(f"unknown path {dotted!r}")

    def _variant_json_path(self, keys: list) -> str:
        """OTTL residual keys → a Spark variant extraction path
        (body["k"][0] → $['k'][0]; ottllog/log.go:220-246 resolves the
        same key chain against pcommon.Value)."""
        parts = ["$"]
        for k in keys:
            if isinstance(k, int):
                if k < 0:
                    raise OTTLError(f"negative slice index {k}")
                parts.append(f"[{k}]")
            else:
                if "'" in str(k):
                    raise OTTLError(f"unsupported quote in map key {k!r}")
                parts.append(f"['{k}']")
        return "".join(parts)

    def _is_string_accessor(self, path: Path) -> bool:
        """body.string on a variant column (ottllog/log.go:205-215
        accessStringBody): the pcommon AsString rendering, typed STRING."""
        col, _ = self.resolve(path)
        return (
            len(path.parts) == 2
            and path.parts[1] == "string"
            and self.path_types.get(col) == VARIANT
        )

    def getter(self, path: Path) -> Column:
        col, keys = self.resolve(path)
        if self.path_types.get(col) == VARIANT:
            c = F.col(col)
            if keys:
                # one JVM-side variant extraction; a missing key or
                # out-of-range index yields variant-missing → OTTL nil
                c = F.try_variant_get(
                    c, self._variant_json_path(keys), "variant"
                )
            if self._is_string_accessor(path):
                from ..pdata import variant_render

                return variant_render(c)
            return c
        c = F.col(col)
        for i, k in enumerate(keys):
            if isinstance(k, int):
                # slice index (grammar.go Key Int alternative; pcommon.Slice
                # .At is 0-based and indexing nil / out-of-range is a
                # statement error → failure predicate under error modes)
                if k < 0:
                    raise OTTLError(f"negative slice index {k}")
                if i == 0 and self.path_types.get(col, STRING) == ARRAY:
                    arr = c
                else:
                    # type-erased slice rendering is a JSON array string
                    # (see _ed_append) — re-lift before indexing
                    arr = F.from_json(c.cast("string"), "array<string>")
                self.note_failure(
                    arr.isNull() | (F.size(arr) <= F.lit(k)),
                    f"index {k} out of bounds",
                )
                c = F.get(arr, k)
            else:
                if i > 0:
                    # nested map value: the type-erased rendering is a JSON
                    # object string (see setter) — re-lift before indexing
                    c = F.from_json(c.cast("string"), "map<string,string>")
                c = c.getItem(k)
        return c

    def path_type(self, path: Path) -> str:
        col, keys = self.resolve(path)
        if self.path_types.get(col) == VARIANT:
            if self._is_string_accessor(path):
                return STRING
            return VARIANT  # runtime-typed at any depth
        if keys:
            return DYNAMIC  # map value: type-erased pcommon.Value rendering
        return self.path_types.get(col, STRING)

    def setter(self, df: DataFrame, path: Path, value: Column,
               cond: Column | None) -> DataFrame:
        """Apply ``target = value [where cond]`` (set editor shape)."""
        value, cond = self._fold_failures(value, cond)
        col, keys = self.resolve(path)
        if self.path_types.get(col) == VARIANT and keys:
            # set(body["k"], v) / set(body["a"][0]["b"], v) on a runtime-
            # typed column: rebuild the variant tree JVM-side
            # (pdata.variant_set_path = map.go SetMapValue + value.go
            # setIndexableValue — missing intermediates are created,
            # non-indexable intermediates and the top-level target not
            # being a map/slice are statement errors → error modes).
            from ..pdata import to_variant, variant_set_path

            # lift to VARIANT; to_variant is identity-safe on variant
            # input, so callers that already lifted (set) and callers
            # that pass strings (replace_pattern) both land here
            value = to_variant(value)
            try:
                new, fail = variant_set_path(F.col(col), keys, value)
            except ValueError as e:
                raise OTTLError(str(e)) from None
            self.note_failure(
                fail,
                f"cannot set {col}{keys}: target not indexable or index "
                "out of bounds",
            )
            _, cond = self._fold_failures(None, cond)
            # func_set.go: a nil value is a no-op, never a delete
            noop = value.isNull() | F.is_variant_null(value)
            guard = (~noop) if cond is None else (cond & ~noop)
            return df.withColumn(
                col, F.when(guard, new).otherwise(F.col(col))
            )
        if not keys:
            if self.path_types.get(col) == VARIANT:
                # whole-column set on a runtime-typed target: lift (a
                # no-op for values already lifted by _ed_set — to_variant
                # is identity-safe on variant input) so editors that
                # produce strings (replace_pattern/_match) type-check
                # against the variant column in the cond guard below
                from ..pdata import to_variant

                value = to_variant(value)
                nil = value.isNull() | F.is_variant_null(value)
                if self._is_string_accessor(path):
                    # accessStringBody Setter: only a STRING value is
                    # written (ottllog/log.go:418-421 type-asserts and
                    # silently skips everything else)
                    from ..pdata import KIND_STR, variant_kind

                    nil = nil | (variant_kind(value) != F.lit(KIND_STR))
            else:
                nil = value.isNull()
            # func_set.go: a nil value never reaches the setter — the
            # statement is a no-op, the old value stays; a column that
            # does not exist yet stays NULL wherever the statement skips
            guard = (~nil) if cond is None else (cond & ~nil)
            new = F.when(guard, value)
            if col in df.columns:
                new = new.otherwise(F.col(col))
            return df.withColumn(col, new)
        if any(isinstance(k, int) and k < 0 for k in keys):
            raise OTTLError("negative slice index")
        # func_set.go: a nil value is a no-op, never a delete — captured
        # on the LEAF value before any deep rebuild replaces it
        nil = value.isNull()
        cond = (~nil) if cond is None else (cond & ~nil)
        if isinstance(keys[0], int):
            # slice element set on the physical column itself (internal/
            # value.go SetIndexableValue: out-of-range / nil slice errors)
            idx = keys[0]
            dt = df.schema[col].dataType if col in df.columns else None
            if isinstance(dt, T.ArrayType):
                cur = F.col(col)
                self.note_failure(
                    cur.isNull() | (F.size(cur) <= F.lit(idx)),
                    f"index {idx} out of bounds",
                )
                if len(keys) > 1:
                    # nested set below a native array element: elements
                    # must carry the erased JSON convention (strings) —
                    # a typed non-string element cannot hold a map/slice
                    if not isinstance(dt.elementType, T.StringType):
                        raise OTTLError(
                            "nested set under a non-string typed slice"
                        )
                    newv = self._erased_set_deep(
                        F.get(cur, idx), keys[1:], value
                    )
                else:
                    newv = value.cast(dt.elementType.simpleString())
                _, cond = self._fold_failures(None, cond)
                new = F.transform(
                    cur,
                    lambda x, j: F.when(j == F.lit(idx), newv).otherwise(x),
                )
            elif len(keys) > 1:
                # type-erased slice with nested keys: _erased_set_deep's
                # int arm does the parse + bounds check + deep rebuild
                new = self._erased_set_deep(
                    F.col(col).cast("string"), keys, value
                )
                _, cond = self._fold_failures(None, cond)
            else:
                # type-erased slice: JSON array string (see _ed_append)
                parsed = F.from_json(F.col(col).cast("string"),
                                     "array<string>")
                self.note_failure(
                    parsed.isNull() | (F.size(parsed) <= F.lit(idx)),
                    f"index {idx} out of bounds",
                )
                _, cond = self._fold_failures(None, cond)
                new = F.to_json(F.transform(
                    parsed,
                    lambda x, j: F.when(j == F.lit(idx),
                                        value.cast("string")).otherwise(x),
                ))
            guarded = new if cond is None else (
                F.when(cond, new).otherwise(F.col(col))
            )
            return df.withColumn(col, guarded)
        base = F.coalesce(F.col(col), F.create_map().cast("map<string,string>"))
        if len(keys) > 1:
            # attributes["a"]["b"]…[i]… = v at ARBITRARY depth: below the
            # physical MAP<STRING,STRING>, nested maps/slices ride as
            # JSON object/array strings (the type-erasure convention the
            # getter and _ed_append share) — rebuild bottom-up, missing
            # intermediate maps are created (map.go SetMapValue PutEmpty
            # → value.go Empty arm), slice indexes are bounds-checked
            # statement errors.
            value = self._erased_set_deep(
                base.getItem(keys[0]).cast("string"), keys[1:], value
            )
            _, cond = self._fold_failures(None, cond)
            keys = [keys[0]]
        k = keys[0]
        upserted = F.map_concat(
            F.map_filter(base, lambda mk, _: mk != F.lit(k)),
            F.when(value.isNotNull(),
                   F.create_map(F.lit(k), value.cast("string")))
            .otherwise(F.create_map().cast("map<string,string>")),
        )
        new = upserted if cond is None else (
            F.when(cond, upserted).otherwise(F.col(col))
        )
        return df.withColumn(col, new)

    def _erased_set_deep(self, cur: Column, keys: list, value: Column):
        """Rebuild one level of the type-erased nesting convention:
        ``cur`` is the STRING rendering of a nested value (JSON object /
        array text). String keys upsert (missing/unparsable intermediates
        coalesce to an empty map — SetMapValue creates them); int keys
        are bounds-checked slice element replaces (failure predicates
        feed the caller's error-mode fold). Returns the re-serialized
        JSON text for the parent's upsert."""
        k, rest = keys[0], keys[1:]
        if isinstance(k, str):
            inner = F.coalesce(
                F.from_json(cur, "map<string,string>"),
                F.create_map().cast("map<string,string>"),
            )
            if rest:
                newv = self._erased_set_deep(
                    inner.getItem(k).cast("string"), rest, value
                )
                entry = F.create_map(F.lit(k), newv)
            else:
                # leaf upsert: a NULL value removes the key (the erased
                # columns' historical convention)
                entry = F.when(
                    value.isNotNull(),
                    F.create_map(F.lit(k), value.cast("string")),
                ).otherwise(F.create_map().cast("map<string,string>"))
            return F.to_json(
                F.map_concat(
                    F.map_filter(inner, lambda mk, _: mk != F.lit(k)), entry
                )
            )
        idx = int(k)
        arr = F.from_json(cur, "array<string>")
        self.note_failure(
            arr.isNull() | (F.size(arr) <= F.lit(idx)),
            f"index {idx} out of bounds",
        )
        newv = (
            self._erased_set_deep(F.get(arr, idx).cast("string"), rest, value)
            if rest else value.cast("string")
        )
        return F.to_json(
            F.transform(
                arr,
                lambda x, j: F.when(j == F.lit(idx), newv).otherwise(x),
            )
        )

    def guard_map(self, df: DataFrame, col: str, new: Column,
                  cond: Column | None) -> DataFrame:
        """withColumn(col, new) guarded by cond + pending failures."""
        new_, cond = self._fold_failures(None, cond)
        guarded = new if cond is None else F.when(cond, new).otherwise(F.col(col))
        return df.withColumn(col, guarded)


# ---------------------------------------------------------------------------
# static type inference (drives the compare.go matrix at compile time)
# ---------------------------------------------------------------------------

def static_type(node, ctx: Context) -> str:
    if isinstance(node, Literal):
        v = node.value
        if v is None:
            return NIL
        if isinstance(v, HexBytes):
            return BYTES
        if isinstance(v, bool):  # before int — bool is an int subclass
            return BOOL
        if isinstance(v, int):
            return INT
        if isinstance(v, float):
            return FLOAT
        return STRING
    if isinstance(node, Path):
        return ctx.path_type(node)
    if isinstance(node, ListExpr):
        return ARRAY
    if isinstance(node, MapExpr):
        return MAP
    if isinstance(node, Call):
        return CONVERTER_TYPES.get(node.name, DYNAMIC)
    if isinstance(node, Binary):
        lt_, rt_ = static_type(node.left, ctx), static_type(node.right, ctx)
        if node.op in ("+", "-"):
            if lt_ == TIME and rt_ == TIME:
                return DURATION
            if TIME in (lt_, rt_):
                return TIME
        if lt_ == INT and rt_ == INT:
            return INT
        if {lt_, rt_} <= {INT, FLOAT, DURATION, DYNAMIC, VARIANT}:
            return FLOAT
        return DYNAMIC
    return DYNAMIC


# ---------------------------------------------------------------------------
# value + boolean compilation
# ---------------------------------------------------------------------------

class _CallArgs(list):
    """Positional args list that also carries the call's named args —
    converters keep their (args, ctx) signature, kwargs-aware ones read
    ``args.kwargs`` (OTTL named-argument binding, functions.go:254-338)."""

    kwargs: dict = {}


def compile_value(node, ctx: Context) -> Column:
    if isinstance(node, Literal):
        if isinstance(node.value, HexBytes):
            return F.lit(node.value.hex)
        return F.lit(node.value)
    if isinstance(node, Path):
        return ctx.getter(node)
    if isinstance(node, ListExpr):
        return F.array(*[compile_value(i, ctx) for i in node.items])
    if isinstance(node, MapExpr):
        # map literal (grammar.go Map) → a typed VARIANT object: values
        # keep their native kinds (nested maps recurse), exactly a
        # pcommon.Map — JVM-side via to_json∘struct, no Python boundary
        if not node.entries:
            return F.parse_json(F.lit("{}"))
        return F.parse_json(
            F.to_json(
                F.struct(
                    *[
                        compile_value(v, ctx).alias(k)
                        for k, v in node.entries
                    ]
                )
            )
        )
    if isinstance(node, Call):
        fn = CONVERTERS.get(node.name)
        if fn is None:
            raise OTTLError(f"unknown converter {node.name!r}")
        args = _CallArgs(node.args)
        args.kwargs = node.kwargs
        return fn(args, ctx)
    if isinstance(node, Binary):
        l, r = compile_value(node.left, ctx), compile_value(node.right, ctx)
        # LANGUAGE.md:196-226 — int/int stays int (Go division truncates);
        # time-time ⇒ duration, time±duration ⇒ time (durations are double
        # seconds in this engine, so the epoch domain carries them)
        lt_, rt_ = static_type(node.left, ctx), static_type(node.right, ctx)
        if node.op in ("+", "-") and TIME in (lt_, rt_):
            if lt_ == TIME and rt_ == TIME and node.op == "-":
                return l.cast("double") - r.cast("double")
            if lt_ == TIME and rt_ == DURATION:
                secs = r if node.op == "+" else -r
                return F.timestamp_seconds(l.cast("double") + secs)
            if lt_ == DURATION and rt_ == TIME and node.op == "+":
                return F.timestamp_seconds(r.cast("double") + l)
            raise OTTLError(
                f"unsupported time arithmetic {lt_} {node.op} {rt_}"
            )
        # arithmetic on runtime-typed values: lift variant → double (the
        # reference errors on non-numeric pcommon values; non-numeric
        # kinds yield NULL here, surfacing as nil downstream)
        if lt_ == VARIANT:
            l = F.try_variant_get(l, "$", "double")
        if rt_ == VARIANT:
            r = F.try_variant_get(r, "$", "double")
        if node.op == "+":
            return l + r
        if node.op == "-":
            return l - r
        if node.op == "*":
            return l * r
        if node.op == "/":
            both_int = (
                static_type(node.left, ctx) == INT
                and static_type(node.right, ctx) == INT
            )
            return (l / r).cast("long") if both_int else l / r
    raise OTTLError(f"cannot compile value node {node!r}")


_NUMERIC = {INT, FLOAT, DURATION}
# same-type comparisons that map 1:1 onto Spark's native ordering
_ORDERED_SAME = {STRING, TIME, DURATION, BYTES, DYNAMIC}


def _raw_cmp(op: str, l: Column, r: Column) -> Column:
    return {
        "==": l == r, "!=": l != r, "<": l < r,
        ">": l > r, "<=": l <= r, ">=": l >= r,
    }[op]


def _null_wrap(op: str, l: Column, r: Column, raw: Column) -> Column:
    """compare.go:173-214 nil rules: both-nil → eq/lte/gte true; one nil →
    only ne true. Result is never NULL (conditions must be decidable)."""
    both = l.isNull() & r.isNull()
    anyn = l.isNull() | r.isNull()
    if op in ("==", "<=", ">="):
        return F.when(anyn, both).otherwise(raw)
    if op == "!=":
        return F.when(anyn, ~both).otherwise(raw)
    return F.when(anyn, F.lit(False)).otherwise(raw)


def _invalid(op: str) -> Column:
    """invalidComparison (compare.go:19-21): only ne is true."""
    return F.lit(op == "!=")


# ---- variant (runtime-typed pcommon.Value) comparison arms ----------------

def _vnull(c: Column) -> Column:
    """OTTL nil for a variant: SQL NULL or variant-encoded null."""
    return c.isNull() | F.is_variant_null(c)


def _nil_result(op: str, both: Column) -> Column:
    """compare.go:173-214 once either side is nil."""
    if op in ("==", "<=", ">="):
        return both
    if op == "!=":
        return ~both
    return F.lit(False)


def _variant_vs_typed(op: str, v: Column, t: Column, ty: str,
                      variant_left: bool) -> Column:
    """VARIANT × statically-typed scalar: the runtime kind decides the
    compare.go arm exactly — int-kinded 5 vs "5" is a type mismatch
    (invalidComparison), unlike the erased DYNAMIC path's try-cast blur."""
    from ..pdata import variant_kind

    k = variant_kind(v)
    vn, tn = _vnull(v), t.isNull()
    both, anyn = vn & tn, vn | tn

    def sided(a, b):
        return (a, b) if variant_left else (b, a)

    if ty in _NUMERIC:
        valid = k.isin("int", "double")
        d = F.try_variant_get(v, "$", "double")
        raw = _raw_cmp(op, *sided(d, t.cast("double")))
        if ty == INT:
            # int × int compares EXACT int64 (compare.go compareInt64s);
            # only the mixed int/float arm converts to float64 — double
            # lowering would false-equal distinct ids beyond 2^53
            li = F.try_variant_get(v, "$", "long")
            raw = F.when(
                k == "int", _raw_cmp(op, *sided(li, t.cast("long")))
            ).otherwise(raw)
    elif ty == STRING:
        valid = k == "string"
        raw = _raw_cmp(op, *sided(F.try_variant_get(v, "$", "string"), t))
    elif ty == BOOL:
        valid = k == "bool"
        raw = _raw_cmp(
            op,
            *sided(
                F.try_variant_get(v, "$", "boolean").cast("int"),
                t.cast("int"),
            ),
        )
    else:
        # time/bytes/array/map literals never match a JSON-borne kind
        return _invalid(op)
    return (
        F.when(anyn, _nil_result(op, both))
        .when(~valid, _invalid(op))
        .otherwise(raw)
    )


def _variant_vs_variant(op: str, l: Column, r: Column) -> Column:
    from ..pdata import variant_kind

    kl, kr = variant_kind(l), variant_kind(r)
    ln, rn = _vnull(l), _vnull(r)
    both, anyn = ln & rn, ln | rn
    numeric_l = kl.isin("int", "double")
    numeric_r = kr.isin("int", "double")
    # both-int pairs compare EXACT int64 (compare.go compareInt64s);
    # only mixed int/float lowers to float64
    num_raw = F.when(
        (kl == "int") & (kr == "int"),
        _raw_cmp(
            op,
            F.try_variant_get(l, "$", "long"),
            F.try_variant_get(r, "$", "long"),
        ),
    ).otherwise(
        _raw_cmp(
            op,
            F.try_variant_get(l, "$", "double"),
            F.try_variant_get(r, "$", "double"),
        )
    )
    str_raw = _raw_cmp(
        op,
        F.try_variant_get(l, "$", "string"),
        F.try_variant_get(r, "$", "string"),
    )
    bool_raw = _raw_cmp(
        op,
        F.try_variant_get(l, "$", "boolean").cast("int"),
        F.try_variant_get(r, "$", "boolean").cast("int"),
    )
    out = (
        F.when(anyn, _nil_result(op, both))
        .when(numeric_l & numeric_r, num_raw)
        .when((kl == "string") & (kr == "string"), str_raw)
        .when((kl == "bool") & (kr == "bool"), bool_raw)
    )
    if op in ("==", "!="):
        # composite structural equality via canonical JSON (pcommon
        # Map/Slice Equal analog; ingestion preserves key order so the
        # rendering is stable for same-provenance values)
        comp_raw = _raw_cmp(op, F.to_json(l), F.to_json(r))
        out = out.when(
            ((kl == "map") & (kr == "map"))
            | ((kl == "slice") & (kr == "slice")),
            comp_raw,
        )
    return out.otherwise(_invalid(op))


def compile_comparison(node: Comparison, ctx: Context) -> Column:
    op = node.op
    lt_, rt_ = static_type(node.left, ctx), static_type(node.right, ctx)

    # nil literal on either side (compare.go:173-185)
    if lt_ == NIL and rt_ == NIL:
        return F.lit(op in ("==", "<=", ">="))
    if lt_ == NIL or rt_ == NIL:
        other_t = rt_ if lt_ == NIL else lt_
        c = compile_value(node.right if lt_ == NIL else node.left, ctx)
        isnull = _vnull(c) if other_t == VARIANT else c.isNull()
        if op == "==":
            return isnull
        if op == "!=":
            return ~isnull
        if op in ("<=", ">="):
            return isnull  # true only when both sides are nil
        return F.lit(False)

    l, r = compile_value(node.left, ctx), compile_value(node.right, ctx)

    # runtime-typed variant arms (pcommon.Value × anything)
    if lt_ == VARIANT and rt_ == VARIANT:
        return _variant_vs_variant(op, l, r)
    if VARIANT in (lt_, rt_):
        v, o, ot, vleft = (
            (l, r, rt_, True) if lt_ == VARIANT else (r, l, lt_, False)
        )
        if ot == DYNAMIC:
            # erased string side: compare against the variant's rendered
            # form (same erasure caveat the DYNAMIC×DYNAMIC arm documents)
            from ..pdata import variant_render

            vr = variant_render(v)
            ll, rr = (vr, o) if vleft else (o, vr)
            return _null_wrap(op, ll, rr, _raw_cmp(op, ll, rr))
        return _variant_vs_typed(op, v, o, ot, vleft)

    # numeric × numeric: int-vs-float as float64 (compare.go:114-134);
    # durations are double seconds here so they join the numeric lattice
    if lt_ in _NUMERIC and rt_ in _NUMERIC:
        if lt_ != rt_:
            l, r = l.cast("double"), r.cast("double")
        return _null_wrap(op, l, r, _raw_cmp(op, l, r))

    # bool × bool: false < true (compareBools, compare.go:44-61)
    if lt_ == BOOL and rt_ == BOOL:
        if op in ("==", "!="):
            return _null_wrap(op, l, r, _raw_cmp(op, l, r))
        li, ri = l.cast("int"), r.cast("int")
        return _null_wrap(op, l, r, _raw_cmp(op, li, ri))

    # dynamic (type-erased map value) × typed scalar: emulate the matrix at
    # runtime — try-cast to the typed side's domain; failure = mismatched
    # type = invalidComparison. (Documented erasure caveat: a STRING-typed
    # attr whose text happens to parse numeric compares numerically here.)
    if DYNAMIC in (lt_, rt_) and lt_ != rt_:
        dyn, typed, ty = (l, r, rt_) if lt_ == DYNAMIC else (r, l, lt_)
        if ty in _NUMERIC:
            d = dyn.try_cast("double")
            t = typed.cast("double")
            mism = dyn.isNotNull() & d.isNull()
            ll, rr = (d, t) if lt_ == DYNAMIC else (t, d)
            return F.when(mism, _invalid(op)).otherwise(
                _null_wrap(op, ll, rr, _raw_cmp(op, ll, rr)))
        if ty == BOOL:
            valid = dyn.isin("true", "false")
            mism = dyn.isNotNull() & ~valid
            d = (dyn == "true").cast("int")
            t = typed.cast("int")
            ll, rr = (d, t) if lt_ == DYNAMIC else (t, d)
            return F.when(mism, _invalid(op)).otherwise(
                _null_wrap(op, dyn, typed, _raw_cmp(op, ll, rr)))
        if ty == STRING:
            return _null_wrap(op, l, r, _raw_cmp(op, l, r))
        return _invalid(op)

    # same ordered type (string×string, time×time, bytes×bytes, dyn×dyn,
    # array/map equality via Spark's structural equality)
    if lt_ == rt_ and lt_ in _ORDERED_SAME:
        return _null_wrap(op, l, r, _raw_cmp(op, l, r))
    if lt_ == rt_ and lt_ in (ARRAY, MAP):
        if op in ("==", "!="):
            return _null_wrap(op, l, r, _raw_cmp(op, l, r))
        return _invalid(op)

    # mismatched types: never equal, never ordered (compare.go defaults)
    return _invalid(op)


def compile_bool(node, ctx: Context) -> Column:
    if isinstance(node, BoolOp):
        cols = [compile_bool(t, ctx) for t in node.terms]
        out = cols[0]
        for c in cols[1:]:
            out = (out | c) if node.op == "or" else (out & c)
        return out
    if isinstance(node, Not):
        return ~_truthy(compile_bool(node.term, ctx))
    if isinstance(node, Comparison):
        return compile_comparison(node, ctx)
    if isinstance(node, Literal):
        return F.lit(bool(node.value))
    # bare value as condition (e.g. IsMatch(...))
    if static_type(node, ctx) == VARIANT:
        from ..pdata import KIND_BOOL, variant_kind

        # Gate on the variant KIND: try_variant_get(…,"boolean") would
        # coerce int 1 / string "true" to true, but the reference errors
        # on non-bool conditions and ignore-mode resolves them to false
        # (ottl/parser.go condition eval) — so every non-bool kind is
        # false here, not coerced.
        c = compile_value(node, ctx)
        return F.coalesce(
            F.when(
                variant_kind(c) == F.lit(KIND_BOOL),
                F.try_variant_get(c, "$", "boolean"),
            ),
            F.lit(False),
        )
    return _truthy(compile_value(node, ctx))


def _truthy(c: Column) -> Column:
    return c.cast("boolean")


def _fold_condition_failures(col: Column, ctx: Context) -> Column:
    """Consume the converter failures noted while compiling condition
    ``col``: ignore/silent ⇒ the condition is false for failing rows
    (record passes through unmodified); propagate ⇒ raise."""
    fails = ctx.take_failures()
    if not fails:
        return col
    pred = reduce(lambda a, b: a | b, (p for p, _ in fails))
    if ctx.error_mode == "propagate":
        return F.when(
            pred, F.raise_error(F.lit(f"ottl: {fails[0][1]}"))
        ).otherwise(col)
    return F.when(pred, F.lit(False)).otherwise(col)


def compile_condition(src: str, ctx: Context | None = None) -> Column:
    """Bare condition → Column. Converter failures inside the condition
    follow the context's error mode (``_fold_condition_failures``)."""
    ctx = ctx or Context()
    ctx.take_failures()  # drop stale entries from unrelated compiles
    col = compile_bool(parse_condition(src), ctx)
    return _fold_condition_failures(col, ctx)


def compile_routing_statement(src: str, ctx: Context):
    """routingconnector table ``statement:`` → (condition Column,
    mutate fn | None).

    The connector routes on the statement's WHERE clause
    (routingconnector/router.go:113-159 — Execute returns the condition
    match; a bare ``route()`` with no where matches everything) and, when
    the editor is not the no-op ``route()``, ALSO executes the editor on
    the matching rows (README.md:63: ``delete_key(attributes, ...) where
    ...`` strips the routing key from the routed copy). The mutation
    applies to each route's own split — the reference executes route
    statements sequentially on shared pdata, so a mutation there is
    visible to later table entries; per-split application is the
    side-effect-free DataFrame equivalent (documented deviation)."""
    stmt = parse_statement(src)
    ctx.take_failures()
    cond = F.lit(True)
    if stmt.where is not None:
        cond = _fold_condition_failures(compile_bool(stmt.where, ctx), ctx)
    if stmt.editor.name == "route":
        if stmt.editor.args:
            raise OTTLError("route() takes no arguments")
        return cond, None
    return cond, _compile_one(src, ctx)


# ---------------------------------------------------------------------------
# editors — each returns df → df (registry mirrors ottlfuncs/functions.go:10-30)
# ---------------------------------------------------------------------------

def _map_target(ctx: Context, path: Path) -> str:
    col, keys = ctx.resolve(path)
    if keys:
        raise OTTLError("editor target must be a whole map column here")
    return col


def _map_edit(ctx, df, target, fn, cond, *, fn_variant=None):
    """Shared map-editor dispatch: ``fn(map_col) → map_col`` applies to
    an erased MAP<STRING,STRING> column directly; for a runtime-typed
    (VARIANT) target the object is lifted to MAP<STRING,VARIANT>,
    edited, and rebuilt (pdata.variant_map_edit), with non-map kinds a
    statement error (the reference's PMapGetter coercion failure →
    error modes). Key-only lambdas work on both; pass ``fn_variant``
    when value handling differs.

    A KEYED target (e.g. ``keep_keys(attributes["foo"], …)``) edits the
    nested map at that path of a VARIANT column and writes the subtree
    back (map.go SetMapValue recursion — any editor at any depth, like
    the reference's PMapGetter paths); keyed targets on erased
    MAP<STRING,STRING> columns stay unsupported (values there are
    strings, never maps)."""
    col, keys = ctx.resolve(target)
    if ctx.path_types.get(col) == VARIANT:
        from ..pdata import variant_map_edit, variant_set_path

        if keys:
            sub = F.try_variant_get(
                F.col(col), ctx._variant_json_path(keys), "variant"
            )
            new_sub, fail = variant_map_edit(sub, fn_variant or fn)
            ctx.note_failure(fail, f"{col}{keys!r} is not a map")
            new, fail2 = variant_set_path(F.col(col), keys, new_sub)
            ctx.note_failure(fail2, f"cannot write back {col}{keys!r}")
            return ctx.guard_map(df, col, new, cond)
        new, fail = variant_map_edit(F.col(col), fn_variant or fn)
        ctx.note_failure(fail, f"{col} is not a map")
        return ctx.guard_map(df, col, new, cond)
    if keys:
        raise OTTLError("editor target must be a whole map column here")
    return ctx.guard_map(df, col, fn(F.col(col)), cond)


def _ed_set(stmt, ctx, df, cond):
    target, value = stmt.editor.args
    if static_type(value, ctx) == NIL:
        # func_set.go: `if val != nil` — setting a literal nil is a
        # whole-statement no-op (e2e corpus: set(attributes["test"], nil))
        return df
    vcol = compile_value(value, ctx)
    tcol, tkeys = ctx.resolve(target)
    target_is_variant = ctx.path_types.get(tcol) == VARIANT
    if static_type(value, ctx) == VARIANT:
        if not target_is_variant:
            # writing a runtime-typed value into an erased string/map
            # column: pcommon.Value.AsString rendering (scalar → text,
            # composite → JSON), same convention as round-2 ingestion
            from ..pdata import variant_render

            vcol = variant_render(vcol)
    elif target_is_variant and not tkeys:
        # statically-typed value replacing a whole runtime-typed column:
        # lift to VARIANT JVM-side (value.go SetValue any→pcommon.Value;
        # for the body.string accessor the reference stores the string
        # value — a variant string here). Keyed variant targets are
        # lifted inside Context.setter itself.
        from ..pdata import to_variant

        vcol = to_variant(vcol)
    return ctx.setter(df, target, vcol, cond)


def _ed_delete_key(stmt, ctx, df, cond):
    target, key = stmt.editor.args
    k = literal_arg(key)
    return _map_edit(
        ctx, df, target,
        lambda m: F.map_filter(m, lambda mk, _: mk != F.lit(k)), cond,
    )


def _ed_delete_matching_keys(stmt, ctx, df, cond):
    target, pat = stmt.editor.args
    p = literal_arg(pat)
    return _map_edit(
        ctx, df, target,
        lambda m: F.map_filter(m, lambda mk, _: ~mk.rlike(p)), cond,
    )


def _ed_keep_matching_keys(stmt, ctx, df, cond):
    target, pat = stmt.editor.args
    p = literal_arg(pat)
    return _map_edit(
        ctx, df, target,
        lambda m: F.map_filter(m, lambda mk, _: mk.rlike(p)), cond,
    )


def _ed_keep_keys(stmt, ctx, df, cond):
    target, keys = stmt.editor.args
    keep = F.array(*[F.lit(literal_arg(k)) for k in keys.items])
    return _map_edit(
        ctx, df, target,
        lambda m: F.map_filter(m, lambda mk, _: F.array_contains(keep, mk)),
        cond,
    )


def _ed_truncate_all(stmt, ctx, df, cond):
    target, limit = stmt.editor.args
    n = int(literal_arg(limit))

    def fn_variant(m):
        # func_truncate_all.go truncates only STRING values; other kinds
        # pass through untouched
        from ..pdata import KIND_STR, to_variant, variant_kind

        return F.transform_values(
            m,
            lambda _, v: F.when(
                variant_kind(v) == F.lit(KIND_STR),
                to_variant(
                    F.substring(F.try_variant_get(v, "$", "string"), 1, n)
                ),
            ).otherwise(v),
        )

    return _map_edit(
        ctx, df, target,
        lambda m: F.transform_values(m, lambda _, v: F.substring(v, 1, n)),
        cond, fn_variant=fn_variant,
    )


def _ed_limit(stmt, ctx, df, cond):
    # limit(target, n, priority_keys[]) — keep priority keys first, then
    # others in sorted-key order up to n total (README.md:232)
    target, limit, prio = stmt.editor.args
    n = int(literal_arg(limit))
    pk = F.array(*[F.lit(literal_arg(k)) for k in prio.items])

    def _limit(m, by_key: bool):
        ent = F.map_entries(m)
        prio_ent = F.filter(ent, lambda e: F.array_contains(pk, e["key"]))
        rest = F.filter(ent, lambda e: ~F.array_contains(pk, e["key"]))
        if by_key:
            # variant values aren't orderable — sort entries by key only
            rest = F.array_sort(
                rest,
                lambda a, b: F.when(a["key"] < b["key"], F.lit(-1))
                .when(a["key"] > b["key"], F.lit(1))
                .otherwise(F.lit(0)),
            )
        else:
            rest = F.array_sort(rest)
        return F.map_from_entries(F.slice(F.concat(prio_ent, rest), 1, n))

    return _map_edit(
        ctx, df, target, lambda m: _limit(m, False), cond,
        fn_variant=lambda m: _limit(m, True),
    )


_HASH_FNS = {
    "SHA256": lambda c: F.sha2(c, 256),
    "SHA1": F.sha1,
    "MD5": F.md5,
    "FNV": F.xxhash64,  # documented FNV substitution
}


def _ed_replace_pattern(stmt, ctx, df, cond):
    # replace_pattern(target, regex, replacement, Optional[function])
    # (README.md:343): with a hash function, each match is replaced by
    # hash(EXPANDED replacement) — func_replace_pattern.go
    # applyOptReplaceFunction expands the replacement template against
    # the match, hashes THAT, and substitutes (pinned by the e2e corpus:
    # replace_pattern(…, "/", "@", SHA256) writes sha256("@")). Spark's
    # regexp_replace can't invoke per-match exprs, so the expansion of
    # the FIRST match substitutes for all — exact whenever all matches
    # expand identically (always, for $-free replacements like here);
    # documented deviation for $N replacements with differing matches.
    args = stmt.editor.args
    target, pat, repl = args[:3]
    c = compile_value(target, ctx)
    c, cond = _string_gate(ctx, target, c, cond)
    p = literal_arg(pat)
    r = literal_arg(repl)
    fn_node = args[3] if len(args) > 3 else stmt.editor.kwargs.get("function")
    if fn_node is not None:
        name = fn_node.parts[0] if isinstance(fn_node, Path) else str(
            literal_arg(fn_node))
        hash_fn = _HASH_FNS.get(name)
        if hash_fn is None:
            raise OTTLError(f"replace_pattern hash function {name!r}")
        if "$" in r:
            # expand the replacement against the first match, then hash
            expanded = F.regexp_replace(F.regexp_extract(c, p, 0), p, r)
        else:
            expanded = F.lit(r)
        match = F.regexp_extract(c, p, 0)
        new = F.when(
            match != "",
            F.regexp_replace(c, p, hash_fn(expanded).cast("string")),
        ).otherwise(c)
    else:
        new = F.regexp_replace(c, p, r)
    return ctx.setter(df, target, new, cond)


def _string_gate(ctx, target, c, cond):
    """replace_pattern/replace_match target semantics on a runtime-typed
    value: the reference is a silent no-op unless the value is a STRING
    (func_replace_pattern.go:118 `originalVal.(string)`) — gate the
    statement condition on the variant kind and hand the editor the
    extracted string."""
    if not (isinstance(target, Path) and ctx.path_type(target) == VARIANT):
        return c, cond
    from ..pdata import KIND_STR, variant_kind

    is_str = variant_kind(c) == F.lit(KIND_STR)
    cond = is_str if cond is None else (cond & is_str)
    return F.try_variant_get(c, "$", "string"), cond


def _ed_replace_match(stmt, ctx, df, cond):
    # glob match on whole value → replace whole value (README.md:325)
    target, glob, repl = stmt.editor.args[:3]
    c = compile_value(target, ctx)
    c, cond = _string_gate(ctx, target, c, cond)
    rx = _glob_to_rx(literal_arg(glob))
    new = F.when(c.rlike(rx), F.lit(literal_arg(repl))).otherwise(c)
    return ctx.setter(df, target, new, cond)


def _variant_string_value_edit(fn):
    """Per-value edit over a variant map that the reference applies only
    to STRING values (replace_all_* skip non-string kinds)."""
    from ..pdata import KIND_STR, to_variant, variant_kind

    return lambda m: F.transform_values(
        m,
        lambda _, v: F.when(
            variant_kind(v) == F.lit(KIND_STR),
            to_variant(fn(F.try_variant_get(v, "$", "string"))),
        ).otherwise(v),
    )


def _ed_replace_all_patterns(stmt, ctx, df, cond):
    # replace_all_patterns(target_map, "key"|"value", regex, replacement)
    target, mode, pat, repl = stmt.editor.args[:4]
    m, p, r = literal_arg(mode), literal_arg(pat), literal_arg(repl)
    if m == "value":
        return _map_edit(
            ctx, df, target,
            lambda mp: F.transform_values(
                mp, lambda _, v: F.regexp_replace(v, p, r)
            ),
            cond,
            fn_variant=_variant_string_value_edit(
                lambda s: F.regexp_replace(s, p, r)
            ),
        )

    def rekey(mp):
        return F.map_from_entries(F.transform(
            F.map_entries(mp),
            lambda e: F.struct(
                F.regexp_replace(e["key"], p, r).alias("key"),
                e["value"].alias("value"),
            ),
        ))

    return _map_edit(ctx, df, target, rekey, cond, fn_variant=rekey)


def _ed_replace_all_matches(stmt, ctx, df, cond):
    target, glob, repl = stmt.editor.args[:3]
    rx = _glob_to_rx(literal_arg(glob))
    r = literal_arg(repl)
    return _map_edit(
        ctx, df, target,
        lambda m: F.transform_values(
            m, lambda _, v: F.when(v.rlike(rx), F.lit(r)).otherwise(v)
        ),
        cond,
        fn_variant=_variant_string_value_edit(
            lambda s: F.when(s.rlike(rx), F.lit(r)).otherwise(s)
        ),
    )


def _ed_merge_maps(stmt, ctx, df, cond):
    # merge_maps(target, source, "insert"|"update"|"upsert") README.md:255
    target, source, mode = stmt.editor.args
    col = _map_target(ctx, target)
    src = compile_value(source, ctx)
    src_t = static_type(source, ctx)
    if ctx.path_types.get(col) == VARIANT:
        return _merge_maps_variant(
            ctx, df, col, src, src_t, literal_arg(mode), cond
        )
    if src_t == VARIANT:
        # runtime-typed source into an erased target: type-erase values
        # (AsString convention, matching ingestion)
        from ..pdata import variant_object_map, variant_render

        src = F.transform_values(
            variant_object_map(src), lambda _, v: variant_render(v)
        )
    elif src_t == DYNAMIC:
        # a map stored inside a map value is its JSON rendering — lift it
        src = F.from_json(src.cast("string"), "map<string,string>")
    t = F.coalesce(F.col(col), F.create_map().cast("map<string,string>"))
    s = F.coalesce(src, F.create_map().cast("map<string,string>"))
    m = literal_arg(mode)
    if m == "upsert":
        new = F.map_concat(
            F.map_filter(t, lambda k, _: ~F.array_contains(F.map_keys(s), k)), s
        )
    elif m == "insert":
        new = F.map_concat(
            t, F.map_filter(s, lambda k, _: ~F.array_contains(F.map_keys(t), k))
        )
    elif m == "update":
        new = F.map_zip_with(
            t, s, lambda _, tv, sv: F.coalesce(sv, tv)
        )
        new = F.map_filter(new, lambda k, _: F.array_contains(F.map_keys(t), k))
    else:
        raise OTTLError(f"merge_maps mode {m!r}")
    return ctx.guard_map(df, col, new, cond)


def _merge_maps_variant(ctx, df, col, src, src_t, mode, cond):
    """merge_maps onto a runtime-typed (VARIANT) target: both sides are
    lifted to MAP<STRING,VARIANT>, merged with the func_merge_maps.go
    strategy, and the object rebuilt. A non-map target or source is a
    statement error (PMapGetter coercion)."""
    from ..pdata import (
        to_variant,
        variant_from_object_map,
        variant_object_map,
    )

    t = variant_object_map(F.col(col))
    if src_t == VARIANT:
        s = variant_object_map(src)
    else:
        # erased map<string,string> source: lift values to variant strings
        s = F.transform_values(src, lambda _, v: to_variant(v))
    ctx.note_failure(t.isNull(), f"{col} is not a map")
    if src_t == VARIANT:
        ctx.note_failure(s.isNull(), "merge_maps source is not a map")
    if mode == "upsert":
        new = F.map_concat(
            F.map_filter(t, lambda k, _: ~F.array_contains(F.map_keys(s), k)),
            s,
        )
    elif mode == "insert":
        new = F.map_concat(
            t, F.map_filter(s, lambda k, _: ~F.array_contains(F.map_keys(t), k))
        )
    elif mode == "update":
        new = F.map_from_entries(
            F.transform(
                F.map_entries(t),
                lambda e: F.struct(
                    e["key"].alias("key"),
                    F.coalesce(
                        F.element_at(s, e["key"]), e["value"]
                    ).alias("value"),
                ),
            )
        )
    else:
        raise OTTLError(f"merge_maps mode {mode!r}")
    return ctx.guard_map(df, col, variant_from_object_map(new), cond)


def _ed_append(stmt, ctx, df, cond):
    """append(target, value|values[]) — slice semantics (README.md:65):
    appends to a slice, CREATING one from the current scalar if needed.
    On an array-typed column this is a native array concat; on a
    type-erased map value the slice is rendered as a JSON array string
    (round-trippable: repeated appends re-parse it)."""
    target = stmt.editor.args[0]
    if len(stmt.editor.args) > 1:
        value = stmt.editor.args[1]
    else:
        value = (stmt.editor.kwargs.get("value")
                 or stmt.editor.kwargs.get("values"))
        if value is None:
            raise OTTLError("append requires a value or values argument")
    if isinstance(target, Path) and ctx.path_type(target) == VARIANT:
        # runtime-typed target (func_append.go): nil/empty → fresh slice
        # of the appended values; scalar → [scalar, …]; slice → extend;
        # map → statement error. All JVM-side on ARRAY<VARIANT>.
        from ..pdata import (
            KIND_MAP,
            _variant_missing,
            to_variant,
            variant_array,
            variant_kind,
        )

        items = value.items if isinstance(value, ListExpr) else [value]
        appended_v = F.array(
            *[to_variant(compile_value(i, ctx)) for i in items]
        )
        cur = compile_value(target, ctx)
        arr = variant_array(cur)
        missing = _variant_missing(cur)
        as_slice = (
            F.when(missing, F.array().cast("array<variant>"))
            .when(arr.isNotNull(), arr)
            .otherwise(F.array(cur))
        )
        ctx.note_failure(
            (~missing) & (variant_kind(cur) == F.lit(KIND_MAP)),
            "append: unsupported type of target field (map)",
        )
        new = F.to_variant_object(F.concat(as_slice, appended_v))
        return ctx.setter(df, target, new, cond)

    if isinstance(value, ListExpr):
        vals = [compile_value(i, ctx).cast("string") for i in value.items]
    else:
        vals = [compile_value(value, ctx).cast("string")]
    appended = F.array(*vals)

    cur = compile_value(target, ctx)
    if isinstance(target, Path):
        col, keys = ctx.resolve(target)
        if not keys and isinstance(df.schema[col].dataType, T.ArrayType):
            new = F.concat(
                F.coalesce(F.col(col), F.array().cast("array<string>")),
                appended.cast(df.schema[col].dataType.simpleString()),
            )
            return ctx.setter(df, target, new, cond)
    parsed = F.from_json(cur.cast("string"), "array<string>")
    as_slice = (
        F.when(cur.isNull(), F.array().cast("array<string>"))
        .when(parsed.isNotNull(), parsed)
        .otherwise(F.array(cur.cast("string")))
    )
    new = F.to_json(F.concat(as_slice, appended))
    return ctx.setter(df, target, new, cond)


def _glob_to_rx(glob: str) -> str:
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch in ".^$+?{}[]|()\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"


def _ed_flatten(stmt, ctx, df, cond):
    """flatten editor (ottlfuncs/README.md:129 — flatten(target, prefix,
    depth)): flatten a nested structure into dotted keys. In this engine's
    typed model, attributes maps are MAP<STRING,STRING> (flat by
    construction — flattening is a prefix rename at most); the genuinely
    nested case is a parsed STRUCT column (e.g. from_json output), which
    flattens statically from its schema into a MAP of leaf paths —
    resolved entirely at compile time, zero runtime dispatch."""
    args = stmt.editor.args
    kw = stmt.editor.kwargs
    target = args[0]
    prefix = str(literal_arg(args[1])) if len(args) > 1 else (
        str(literal_arg(kw["prefix"])) if "prefix" in kw else "")
    depth = int(literal_arg(args[2])) if len(args) > 2 else (
        int(literal_arg(kw["depth"])) if "depth" in kw else None)
    col = _map_target(ctx, target)
    if ctx.path_types.get(col) == VARIANT:
        # runtime-typed tree: shapes differ per row, so this is the one
        # editor that genuinely needs per-row recursion — an Arrow-batched
        # UDF over the JSON rendering (the documented slow path), exact
        # func_flatten.go flattenHelper semantics.
        from ..pdata import variant_object_map

        m = variant_object_map(F.col(col))
        ctx.note_failure(m.isNull(), f"{col} is not a map")
        udf = _flatten_variant_udf(prefix, depth)
        new = F.parse_json(udf(F.to_json(F.col(col))))
        return ctx.guard_map(df, col, new, cond)
    dtype = df.schema[col].dataType

    if isinstance(dtype, T.MapType):
        if not prefix:
            return df  # already depth-1
        new = F.transform_keys(
            F.col(col), lambda k, _: F.concat(F.lit(prefix + "."), k)
        )
        return ctx.guard_map(df, col, new, cond)

    if isinstance(dtype, T.StructType):
        kv: list[Column] = []

        def walk(st: T.StructType, parts: list[str], d: int) -> None:
            for fld in st.fields:
                p = [*parts, fld.name]
                if isinstance(fld.dataType, T.StructType) and (
                    depth is None or d <= depth
                ):
                    walk(fld.dataType, p, d + 1)
                else:
                    name = ".".join(([prefix] if prefix else []) + p)
                    c = F.col(col)
                    for part in p:
                        c = c.getField(part)
                    kv.extend([F.lit(name), c.cast("string")])

        walk(dtype, [], 1)
        new = F.create_map(*kv)
        if cond is not None:
            # flattening a struct changes the COLUMN TYPE (struct → map);
            # a per-row `where` can't leave some rows struct-typed in a
            # relational engine. The reference mutates rows independently
            # and has no such constraint — documented deviation.
            raise OTTLError(
                "flatten on a struct target cannot take a where clause"
            )
        return df.withColumn(col, new)

    raise OTTLError("flatten target must be a map or struct column")


def _flatten_variant_udf(prefix: str, depth: int | None):
    """Arrow UDF: variant-object JSON text → flattened-object JSON text.
    Mirrors func_flatten.go flattenHelper exactly: maps recurse to
    "prefix.key" until ``depth``; slices ALWAYS expand one level to
    "key.i" with elements copied as-is; a map at max depth is copied as a
    leaf. The BYTES_TAG wrapper is a bytes LEAF, never recursed.
    asNondeterministic: prevents Catalyst re-inlining per consumer (the
    grok-UDF trap, operators/parse.py)."""
    import json as _json

    from pyspark.sql.pandas.functions import pandas_udf

    from ..pdata import BYTES_TAG

    max_depth = depth if depth is not None else (1 << 62)

    def _series(s):
        def flat(txt):
            if txt is None:
                return None
            try:
                d = _json.loads(txt)
            except _json.JSONDecodeError:
                return None
            if not isinstance(d, dict):
                return None
            out = {}

            def helper(mp, pfx, cur):
                p = pfx + "." if pfx else ""
                for k, v in mp.items():
                    if (isinstance(v, dict) and set(v) != {BYTES_TAG}
                            and cur < max_depth):
                        helper(v, p + k, cur + 1)
                    elif isinstance(v, list):
                        for i, x in enumerate(v):
                            out[f"{p}{k}.{i}"] = x
                    else:
                        out[p + k] = v

            helper(d, prefix, 0)
            return _json.dumps(out, ensure_ascii=False,
                               separators=(",", ":"))

        return s.map(flat)

    return pandas_udf(_series, "string").asNondeterministic()


EDITORS = {
    "set": _ed_set,
    "flatten": _ed_flatten,
    "delete_key": _ed_delete_key,
    "delete_matching_keys": _ed_delete_matching_keys,
    "keep_matching_keys": _ed_keep_matching_keys,
    "keep_keys": _ed_keep_keys,
    "truncate_all": _ed_truncate_all,
    "limit": _ed_limit,
    "replace_pattern": _ed_replace_pattern,
    "replace_match": _ed_replace_match,
    "replace_all_patterns": _ed_replace_all_patterns,
    "replace_all_matches": _ed_replace_all_matches,
    "merge_maps": _ed_merge_maps,
    "append": _ed_append,
}


def _compile_one(src: str, ctx: Context, group_guard: Column | None = None):
    """One statement → (DataFrame → DataFrame), with error-mode wiring.

    Failures noted while compiling the WHERE clause are seeded back in at
    apply time so the editor's _fold_failures sees condition failures too
    (parser.go:281-298: a condition error is a statement error)."""
    stmt = parse_statement(src)
    editor = EDITORS.get(stmt.editor.name)
    if editor is None:
        raise OTTLError(f"unknown editor {stmt.editor.name!r}")
    ctx.take_failures()
    cond = compile_bool(stmt.where, ctx) if stmt.where is not None else None
    where_fails = ctx.take_failures()
    if group_guard is not None:
        cond = group_guard if cond is None else (group_guard & cond)

    def apply(df: DataFrame) -> DataFrame:
        ctx.take_failures()
        ctx._failures.extend(where_fails)
        return editor(stmt, ctx, df, cond)

    return apply


def compile_statement(src: str, ctx: Context | None = None):
    """OTTL statement string → (DataFrame → DataFrame)."""
    return _compile_one(src, ctx or Context())


class StatementSequence:
    """Ordered statements over one context — the transformprocessor unit
    (internal/logs/processor.go:53-66). Optional ``conditions`` guard the
    whole group (config.go:11-37): if set, statements only apply to rows
    matching ANY condition (OR, the processor default)."""

    def __init__(
        self,
        statements: list[str],
        conditions: list[str] | None = None,
        path_map: dict | None = None,
        error_mode: str = "ignore",
        path_types: dict | None = None,
    ):
        self.ctx = Context(path_map, error_mode, path_types)
        guard = None
        if conditions:
            cols = [compile_condition(c, self.ctx) for c in conditions]
            guard = cols[0]
            for c in cols[1:]:
                guard = guard | c
        self._fns = [_compile_one(s, self.ctx, guard) for s in statements]
        # OTTL `cache` context (pkg/ottl/contexts — every context carries
        # a per-record scratch map shared by the statements of one
        # sequence and discarded afterwards). Detected lexically on the
        # `cache` path token so sequences that never touch it pay nothing.
        import re as _re

        self._uses_cache = any(
            _re.search(r"\bcache\b", s)
            for s in list(statements) + list(conditions or [])
        )

    def apply(self, df: DataFrame) -> DataFrame:
        cache_col = self.ctx.path_map.get("cache", "cache")
        added_cache = False
        if self._uses_cache and cache_col not in df.columns:
            # starts EMPTY for every record (the reference allocates a
            # fresh cache per TransformContext)
            df = df.withColumn(
                cache_col,
                F.create_map().cast("map<string,string>"),
            )
            added_cache = True
        for fn in self._fns:
            df = fn(df)
        if added_cache:
            df = df.drop(cache_col)
        return df
