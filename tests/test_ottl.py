"""Mini-OTTL statement corpus — mirrors the reference's e2e statement
tests (pkg/ottl/e2e/e2e_test.go: statement in → full context out).

Each case: input row (canonical log shape) → OTTL statement(s) →
expected output fields. Run on one small DataFrame in a single pass per
case; results compared exactly.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_contrib_spark.ottl import (
    OTTLError,
    StatementSequence,
    compile_condition,
    compile_statement,
    parse_statement,
)
from opentelemetry_collector_contrib_spark.ottl.compiler import Context

LOG_SCHEMA = T.StructType([
    T.StructField("body", T.StringType()),
    T.StructField("severity_number", T.IntegerType()),
    T.StructField("severity_text", T.StringType()),
    T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
    T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    T.StructField("ts", T.TimestampType()),
])

ROW = {
    "body": "operationA err=E1234 dur_ms=1500",
    "severity_number": 17,
    "severity_text": "ERROR",
    "attributes": {"http.method": "get", "http.path": "/health", "flags": "A|B|C"},
    "resource": {"host.name": "localhost"},
    "ts": datetime.datetime(2025, 1, 1, 10, 30, 45),
}


@pytest.fixture(scope="module")
def log_df(spark):
    return spark.createDataFrame([ROW], LOG_SCHEMA)


def one(df):
    return df.collect()[0].asDict(recursive=True)


# ---- statement corpus: (statement, field, expected) ----------------------
CASES = [
    ('set(attributes["test"], "pass")', None, ("test", "pass")),
    ('set(attributes["test"], severity_text)', None, ("test", "ERROR")),
    ('set(attributes["n"], severity_number)', None, ("n", "17")),
    ('set(attributes["test"], "pass") where severity_number == SEVERITY_NUMBER_ERROR',
     None, ("test", "pass")),
    ('set(attributes["test"], "pass") where severity_number < SEVERITY_NUMBER_ERROR',
     None, ("test", None)),
    ('set(attributes["test"], "pass") where attributes["http.method"] == "get"',
     None, ("test", "pass")),
    ('set(attributes["test"], "pass") where attributes["nope"] == nil',
     None, ("test", "pass")),
    ('set(attributes["test"], "pass") where not (severity_text == "INFO")',
     None, ("test", "pass")),
    ('set(attributes["test"], "pass") where severity_text == "INFO" or body == "operationA err=E1234 dur_ms=1500"',
     None, ("test", "pass")),
    # converters
    ('set(attributes["c"], Concat(["a", attributes["http.method"]], "-"))',
     None, ("c", "a-get")),
    ('set(attributes["c"], ConvertCase(severity_text, "lower"))',
     None, ("c", "error")),
    ('set(attributes["c"], ConvertCase(attributes["http.method"], "upper"))',
     None, ("c", "GET")),
    ('set(attributes["c"], ConvertCase("http_server_duration", "camel"))',
     None, ("c", "HttpServerDuration")),
    ('set(attributes["c"], ConvertCase("fooBarBaz", "snake"))',
     None, ("c", "foo_bar_baz")),
    ('set(attributes["c"], Int("42") + 1)', None, ("c", "43")),
    ('set(attributes["c"], Double("4.5"))', None, ("c", "4.5")),
    ('set(attributes["c"], Int(4.9))', None, ("c", "4")),
    ('set(attributes["c"], Len(body))', None, ("c", "32")),
    ('set(attributes["c"], SHA256("pass"))',
     None, ("c", "d74ff0ee8da3b9806b18c877dbf29bbde50b5bd8e4dad7a3a725000feb82e8f1")),
    ('set(attributes["c"], Substring(body, 0, 9))', None, ("c", "operation")),
    ('set(attributes["c"], Hex(255)) where true', None, ("c", "00000000000000ff")),
    ('set(attributes["c"], String(severity_number))', None, ("c", "17")),
    ('set(attributes["c"], Format("%s=%s", ["k", "v"]))', None, ("c", "k=v")),
    ('set(attributes["c"], Split(attributes["flags"], "|"))',
     None, ("c", "[A, B, C]")),
    ('set(attributes["c"], Year(time))', None, ("c", "2025")),
    ('set(attributes["c"], Hour(time))', None, ("c", "10")),
    ('set(attributes["c"], UnixSeconds(TruncateTime(time, "1h")))',
     None, ("c", "1735725600")),
    ('set(attributes["c"], Seconds(Duration("1h30m")))', None, ("c", "5400.0")),
    ('set(attributes["c"], IsMatch(body, "err=E\\\\d+"))', None, ("c", "true")),
    ('set(attributes["c"], "m") where IsMatch(body, "operationA.*")',
     None, ("c", "m")),
    # math (LANGUAGE.md:196-226)
    ('set(attributes["c"], 2 * 3 + 1)', None, ("c", "7")),
    ('set(attributes["c"], 7 / 2)', None, ("c", "3")),
    ('set(attributes["c"], 7.0 / 2)', None, ("c", "3.5")),
    ('set(attributes["c"], (2 + 3) * 2)', None, ("c", "10")),
    ('set(attributes["c"], 10 - 4)', None, ("c", "6")),
    ('set(attributes["c"], 1.5 + 2.5)', None, ("c", "4.0")),
    ('set(attributes["c"], 100 / 7)', None, ("c", "14")),
    # encoding / hashing converters
    ('set(attributes["c"], Base64Decode("cGFzcw=="))', None, ("c", "pass")),
    ('set(attributes["c"], Trim("  x "))', None, ("c", "x")),
    ('set(attributes["c"], MD5("pass"))',
     None, ("c", "1a1dc91c907325c69271ddf0c944bc72")),
    ('set(attributes["c"], SHA1("pass"))',
     None, ("c", "9d4e1e23bd5b727046a9e3b4b7db57bd8d6ee684")),
    ('set(attributes["c"], SHA512("pass"))',
     None, ("c", "5b722b307fce6c944905d132691d5e4a2214b7fe92b738920eb3fce3a90420a19511c3010a0e7712b054daef5b57bad59ecbd93b3280f210578f547f4aed4d25")),
    ('set(attributes["c"], Hex("ff"))', None, ("c", "6666")),
    ('set(attributes["c"], Hex(255) )', None, ("c", "00000000000000ff")),
    # string converters
    ('set(attributes["c"], ConvertCase("foo_bar", "camel"))',
     None, ("c", "FooBar")),
    ('set(attributes["c"], ConvertCase("FooBar", "snake"))',
     None, ("c", "foo_bar")),
    ('set(attributes["c"], Substring(body, 10, 8))', None, ("c", " err=E12")),
    ('set(attributes["c"], Len(Split(attributes["flags"], "|")))',
     None, ("c", "3")),
    ('set(attributes["c"], Len(ParseKeyValue("a=1 b=2")))', None, ("c", "2")),
    ('set(attributes["c"], Len("hello"))', None, ("c", "5")),
    ('set(attributes["c"], Sort(Split("c|a|b", "|")))',
     None, ("c", "[a, b, c]")),
    ('set(attributes["c"], Sort(Split("c|a|b", "|"), "desc"))',
     None, ("c", "[c, b, a]")),
    ('set(attributes["c"], ParseCSV("a,b,c"))', None, ("c", "[a, b, c]")),
    ('set(attributes["c"], Log(1.0))', None, ("c", "0.0")),
    # type checks — TYPE checks, not parseability (README.md:825-975):
    # a string literal is a string no matter what it spells
    ('set(attributes["c"], IsBool("true"))', None, ("c", "false")),
    ('set(attributes["c"], IsBool(true))', None, ("c", "true")),
    ('set(attributes["c"], IsInt("42"))', None, ("c", "false")),
    ('set(attributes["c"], IsInt(42))', None, ("c", "true")),
    ('set(attributes["c"], IsInt(4.2))', None, ("c", "false")),
    ('set(attributes["c"], IsDouble("4.2"))', None, ("c", "false")),
    ('set(attributes["c"], IsDouble(4.2))', None, ("c", "true")),
    ('set(attributes["c"], IsString(body))', None, ("c", "true")),
    ('set(attributes["c"], IsString(severity_number))', None, ("c", "false")),
    ('set(attributes["c"], IsMap(attributes))', None, ("c", "true")),
    ('set(attributes["c"], IsMap(body))', None, ("c", "false")),
    ('set(attributes["c"], IsMap(ParseJSON("{\\"a\\": 1}")))', None, ("c", "true")),
    ('set(attributes["c"], IsList(Split(body, " ")))', None, ("c", "true")),
    ('set(attributes["c"], IsList(attributes))', None, ("c", "false")),
    # dynamic (type-erased map value) fallback: "4.2" renders numeric
    ('set(attributes["c"], IsDouble(attributes["http.method"]))',
     None, ("c", "false")),
    ('set(attributes["c"], Len(attributes))', None, ("c", "3")),
    ('set(attributes["c"], String(3.14))', None, ("c", "3.14")),
    ('set(attributes["c"], Int("oops"))', None, ("c", None)),  # null → no upsert
    ('set(attributes["c"], Double("1e3"))', None, ("c", "1000.0")),
    # time converters (ts = 2025-01-01T10:30:45 UTC)
    ('set(attributes["c"], Day(time))', None, ("c", "1")),
    ('set(attributes["c"], Month(time))', None, ("c", "1")),
    ('set(attributes["c"], Minute(time))', None, ("c", "30")),
    ('set(attributes["c"], UnixSeconds(time))', None, ("c", "1735727445")),
    ('set(attributes["c"], UnixMilli(time))', None, ("c", "1735727445000")),
    ('set(attributes["c"], UnixMicro(time))', None, ("c", "1735727445000000")),
    ('set(attributes["c"], UnixNano(time))', None, ("c", "1735727445000000000")),
    ('set(attributes["c"], UnixSeconds(TruncateTime(time, "1m")))',
     None, ("c", "1735727400")),
    ('set(attributes["c"], UnixSeconds(Time("2025-02-03 04:05:06", "%Y-%m-%d %H:%M:%S")))',
     None, ("c", "1738555506")),
    # duration converters
    ('set(attributes["c"], Seconds(Duration("250ms")))', None, ("c", "0.25")),
    ('set(attributes["c"], Hours(Duration("90m")))', None, ("c", "1.5")),
    ('set(attributes["c"], Minutes(Duration("90s")))', None, ("c", "1.5")),
    ('set(attributes["c"], Milliseconds(Duration("1s")))', None, ("c", "1000")),  # Go Duration.Milliseconds → int64
    ('set(attributes["c"], Microseconds(Duration("1ms")))', None, ("c", "1000")),
    ('set(attributes["c"], Nanoseconds(Duration("1us")))', None, ("c", "1000")),
    # integral duration units TRUNCATE toward zero like Go's int64
    # division (Duration.Milliseconds of 1500us is 1, not 2)
    ('set(attributes["c"], Milliseconds(Duration("1500us")))', None, ("c", "1")),
    ('set(attributes["c"], Microseconds(Duration("2500ns")))', None, ("c", "2")),
    ('set(attributes["c"], Milliseconds(Duration("2ms")))', None, ("c", "2")),
    # ids / epoch constructors
    ('set(attributes["c"], SpanID(0x0102030405060708))',
     None, ("c", "0102030405060708")),
    ('set(attributes["c"], TraceID(0x0102030405060708090a0b0c0d0e0f10))',
     None, ("c", "0102030405060708090a0b0c0d0e0f10")),
    ('set(attributes["c"], UnixSeconds(Unix(1672527600)))',
     None, ("c", "1672527600")),
    ('set(attributes["c"], UnixMicro(Unix(1672527600, 500000)))',
     None, ("c", "1672527600000500")),
    # boolean expression semantics (LANGUAGE.md:228-291)
    ('set(attributes["c"], "y") where 1 == 1.0', None, ("c", "y")),
    ('set(attributes["c"], "y") where 2 > 1.5', None, ("c", "y")),
    ('set(attributes["c"], "y") where nil == nil', None, ("c", "y")),
    ('set(attributes["c"], "y") where attributes["http.method"] != nil',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where false and true or true',
     None, ("c", "y")),  # OR binds looser than AND
    ('set(attributes["c"], "y") where false and (true or true)',
     None, ("c", None)),
    ('set(attributes["c"], "y") where not false', None, ("c", "y")),
    ('set(attributes["c"], "y") where severity_text > "DEBUG"',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where severity_number >= SEVERITY_NUMBER_WARN',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where severity_number == SEVERITY_NUMBER_FATAL',
     None, ("c", None)),
    ('set(attributes["c"], "y") where body != nil and Len(body) > 10',
     None, ("c", "y")),
    # cross-type comparison matrix (pkg/ottl/compare.go, LANGUAGE.md:228-291)
    ('set(attributes["c"], "y") where "5" == 5', None, ("c", None)),
    ('set(attributes["c"], "y") where "5" != 5', None, ("c", "y")),
    ('set(attributes["c"], "y") where 5 < "6"', None, ("c", None)),
    ('set(attributes["c"], "y") where severity_number == 17.0',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where severity_number < 17.5',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where severity_number == "17"',
     None, ("c", None)),
    ('set(attributes["c"], "y") where true > false', None, ("c", "y")),
    ('set(attributes["c"], "y") where true < false', None, ("c", None)),
    ('set(attributes["c"], "y") where false <= true', None, ("c", "y")),
    ('set(attributes["c"], "y") where true == 1', None, ("c", None)),
    ('set(attributes["c"], "y") where true != 1', None, ("c", "y")),
    ('set(attributes["c"], "y") where nil != nil', None, ("c", None)),
    ('set(attributes["c"], "y") where nil <= nil', None, ("c", "y")),
    ('set(attributes["c"], "y") where attributes["nope"] == "x"',
     None, ("c", None)),
    ('set(attributes["c"], "y") where attributes["nope"] != "x"',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where attributes["nope"] < "x"',
     None, ("c", None)),
    ('set(attributes["c"], "y") where attributes["nope"] <= nil',
     None, ("c", "y")),
    # dynamic map value vs typed scalar: numeric rendering compares
    # numerically; non-numeric rendering is a type mismatch (ne-only)
    ('set(attributes["c"], "y") where attributes["flags"] == 100',
     None, ("c", None)),
    ('set(attributes["c"], "y") where attributes["flags"] != 100',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where attributes["flags"] < 100',
     None, ("c", None)),
    # time arithmetic (LANGUAGE.md:196-226: time-time=duration,
    # time±duration=time) — the e2e corpus shape
    ('set(attributes["c"], "y") where Time("10", "%M") - Time("01", "%M") < Duration("10m")',
     None, ("c", "y")),
    ('set(attributes["c"], "y") where Time("10", "%M") - Time("01", "%M") > Duration("10m")',
     None, ("c", None)),
    ('set(attributes["c"], UnixSeconds(time - Duration("45s")))',
     None, ("c", "1735727400")),
    ('set(attributes["c"], UnixSeconds(time + Duration("15s")))',
     None, ("c", "1735727460")),
    ('set(attributes["c"], Seconds(time - TruncateTime(time, "1h")))',
     None, ("c", "1845.0")),
    # paths
    ('set(attributes["c"], resource.attributes["host.name"])',
     None, ("c", "localhost")),
    ('set(attributes["c"], body.string)', None,
     ("c", "operationA err=E1234 dur_ms=1500")),
    ('set(attributes["c"], attributes["http.method"]) where IsMatch(attributes["http.path"], "^/h")',
     None, ("c", "get")),
]


@pytest.mark.parametrize("stmt,_,expect", CASES, ids=[c[0][:60] for c in CASES])
def test_statement(log_df, stmt, _, expect):
    fn = compile_statement(stmt)
    out = one(fn(log_df))
    key, val = expect
    got = out["attributes"].get(key)
    assert got == val, f"{stmt}: attributes[{key}] = {got!r}, want {val!r}"


def test_set_scalar_field(log_df):
    fn = compile_statement('set(severity_text, "SEEN") where severity_number >= 17')
    assert one(fn(log_df))["severity_text"] == "SEEN"


def test_delete_key(log_df):
    fn = compile_statement('delete_key(attributes, "http.path")')
    out = one(fn(log_df))
    assert "http.path" not in out["attributes"]
    assert "http.method" in out["attributes"]


def test_delete_matching_keys(log_df):
    fn = compile_statement('delete_matching_keys(attributes, "^http.*")')
    assert set(one(fn(log_df))["attributes"]) == {"flags"}


def test_keep_matching_keys(log_df):
    fn = compile_statement('keep_matching_keys(attributes, "^http.*")')
    assert set(one(fn(log_df))["attributes"]) == {"http.method", "http.path"}


def test_keep_keys(log_df):
    fn = compile_statement('keep_keys(attributes, ["http.method"])')
    assert set(one(fn(log_df))["attributes"]) == {"http.method"}


def test_truncate_all(log_df):
    fn = compile_statement("truncate_all(attributes, 3)")
    out = one(fn(log_df))["attributes"]
    assert out["http.method"] == "get" and out["http.path"] == "/he"


def test_limit_with_priority(log_df):
    fn = compile_statement('limit(attributes, 2, ["flags"])')
    out = one(fn(log_df))["attributes"]
    assert len(out) == 2 and "flags" in out


def test_replace_pattern(log_df):
    fn = compile_statement('replace_pattern(attributes["http.path"], "/health", "/ok")')
    assert one(fn(log_df))["attributes"]["http.path"] == "/ok"


def test_replace_match_glob(log_df):
    fn = compile_statement('replace_match(attributes["http.path"], "/hea*", "{url}")')
    assert one(fn(log_df))["attributes"]["http.path"] == "{url}"


def test_replace_all_matches(log_df):
    fn = compile_statement('replace_all_matches(attributes, "get", "GET")')
    out = one(fn(log_df))["attributes"]
    assert out["http.method"] == "GET" and out["http.path"] == "/health"


def test_replace_all_patterns_keys(log_df):
    fn = compile_statement('replace_all_patterns(attributes, "key", "^http\\\\.", "h.")')
    out = one(fn(log_df))["attributes"]
    assert "h.method" in out and "http.method" not in out


def test_merge_maps_upsert(log_df):
    fn = compile_statement('merge_maps(attributes, resource.attributes, "upsert")')
    out = one(fn(log_df))["attributes"]
    assert out["host.name"] == "localhost" and out["http.method"] == "get"


def test_merge_maps_insert_keeps_existing(spark):
    df = spark.createDataFrame(
        [{"attributes": {"a": "1"}, "resource": {"a": "9", "b": "2"}}],
        "attributes map<string,string>, resource map<string,string>",
    )
    fn = compile_statement('merge_maps(attributes, resource.attributes, "insert")')
    out = one(fn(df))["attributes"]
    assert out == {"a": "1", "b": "2"}


def test_append(log_df):
    # append(target, value) has SLICE semantics (ottlfuncs/README.md:65):
    # a scalar target becomes a slice first. On type-erased map values the
    # slice is rendered as a JSON array string (round-trippable).
    fn = compile_statement('append(attributes["http.method"], "!")')
    out1 = fn(log_df)
    assert one(out1)["attributes"]["http.method"] == '["get","!"]'
    # repeated append re-parses the rendered slice and extends it
    fn2 = compile_statement('append(attributes["http.method"], "?")')
    assert one(fn2(out1))["attributes"]["http.method"] == '["get","!","?"]'
    # appending to a missing key creates a fresh slice
    fn3 = compile_statement('append(attributes["list"], "x")')
    assert one(fn3(log_df))["attributes"]["list"] == '["x"]'
    # list-valued second arg appends every element
    fn4 = compile_statement('append(attributes["list"], ["a", "b"])')
    assert one(fn4(log_df))["attributes"]["list"] == '["a","b"]'


def test_append_array_column(spark):
    df = spark.createDataFrame(
        [(["a"],)], T.StructType([T.StructField("tags", T.ArrayType(T.StringType()))])
    )
    ctx = Context(path_map={"tags": "tags"})
    fn = compile_statement('append(tags, "b")', ctx)
    assert fn(df).collect()[0]["tags"] == ["a", "b"]


# ---- slice indexing (grammar.go Key = String | Int; internal/value.go) ----

def test_slice_index_get(log_df):
    # build a type-erased slice via append, then read it back by index
    df = compile_statement('append(attributes["list"], ["a", "b", "c"])')(log_df)
    out = one(compile_statement(
        'set(attributes["first"], attributes["list"][1])')(df))
    assert out["attributes"]["first"] == "b"


def test_slice_index_get_out_of_range_skips(log_df):
    # pcommon.Slice.At out of range is a statement error; ignore mode
    # leaves the record unmodified
    df = compile_statement('append(attributes["list"], ["a"])')(log_df)
    out = one(compile_statement(
        'set(attributes["oob"], attributes["list"][5])')(df))
    assert "oob" not in out["attributes"]


def test_slice_index_get_propagate_raises(log_df):
    df = compile_statement('append(attributes["list"], ["a"])')(log_df)
    ctx = Context(error_mode="propagate")
    fn = compile_statement('set(attributes["oob"], attributes["list"][5])', ctx)
    with pytest.raises(Exception, match="out of bounds"):
        fn(df).collect()


def test_slice_index_set(log_df):
    df = compile_statement('append(attributes["list"], ["a", "b"])')(log_df)
    out = one(compile_statement('set(attributes["list"][1], "B")')(df))
    assert out["attributes"]["list"] == '["a","B"]'
    # out-of-range set skips in ignore mode (internal/value.go
    # SetIndexableValue index error)
    out2 = one(compile_statement('set(attributes["list"][7], "X")')(df))
    assert out2["attributes"]["list"] == '["a","b"]'


def test_nested_set_under_slice_index(log_df):
    """set below a slice element (value.go SetIndexableValue recursing
    into a map element) — previously raised as unsupported."""
    import json as _json

    df = compile_statement('append(attributes["list"], ["a", "b"])')(log_df)
    out = one(compile_statement('set(attributes["list"][1]["k"], "v")')(df))
    lst = _json.loads(out["attributes"]["list"])
    assert lst[0] == "a" and _json.loads(lst[1]) == {"k": "v"}
    # the getter reads the nested write back
    got = one(compile_statement(
        'set(attributes["back"], attributes["list"][1]["k"])')(
        compile_statement('set(attributes["list"][1]["k"], "v")')(df)))
    assert got["attributes"]["back"] == "v"
    # out-of-range nested set skips in ignore mode
    oob = one(compile_statement('set(attributes["list"][9]["k"], "v")')(df))
    assert _json.loads(oob["attributes"]["list"]) == ["a", "b"]


def test_nested_set_under_native_array_column(spark):
    import json as _json

    schema = T.StructType([
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("nums", T.ArrayType(T.IntegerType())),
    ])
    df = spark.createDataFrame([(['{"a":"1"}', "y"], [1, 2])], schema)
    ctx = Context(path_map={"tags": "tags", "nums": "nums"},
                  path_types={"tags": "array", "nums": "array"})
    got = compile_statement('set(tags[0]["b"], "2")', ctx)(df).collect()[0]
    assert _json.loads(got["tags"][0]) == {"a": "1", "b": "2"}
    assert got["tags"][1] == "y"
    # a typed non-string element cannot hold a nested map
    ctx2 = Context(path_map={"nums": "nums"}, path_types={"nums": "array"})
    with pytest.raises(Exception, match="non-string typed slice"):
        compile_statement('set(nums[0]["k"], "v")', ctx2)(df)


def test_slice_index_array_column(spark):
    # a natively array-typed column indexes without the JSON lift (declared
    # via path_types) and sets element-wise preserving the element type
    schema = T.StructType([
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("attributes",
                      T.MapType(T.StringType(), T.StringType())),
    ])
    df = spark.createDataFrame([(["x", "y"], {})], schema)
    ctx = Context(path_map={"tags": "tags"}, path_types={"tags": "array"})
    got = compile_statement('set(attributes["t"], tags[1])', ctx)(df)
    assert got.collect()[0]["attributes"]["t"] == "y"
    ctx2 = Context(path_map={"tags": "tags"}, path_types={"tags": "array"})
    set_ = compile_statement('set(tags[0], "z")', ctx2)(df)
    assert set_.collect()[0]["tags"] == ["z", "y"]


def test_set_nil_is_noop_not_delete(log_df):
    """func_set.go: a nil value never reaches the setter — the existing
    value stays (round 3 deleted the key on nil)."""
    out = one(
        compile_statement(
            'set(attributes["http.method"], attributes["missing"])'
        )(log_df)
    )
    assert out["attributes"]["http.method"] == "get"
    out2 = one(compile_statement('set(attributes["http.method"], nil)')(
        log_df
    ))
    assert out2["attributes"]["http.method"] == "get"
    # whole-column set with nil keeps the column
    out3 = one(compile_statement("set(body, nil)")(log_df))
    assert out3["body"] == ROW["body"]


def test_set_runtime_nil_and_where_on_absent_column(spark):
    """func_set.go `if val != nil`: a value that is nil at runtime leaves
    an existing target intact, and a false where clause writes nothing,
    also when the target column does not exist yet."""
    df = spark.createDataFrame([({"a": "keep"},)],
                               "attributes map<string,string>")
    out = one(compile_statement(
        'set(attributes["a"], attributes["missing"])')(df))
    assert out["attributes"] == {"a": "keep"}
    ctx = Context(path_map={"extra": "extra"})
    for stmt in ('set(extra, "x") where false',
                 'set(extra, attributes["missing"])'):
        assert one(compile_statement(stmt, ctx)(df))["extra"] is None, stmt


def test_deep_map_set_three_keys(log_df):
    """set deeper than 2 keys rebuilds every erased level (map.go
    SetMapValue traverses arbitrarily; round-3 capped at 2)."""
    import json as _json

    def levels(txt, *keys):
        # each erased level is a JSON-object STRING (the getter re-lifts
        # level by level: map<string,string> values are strings)
        for k in keys:
            txt = _json.loads(txt)[k]
        return txt

    out = one(
        compile_statement('set(attributes["a"]["b"]["c"], "deep")')(log_df)
    )
    assert levels(out["attributes"]["a"], "b", "c") == "deep"
    # the getter reads its own write back at full depth
    got = one(
        compile_statement(
            'set(attributes["copy"], attributes["a"]["b"]["c"])'
        )(compile_statement('set(attributes["a"]["b"]["c"], "deep")')(
            log_df
        ))
    )
    assert got["attributes"]["copy"] == "deep"
    # existing sibling levels survive the rebuild
    df2 = compile_statement('set(attributes["a"]["b"]["keep"], "1")')(log_df)
    out2 = one(
        compile_statement('set(attributes["a"]["b"]["c"], "x")')(df2)
    )
    b = _json.loads(out2["attributes"]["a"])["b"]
    assert _json.loads(b) == {"c": "x", "keep": "1"}


def test_deep_set_mixed_map_slice_keys(log_df):
    """String and int keys interleave at depth: slice elements under a
    nested map are bounds-checked element replaces."""
    import json as _json

    df = compile_statement('append(attributes["lists"], ["x", "y"])')(log_df)
    # wrap: lists is a JSON array under the key; nest it one deeper
    df = compile_statement(
        'set(attributes["deep"]["inner"], attributes["lists"])'
    )(df)
    out = one(
        compile_statement('set(attributes["deep"]["inner"][1], "Y")')(df)
    )
    assert _json.loads(out["attributes"]["deep"]) == {
        "inner": '["x","Y"]'
    }
    # out-of-bounds at depth skips the whole statement (ignore mode)
    out2 = one(
        compile_statement('set(attributes["deep"]["inner"][9], "Z")')(df)
    )
    assert _json.loads(out2["attributes"]["deep"]) == {
        "inner": '["x","y"]'
    }


def test_negative_slice_index_rejected(log_df):
    with pytest.raises(OTTLError, match="negative"):
        compile_statement('set(attributes["x"], attributes["list"][-1])')(log_df)


# ---- error modes (pkg/ottl/config.go:11-27, parser.go:281-298) ------------

def test_error_mode_ignore_skips_statement(log_df):
    # Int of a non-numeric attr fails in the reference; ignore mode leaves
    # the record unmodified (statement skipped), not null-poisoned
    seq = StatementSequence(
        ['set(attributes["c"], Int(attributes["http.method"]))'],
        error_mode="ignore",
    )
    assert "c" not in one(seq.apply(log_df))["attributes"]


def test_error_mode_ignore_where_clause_failure(log_df):
    seq = StatementSequence(
        ['set(attributes["c"], "y") where Int(attributes["http.method"]) == 1'],
        error_mode="ignore",
    )
    assert "c" not in one(seq.apply(log_df))["attributes"]


def test_error_mode_propagate_raises(log_df):
    seq = StatementSequence(
        ['set(attributes["c"], Int(attributes["http.method"]))'],
        error_mode="propagate",
    )
    with pytest.raises(Exception, match="ottl:"):
        seq.apply(log_df).collect()


def test_error_mode_propagate_ok_rows_pass(log_df):
    seq = StatementSequence(
        ['set(attributes["c"], Int("42") + 1)'],
        error_mode="propagate",
    )
    assert one(seq.apply(log_df))["attributes"]["c"] == "43"


def test_substring_out_of_range(log_df):
    # reference errors when start+length exceeds the target
    # (func_substring.go:34-58); Spark alone would silently truncate
    ign = StatementSequence(
        ['set(attributes["c"], Substring(body, 0, 100))'], error_mode="ignore"
    )
    assert "c" not in one(ign.apply(log_df))["attributes"]
    prop = StatementSequence(
        ['set(attributes["c"], Substring(body, 0, 100))'],
        error_mode="propagate",
    )
    with pytest.raises(Exception, match="ottl:"):
        prop.apply(log_df).collect()
    # negative start / non-positive length are rejected when the editor
    # compiles its value expressions (first apply)
    with pytest.raises(OTTLError):
        compile_statement('set(attributes["c"], Substring(body, -1, 2))')(log_df)
    with pytest.raises(OTTLError):
        compile_statement('set(attributes["c"], Substring(body, 0, 0))')(log_df)


def test_log_error_modes(log_df):
    ign = StatementSequence(
        ['set(attributes["c"], Log(0))'], error_mode="ignore"
    )
    assert "c" not in one(ign.apply(log_df))["attributes"]
    prop = StatementSequence(
        ['set(attributes["c"], Log(0))'], error_mode="propagate"
    )
    with pytest.raises(Exception, match="ottl:"):
        prop.apply(log_df).collect()


def test_parse_json_error_modes(log_df):
    ign = StatementSequence(
        ['set(attributes["c"], Len(ParseJSON("not json")))'],
        error_mode="ignore",
    )
    assert "c" not in one(ign.apply(log_df))["attributes"]
    prop = StatementSequence(
        ['set(attributes["c"], Len(ParseJSON("not json")))'],
        error_mode="propagate",
    )
    with pytest.raises(Exception, match="ottl:"):
        prop.apply(log_df).collect()


# ---- new converters -------------------------------------------------------

def test_parse_xml(log_df):
    xml = ('<Log><User><ID>00001</ID><Name type="first">Joe</Name></User>'
           "<Text>User fired alert A</Text></Log>")
    # compile the converter directly to inspect typed fields
    from opentelemetry_collector_contrib_spark.ottl.compiler import (
        compile_value, Context as Ctx,
    )
    from opentelemetry_collector_contrib_spark.ottl.parser import _Parser

    node = _Parser(f'ParseXML("{_xml_quote(xml)}")').value()
    col = compile_value(node, Ctx())
    # VARIANT result (the reference returns a pcommon.Map) — typed paths
    # extract any depth
    row = log_df.select(
        F.try_variant_get(col, "$.tag", "string").alias("tag"),
        F.try_variant_get(col, "$.children[0].tag", "string").alias("c0"),
        F.try_variant_get(
            col, "$.children[0].children[0].content", "string"
        ).alias("id"),
        F.try_variant_get(
            col, "$.children[0].children[1].attributes.type", "string"
        ).alias("ntype"),
        F.try_variant_get(col, "$.children[1].content", "string")
        .alias("text"),
    ).collect()[0]
    assert row["tag"] == "Log"
    assert row["c0"] == "User"
    assert row["id"] == "00001"
    assert row["ntype"] == "first"
    assert row["text"] == "User fired alert A"


def test_parse_xml_unbounded_depth(log_df):
    """Round 3 capped the static struct at depth 6; the VARIANT form is
    unbounded like the reference (README.md:1218)."""
    depth = 12
    xml = "".join(f"<l{i}>" for i in range(depth)) + "leaf" + "".join(
        f"</l{i}>" for i in reversed(range(depth))
    )
    from opentelemetry_collector_contrib_spark.ottl.compiler import (
        compile_value, Context as Ctx,
    )
    from opentelemetry_collector_contrib_spark.ottl.parser import _Parser

    node = _Parser(f'ParseXML("{_xml_quote(xml)}")').value()
    col = compile_value(node, Ctx())
    path = "$" + ".children[0]" * (depth - 1) + ".content"
    row = log_df.select(
        F.try_variant_get(col, "$.tag", "string").alias("t"),
        F.try_variant_get(col, path, "string").alias("leaf"),
    ).collect()[0]
    assert row["t"] == "l0"
    assert row["leaf"] == "leaf"


def _xml_quote(s):
    return s.replace('"', '\\"')


def test_parse_xml_invalid_error_modes(log_df):
    ign = StatementSequence(
        ['set(attributes["c"], String(ParseXML("<unclosed>")))'],
        error_mode="ignore",
    )
    assert "c" not in one(ign.apply(log_df))["attributes"]


def test_user_agent(log_df):
    from opentelemetry_collector_contrib_spark.ottl.compiler import (
        compile_value, Context as Ctx,
    )
    from opentelemetry_collector_contrib_spark.ottl.parser import _Parser

    for ua, want_name, want_ver in [
        ("curl/7.81.0", "curl", "7.81.0"),
        ("Mozilla/5.0 (X11; Linux x86_64; rv:126.0) Gecko/20100101 "
         "Firefox/126.0", "Firefox", "126.0"),
        ("Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like "
         "Gecko) Chrome/125.0.0.0 Safari/537.36 Edg/125.0.2535.51",
         "Edge", "125.0.2535.51"),
        ("totally-unknown-thing", "Other", None),
    ]:
        node = _Parser(f'UserAgent("{ua}")').value()
        got = log_df.select(
            compile_value(node, Ctx()).alias("m")).collect()[0]["m"]
        assert got["user_agent.name"] == want_name, ua
        assert got.get("user_agent.version") == want_ver, ua
        assert got["user_agent.original"] == ua


def test_extract_patterns(log_df):
    fn = compile_statement(
        'set(attributes["code"], ExtractPatterns(body, "err=(?P<code>E\\\\d+)"))'
    )
    # struct cast to string — verify the captured piece landed
    assert "E1234" in one(fn(log_df))["attributes"]["code"]


def test_extract_grok(log_df):
    fn = compile_statement(
        'set(attributes["g"], ExtractGrokPatterns(body, "err=%{WORD:code} dur_ms=%{INT:dur:int}"))'
    )
    got = one(fn(log_df))["attributes"]["g"]
    assert "E1234" in got and "1500" in got


def test_extract_grok_unnamed_captures(log_df):
    """namedCapturesOnly defaults FALSE (func_extract_grok_patterns.go
    :43): top-level unnamed %{SYNTAX} refs capture under the syntax
    name, duplicates suffixed."""
    fn = compile_statement(
        'set(attributes["g"], ExtractGrokPatterns(body,'
        ' "%{WORD} err=%{NOTSPACE} dur_ms=%{INT}"))'
    )
    got = one(fn(log_df))["attributes"]["g"]
    assert "operationA" in got and "E1234" in got and "1500" in got
    # duplicate syntax names suffix rather than clash
    fn2 = compile_statement(
        'set(attributes["g"], ExtractGrokPatterns(body,'
        ' "%{WORD} err=E%{INT} dur_ms=%{INT}"))'
    )
    assert "1500" in one(fn2(log_df))["attributes"]["g"]


def test_extract_grok_named_captures_only_errors(log_df):
    """namedCapturesOnly=true + no named group = startup error
    (func_extract_grok_patterns.go:72)."""
    with pytest.raises(OTTLError):
        compile_statement(
            'set(attributes["g"], ExtractGrokPatterns(body,'
            ' "%{WORD} %{INT}", true))'
        )(log_df)


def test_extract_grok_pattern_definitions(log_df):
    """patternDefinitions adds NAME=pattern customs; malformed entries
    reproduce the reference's two startup errors."""
    fn = compile_statement(
        'set(attributes["g"], ExtractGrokPatterns(body,'
        ' "%{ERRTOKEN:e}", true, ["ERRTOKEN=err=E\\\\d+"]))'
    )
    assert "err=E1234" in one(fn(log_df))["attributes"]["g"]
    with pytest.raises(OTTLError, match="incorrect format"):
        compile_statement(
            'set(attributes["g"], ExtractGrokPatterns(body,'
            ' "%{X:e}", true, ["no-equals-here"]))'
        )(log_df)
    with pytest.raises(OTTLError, match="should not contain"):
        compile_statement(
            'set(attributes["g"], ExtractGrokPatterns(body,'
            ' "%{X:e}", true, ["BAD:ID=x"]))'
        )(log_df)


def test_statement_sequence_with_conditions(log_df):
    seq = StatementSequence(
        ['set(attributes["seen"], "y")',
         'delete_key(attributes, "http.path")'],
        conditions=['severity_number >= SEVERITY_NUMBER_ERROR'],
    )
    out = one(seq.apply(log_df))
    assert out["attributes"]["seen"] == "y"
    assert "http.path" not in out["attributes"]

    seq2 = StatementSequence(
        ['set(attributes["seen"], "y")'],
        conditions=['severity_number >= SEVERITY_NUMBER_FATAL'],
    )
    assert "seen" not in one(seq2.apply(log_df))["attributes"]


def test_condition_compile(log_df):
    c = compile_condition('severity_number >= 13 and attributes["http.method"] == "get"')
    assert log_df.filter(c).count() == 1
    c2 = compile_condition('IsMatch(body, "nope.*") or severity_text == "ERROR"')
    assert log_df.filter(c2).count() == 1


def test_schema_url_and_scope_paths(log_df):
    """resource.schema_url / instrumentation_scope.{version,schema_url,
    attributes} resolve (contexts/internal/resource.go:24-31,
    scope.go:24-36)."""
    df = (
        log_df.withColumn("resource_schema_url",
                          F.lit("https://opentelemetry.io/schemas/1.21.0"))
        .withColumn("scope_version", F.lit("2.3.1"))
        .withColumn("scope_schema_url", F.lit("https://example.com/1.0"))
        .withColumn(
            "scope_attributes",
            F.create_map(F.lit("lib"), F.lit("otelspark")),
        )
    )
    c = compile_condition(
        'resource.schema_url == "https://opentelemetry.io/schemas/1.21.0" '
        'and instrumentation_scope.version == "2.3.1" '
        'and instrumentation_scope.attributes["lib"] == "otelspark"'
    )
    assert df.filter(c).count() == 1
    out = one(compile_statement(
        'set(attributes["surl"], instrumentation_scope.schema_url)'
    )(df))
    assert out["attributes"]["surl"] == "https://example.com/1.0"


def test_parse_errors(log_df):
    with pytest.raises(OTTLError):
        parse_statement('set(attributes["x"]')  # unbalanced
    with pytest.raises(OTTLError):
        compile_statement('frobnicate(attributes)')  # unknown editor
    with pytest.raises(OTTLError):
        # unknown paths surface when the statement is bound to a frame
        compile_statement('set(unknown_path, 1)')(log_df)


def test_where_on_missing_guard_keeps_other_rows(spark):
    df = spark.createDataFrame(
        [{"attributes": {"k": "1"}, "severity_number": 17},
         {"attributes": {"k": "2"}, "severity_number": 9}],
        "attributes map<string,string>, severity_number int",
    )
    fn = compile_statement(
        'set(attributes["hit"], "y") where severity_number >= 17'
    )
    rows = {r["attributes"]["k"]: r["attributes"].get("hit")
            for r in fn(df).collect()}
    assert rows == {"1": "y", "2": None}


def test_flatten_map_identity(log_df):
    fn = compile_statement("flatten(attributes)")
    assert one(fn(log_df))["attributes"] == ROW["attributes"]


def test_flatten_map_prefix(log_df):
    fn = compile_statement('flatten(attributes, "app")')
    out = one(fn(log_df))["attributes"]
    assert out["app.http.method"] == "get" and len(out) == 3


def test_flatten_struct(spark):
    df = spark.createDataFrame(
        [{"attributes": {"a": "1", "b": {"c": "2", "d": {"e": "3"}}}}],
        "attributes struct<a:string, b:struct<c:string, d:struct<e:string>>>",
    )
    fn = compile_statement("flatten(attributes)")
    assert one(fn(df))["attributes"] == {"a": "1", "b.c": "2", "b.d.e": "3"}


def test_flatten_struct_depth_limited(spark):
    df = spark.createDataFrame(
        [{"attributes": {"a": "1", "b": {"c": "2", "d": {"e": "3"}}}}],
        "attributes struct<a:string, b:struct<c:string, d:struct<e:string>>>",
    )
    fn = compile_statement("flatten(attributes, \"\", 1)")
    out = one(fn(df))["attributes"]
    assert out["a"] == "1" and out["b.c"] == "2"
    # depth 1: the inner struct is NOT descended; stringified instead
    assert "b.d" in out and "3" in out["b.d"]


def test_flatten_struct_where_rejected(spark):
    df = spark.createDataFrame(
        [{"attributes": {"a": "1"}, "severity_number": 17}],
        "attributes struct<a:string>, severity_number int",
    )
    with pytest.raises(OTTLError):
        compile_statement("flatten(attributes) where severity_number >= 17")(df)


def test_url_converter(log_df):
    fn = compile_statement(
        'set(attributes["u"], URL("https://example.com/p?q=1"))'
    )
    got = one(fn(log_df))["attributes"]["u"]
    assert "example.com" in got and "/p" in got and "q=1" in got


def test_fnv_stable_int(log_df):
    fn = compile_statement('set(attributes["h"], FNV(body))')
    a = one(fn(log_df))["attributes"]["h"]
    b = one(fn(log_df))["attributes"]["h"]
    assert a == b and a.lstrip("-").isdigit()


def test_fnv_matches_go_hash_fnv_vectors(log_df):
    # published FNV-1a 64 vectors — bit-for-bit vs Go's hash/fnv
    # (func_fnv.go returns the unsigned sum reinterpreted as int64)
    for s, want in [
        ("", 0xCBF29CE484222325),
        ("a", 0xAF63DC4C8601EC8C),
        ("foobar", 0x85944171F73967E8),
    ]:
        signed = want - (1 << 64) if want >= (1 << 63) else want
        fn = compile_statement(f'set(attributes["h"], FNV("{s}"))')
        assert one(fn(log_df))["attributes"]["h"] == str(signed), s


def test_parse_json_merge(log_df):
    fn = compile_statement(
        'merge_maps(attributes, ParseKeyValue("region=eu zone=a"), "upsert")'
    )
    out = one(fn(log_df))["attributes"]
    assert out["region"] == "eu" and out["zone"] == "a"
    assert out["http.method"] == "get"


def test_parse_key_value_multichar_delimiters(log_df):
    """Multi-character delimiters split only where the whole delimiter
    occurs (parseutils SplitString / strings.SplitN): a lone '|', '=' or
    '>' stays in the key or value, and a quoted value keeps both."""
    fn = compile_statement(
        'merge_maps(attributes, ParseKeyValue('
        '"k1=>v|1||k=2=>\\"a||b=>c\\"||k3=>x>y", "=>", "||"), "upsert")'
    )
    out = one(fn(log_df))["attributes"]
    assert {k: out.get(k) for k in ("k1", "k=2", "k3")} == {
        "k1": "v|1", "k=2": "a||b=>c", "k3": "x>y"}
    assert len(out) == 6


def test_parse_key_value_repeated_key_keeps_last(log_df):
    """parseutils assigns each pair into a Go map, so a repeated key keeps
    its last value; under ANSI mode a plain map_from_entries raises
    DUPLICATED_MAP_KEY and fails the job even under error_mode ignore."""
    seq = StatementSequence(
        ['merge_maps(attributes, ParseKeyValue("k=1 j=x k=2"), "upsert")'],
        error_mode="ignore",
    )
    out = one(seq.apply(log_df))["attributes"]
    assert (out["k"], out["j"]) == ("2", "x")


def test_filter_ottl_conditions(log_df):
    from opentelemetry_collector_contrib_spark.operators.filter import (
        filter_ottl,
    )

    # matches → dropped (filterprocessor drops matching records)
    assert filter_ottl(
        log_df, ['severity_number >= SEVERITY_NUMBER_ERROR']
    ).count() == 0
    # no condition matches → kept
    assert filter_ottl(
        log_df,
        ['severity_text == "INFO"', 'attributes["http.method"] == "post"'],
    ).count() == 1
    # OR across conditions
    assert filter_ottl(
        log_df,
        ['severity_text == "INFO"', 'IsMatch(body, "operationA.*")'],
    ).count() == 0
    # converter failure in a condition under ignore mode → condition
    # false → record KEPT (logs.go:86-99 error-mode handling)
    assert filter_ottl(
        log_df, ['Int(attributes["http.method"]) == 1']
    ).count() == 1


# ---- named arguments, nested map indexing, replace_pattern hash ----------

def test_named_arguments(log_df):
    # flatten(target, depth=0) parses; on our flat maps it is identity
    fn = compile_statement('flatten(attributes, depth=0)')
    assert one(fn(log_df))["attributes"]["http.method"] == "get"
    # append(target, values=[...])
    fn2 = compile_statement('append(attributes["list"], values=["a", "b"])')
    assert one(fn2(log_df))["attributes"]["list"] == '["a","b"]'


def test_nested_map_set_and_get(log_df):
    # set(attributes["foo"]["bar"], v) — inner map stored as JSON object
    seq = StatementSequence([
        'set(attributes["foo"]["bar"], "pass")',
        'set(attributes["foo"]["baz"], "2")',
        'set(attributes["copy"], attributes["foo"]["bar"])',
    ])
    out = one(seq.apply(log_df))["attributes"]
    import json

    assert json.loads(out["foo"]) == {"bar": "pass", "baz": "2"}
    assert out["copy"] == "pass"


def test_merge_maps_from_dynamic_source(log_df):
    seq = StatementSequence([
        'set(attributes["foo"]["extra"], "x")',
        'merge_maps(attributes, attributes["foo"], "insert")',
    ])
    out = one(seq.apply(log_df))["attributes"]
    assert out["extra"] == "x"
    assert out["http.method"] == "get"  # insert keeps existing


def test_replace_pattern_with_hash_function(log_df):
    # func_replace_pattern.go applyOptReplaceFunction: the hash applies
    # to the EXPANDED REPLACEMENT ("@"), not the match — pinned by the
    # reference e2e corpus (e2e_test.go replace_pattern/SHA256 case)
    fn = compile_statement(
        'replace_pattern(attributes["http.path"], "/", "@", SHA256)'
    )
    out = one(fn(log_df))["attributes"]["http.path"]
    import hashlib

    h = hashlib.sha256(b"@").hexdigest()
    assert out == f"{h}health"


def test_parse_csv_headers(log_df):
    cases = [
        ('Len(ParseCSV("val1;val2;val3", "h1|h2|h3", ";", "|", "strict"))',
         "3"),
        ('ParseCSV("val1,val2,val3", "h1|h2|h3", headerDelimiter="|")', None),
    ]
    fn = compile_statement(f'set(attributes["c"], {cases[0][0]})')
    assert one(fn(log_df))["attributes"]["c"] == "3"
    from opentelemetry_collector_contrib_spark.ottl.compiler import (
        compile_value, Context as Ctx,
    )
    from opentelemetry_collector_contrib_spark.ottl.parser import _Parser

    node = _Parser('ParseCSV("val1,\\"quo,ted\\",val3", "h1|h2|h3", headerDelimiter="|")').value()
    got = log_df.select(compile_value(node, Ctx()).alias("m")).collect()[0]["m"]
    assert got == {"h1": "val1", "h2": "quo,ted", "h3": "val3"}


def test_decode_base64(log_df):
    fn = compile_statement('set(attributes["c"], Decode("cGFzcw==", "base64"))')
    assert one(fn(log_df))["attributes"]["c"] == "pass"


# ---- cache context (pkg/ottl/contexts: per-record scratch map) ------------

def test_cache_set_then_read_across_statements(log_df):
    seq = StatementSequence([
        'set(cache["k"], Concat([severity_text, attributes["http.method"]], "-"))',
        'set(attributes["combo"], cache["k"])',
    ])
    out = seq.apply(log_df)
    row = one(out)
    assert row["attributes"]["combo"] == (
        row["severity_text"] + "-" + row["attributes"]["http.method"]
    )
    # the scratch map is discarded after the sequence
    assert "cache" not in out.columns


def test_cache_starts_empty_per_record(log_df):
    seq = StatementSequence([
        'set(attributes["missing"], cache["never_set"]) '
        'where cache["never_set"] != nil',
    ])
    row = one(seq.apply(log_df))
    assert "missing" not in row["attributes"]


def test_cache_unused_adds_no_column(log_df):
    seq = StatementSequence(['set(attributes["x"], "1")'])
    out = seq.apply(log_df)
    assert "cache" not in out.columns
    assert not seq._uses_cache
