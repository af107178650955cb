"""RFC5424 syslog parser (+octet counting) and small-operator coverage.

Reference: pkg/stanza/operator/parser/syslog/config.go:53-58 (rfc5424
protocol + enable_octet_counting), processor/resourcedetectionprocessor,
helper/scope_name.go.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.mutate import (
    resource_detection,
    scope_name_parser,
)
from opentelemetry_collector_contrib_spark.operators.parse import (
    syslog_rfc5424_parser,
)

FULL = ('<165>1 2024-08-17T10:30:45.123Z myhost evntslog 1370 ID47 '
        '[exampleSDID iut="3" eventSource="Application"] An application event')
NILS = "<34>1 - - su - - - 'su root' failed"


def test_rfc5424_full_line(spark):
    df = spark.createDataFrame([(FULL,)], ["line"])
    r = syslog_rfc5424_parser(df, "line").collect()[0]
    assert r["sl_facility"] == 20 and r["sl_severity"] == 5
    assert r["sl_version"] == 1
    assert r["sl_ts"].second == 45
    assert r["sl_hostname"] == "myhost"
    assert r["sl_appname"] == "evntslog"
    assert r["sl_procid"] == "1370"
    assert r["sl_msgid"] == "ID47"
    assert r["sl_sd_id"] == "exampleSDID"
    assert r["sl_sd"] == {"iut": "3", "eventSource": "Application"}
    assert r["sl_msg"] == "An application event"


def test_rfc5424_repeated_sd_param_keeps_last(spark):
    """RFC 5424 lets an SD-PARAM name repeat within one element; the
    last value wins, as a map assignment per param does, instead of
    failing the job with DUPLICATED_MAP_KEY."""
    line = FULL.replace('iut="3"', 'iut="3" iut="4"')
    df = spark.createDataFrame([(line,)], ["line"])
    r = syslog_rfc5424_parser(df, "line").collect()[0]
    assert r["sl_sd"] == {"iut": "4", "eventSource": "Application"}


def test_rfc5424_nil_fields(spark):
    df = spark.createDataFrame([(NILS,)], ["line"])
    r = syslog_rfc5424_parser(df, "line").collect()[0]
    assert r["sl_facility"] == 4 and r["sl_severity"] == 2
    assert r["sl_ts"] is None
    assert r["sl_hostname"] is None
    assert r["sl_appname"] == "su"
    assert r["sl_procid"] is None and r["sl_msgid"] is None
    assert r["sl_sd_id"] is None and r["sl_sd"] is None
    assert r["sl_msg"] == "'su root' failed"


def test_octet_counting_frame_validation(spark):
    ok = f"{len(FULL)} {FULL}"
    bad = f"{len(FULL) + 5} {FULL}"  # wrong length → frame error → nulls
    df = spark.createDataFrame([(1, ok), (2, bad)], ["i", "line"])
    rows = {r["i"]: r for r in
            syslog_rfc5424_parser(df, "line",
                                  enable_octet_counting=True).collect()}
    assert rows[1]["sl_hostname"] == "myhost"
    assert rows[2]["sl_hostname"] is None
    assert rows[2]["sl_facility"] is None


def test_resource_detection(spark):
    df = spark.createDataFrame(
        [({"host.name": "keep"},), (None,)],
        "resource map<string,string>",
    )
    out = resource_detection(
        df, {"host.name": "detected", "os.type": "linux"}
    ).collect()
    assert out[0]["resource"] == {"host.name": "keep", "os.type": "linux"}
    assert out[1]["resource"] == {"host.name": "detected", "os.type": "linux"}
    ov = resource_detection(
        df, {"host.name": "detected"}, override=True
    ).collect()
    assert ov[0]["resource"]["host.name"] == "detected"


def test_scope_name_parser(spark):
    df = spark.createDataFrame([("my.lib",)], ["logger"])
    assert scope_name_parser(df, "logger").collect()[0]["scope"] == "my.lib"
