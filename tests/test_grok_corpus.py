"""Grok base-pattern corpus (functions/grok.py BASE_PATTERNS — the
public Elastic/logstash grok-patterns + httpd set go-grok defaults to,
ottlfuncs/README.md:615-705). Each case: pattern expression + input line
→ expected named captures.
"""

from __future__ import annotations

import pytest

from opentelemetry_collector_contrib_spark.functions.grok import (
    BASE_PATTERNS,
    GrokPattern,
)

COMBINED = (
    '192.168.1.10 - frank [10/Oct/2000:13:55:36 -0700] '
    '"GET /apache_pb.gif?size=big HTTP/1.0" 200 2326 '
    '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98)"'
)

CASES = [
    (
        "%{COMBINEDAPACHELOG}",
        COMBINED,
        {
            "clientip": "192.168.1.10",
            "ident": "-",
            "auth": "frank",
            "timestamp": "10/Oct/2000:13:55:36 -0700",
            "verb": "GET",
            "request": "/apache_pb.gif?size=big",
            "httpversion": "1.0",
            "response": "200",
            "bytes": "2326",
            "referrer": '"http://www.example.com/start.html"',
            "agent": '"Mozilla/4.08 [en] (Win98)"',
        },
    ),
    (
        "%{COMMONAPACHELOG}",
        '10.0.0.1 - - [25/Dec/2021:00:00:01 +0000] "POST /api/v1 HTTP/1.1"'
        " 503 -",
        {
            "clientip": "10.0.0.1",
            "verb": "POST",
            "request": "/api/v1",
            "response": "503",
            "bytes": None,
        },
    ),
    (
        "%{SYSLOGTIMESTAMP:ts} %{SYSLOGHOST:host} %{SYSLOGPROG}: "
        "%{GREEDYDATA:msg}",
        "Oct  9 14:12:01 web-01 sshd[4321]: Accepted publickey for root",
        {
            "ts": "Oct  9 14:12:01",
            "host": "web-01",
            "program": "sshd",
            "pid": "4321",
            "msg": "Accepted publickey for root",
        },
    ),
    (
        "%{IPV6:addr}",
        "2001:db8:85a3::8a2e:370:7334",
        {"addr": "2001:db8:85a3::8a2e:370:7334"},
    ),
    (
        "%{MAC:mac1} %{MAC:mac2}",
        "00:1b:63:84:45:e6 001b.6384.45e6",
        {"mac1": "00:1b:63:84:45:e6", "mac2": "001b.6384.45e6"},
    ),
    (
        "%{EMAILADDRESS:mail}",
        "contact bob.smith+tag@corp.example.org today",
        {"mail": "bob.smith+tag@corp.example.org"},
    ),
    (
        "%{URI:uri}",
        "fetched https://user@www.example.com:8443/a/b?x=1&y=2 ok",
        {"uri": "https://user@www.example.com:8443/a/b?x=1&y=2"},
    ),
    (
        "%{DATESTAMP_RFC2822:d}",
        "Mon, 02 Jan 2006 15:04:05 -0700",
        {"d": "Mon, 02 Jan 2006 15:04:05 -0700"},
    ),
    (
        "%{SYSLOGFACILITY} %{GREEDYDATA:rest}",
        "<13.6> up",
        {"facility": "13", "priority": "6", "rest": "up"},
    ),
    (
        "%{WINPATH:p}",
        r"C:\Users\admin\file.txt",
        {"p": r"C:\Users\admin\file.txt"},
    ),
    (
        "%{UUID:u}",
        "id 550e8400-e29b-41d4-a716-446655440000 done",
        {"u": "550e8400-e29b-41d4-a716-446655440000"},
    ),
    (
        "%{QUOTEDSTRING:q}",
        "said 'it\\'s fine' then",
        {"q": "'it\\'s fine'"},
    ),
    (
        "pid=%{BASE16NUM:h} took %{BASE10NUM:s}s",
        "pid=0x1F4a took 2.75s",
        {"h": "0x1F4a", "s": "2.75"},
    ),
    (
        "%{HOSTPORT:hp}",
        "dial tcp 10.2.3.4:8080 refused",
        {"hp": "10.2.3.4:8080"},
    ),
]


@pytest.mark.parametrize("expr,line,want", CASES)
def test_grok_pattern_corpus(expr, line, want):
    """Driver-side regex semantics (no Spark needed: the compiled regex
    IS what the vectorized UDF executes per batch)."""
    g = GrokPattern(expr)
    m = g.regex.search(line)
    assert m, f"{expr!r} did not match {line!r}"
    got = m.groupdict()
    for k, v in want.items():
        assert got.get(k) == v, f"{expr}: field {k}={got.get(k)!r}, want {v!r}"


def test_full_library_compiles():
    """Every base pattern must expand to a valid Python regex (catches
    Oniguruma leftovers) and the library covers the go-grok default
    surface."""
    for name in BASE_PATTERNS:
        GrokPattern(f"%{{{name}:x}}")
    expected = {
        "USERNAME", "USER", "EMAILADDRESS", "UUID", "URN", "MAC", "IPV4",
        "IPV6", "IPORHOST", "HOSTPORT", "URI", "URIPATH", "MONTH", "DAY",
        "TIME", "DATE", "DATESTAMP", "SYSLOGTIMESTAMP", "SYSLOGPROG",
        "HTTPDATE", "QUOTEDSTRING", "COMMONAPACHELOG", "COMBINEDAPACHELOG",
        "LOGLEVEL", "NUMBER", "WORD", "GREEDYDATA",
    }
    assert expected <= set(BASE_PATTERNS)


def test_combined_apachelog_vectorized(spark):
    """End-to-end through the Arrow/RE2 engine on a DataFrame."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(COMBINED,), ("not a log line",)],
                               "line string")
    g = GrokPattern("%{COMBINEDAPACHELOG}")
    out = g.apply(df, "line")
    rows = sorted(
        out.select("clientip", "response", "agent").collect(),
        key=lambda r: (r["clientip"] is None, r["clientip"] or ""),
    )
    assert rows[0]["clientip"] == "192.168.1.10"
    assert rows[0]["response"] == "200"
    assert rows[1]["clientip"] is None


# ---------------------------------------------------------------------------
# product sets (functions/grok_products.py) — the "Complete set" the
# reference bundles via go-grok (default + aws/java/haproxy/… sets,
# ottlfuncs/README.md:658)
# ---------------------------------------------------------------------------

from opentelemetry_collector_contrib_spark.functions.grok_products import (  # noqa: E402
    PRODUCT_SETS,
    product_patterns,
)

PRODUCT_CASES = [
    (
        "%{ELB_ACCESS_LOG}",
        "2015-05-13T23:39:43.945958Z my-loadbalancer 192.168.131.39:2817 "
        "10.0.0.1:80 0.000073 0.001048 0.000057 200 200 0 29 "
        '"GET http://www.example.com:80/ HTTP/1.1"',
        {"elb": "my-loadbalancer", "clientip": "192.168.131.39",
         "backendip": "10.0.0.1", "response": "200", "verb": "GET"},
    ),
    (
        "%{S3_ACCESS_LOG}",
        "79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be "
        "mybucket [06/Feb/2019:00:00:38 +0000] 192.0.2.3 "
        "arn:aws:iam::123456789012:user/test 3E57427F3EXAMPLE "
        'REST.GET.VERSIONING - "GET /mybucket?versioning HTTP/1.1" 200 - '
        '113 - 7 - "-" "S3Console/0.4" -',
        {"bucket": "mybucket", "clientip": "192.0.2.3",
         "operation": "REST.GET.VERSIONING", "response": "200",
         "bytes": "113"},
    ),
    (
        "%{TOMCATLOG}",
        "2014-01-09 20:03:28,269 | ERROR | com.example.service.Main - "
        "Failed to boot",
        {"level": "ERROR", "class": "com.example.service.Main",
         "logmessage": "Failed to boot"},
    ),
    (
        "%{CATALINALOG}",
        "Jan 9, 2014 7:13:13 AM org.apache.catalina.startup.Catalina "
        "start Server startup in 2017 ms",
        {"class": "org.apache.catalina.startup.Catalina"},
    ),
    (
        "%{JAVASTACKTRACEPART}",
        "    at com.example.MyClass.doWork(MyClass.java:42)",
        {"class": "com.example.MyClass", "method": "doWork",
         "file": "MyClass.java", "line": "42"},
    ),
    (
        "%{MONGO3_LOG}",
        "2015-09-24T13:32:06.003+0200 I COMMAND  [conn381] command "
        'test.foo command: find { find: "foo" }',
        {"severity": "I", "component": "COMMAND", "context": "conn381"},
    ),
    (
        "%{REDISMONLOG}",
        '1470402189.102185 [0 127.0.0.1:54304] "GET" "mykey"',
        {"database": "0", "client": "127.0.0.1", "command": "GET"},
    ),
    (
        "%{RUBY_LOGGER}",
        "E, [2017-01-05T13:23:04.000000 #1234] ERROR -- myapp: "
        "something failed",
        {"pid": "1234", "loglevel": "ERROR", "progname": "myapp",
         "message": "something failed"},
    ),
    (
        "%{SQUID3}",
        "1066037222.352 132 192.168.1.23 TCP_MISS/200 1464 GET "
        "http://example.com/x.gif badeyek DIRECT/204.160.241.41 image/gif",
        {"client_address": "192.168.1.23", "cache_result": "TCP_MISS",
         "status_code": "200", "request_method": "GET",
         "content_type": "image/gif"},
    ),
    (
        "%{SYSLOGLINE}",
        "Mar 16 08:12:04 host1 sshd[1234]: Accepted publickey for root",
        {"logsource": "host1", "message": "Accepted publickey for root"},
    ),
    (
        "%{SYSLOG5424LINE}",
        "<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog "
        '1370 ID47 [exampleSDID@32473 iut="3"] An application event',
        {"syslog5424_host": "mymachine.example.com",
         "syslog5424_app": "evntslog", "syslog5424_proc": "1370",
         "syslog5424_msg": "An application event"},
    ),
    (
        "%{HAPROXYHTTP}",
        "Dec  9 13:32:03 loadbalancer haproxy[14389]: 10.0.1.2:33317 "
        "[09/Dec/2013:12:59:46.633] fe_http be_http/srv1 10/0/30/69/109 "
        '200 2750 - - ---- 1/1/1/1/0 0/0 "GET /index.html HTTP/1.1"',
        {"client_ip": "10.0.1.2", "http_status_code": "200",
         "backend_name": "be_http", "server_name": "srv1",
         "time_backend_response": "69"},
    ),
    (
        "%{RT_FLOW2}",
        "RT_FLOW_SESSION_CREATE: session created 10.0.0.1/1234->"
        "10.0.0.2/80 junos-http 10.0.0.1/1234->10.0.0.2/80 None None 6 "
        "permit-all trust untrust 12345 .",
        {"src_ip": "10.0.0.1", "dst_port": "80",
         "policy_name": "permit-all", "from_zone": "trust"},
    ),
    (
        "%{CISCOFW106023}",
        "Deny tcp src outside:192.168.1.1/50240 dst inside:10.0.0.1/443 "
        'by access-group "outside_access_in" [0x0, 0x0]',
        {"action": "Deny", "protocol": "tcp", "src_ip": "192.168.1.1",
         "dst_ip": "10.0.0.1", "policy_id": "outside_access_in"},
    ),
    (
        "%{CISCOFW302013_302014_302015_302016}",
        "Built outbound TCP connection 366 for outside:10.0.0.5/443 "
        "(10.0.0.5/443) to inside:192.168.1.10/51234 (203.0.113.5/51234)",
        {"action": "Built", "direction": "outbound", "protocol": "TCP",
         "connection_id": "366", "src_ip": "10.0.0.5",
         "dst_ip": "192.168.1.10"},
    ),
    (
        "%{EXIM}",
        "2020-05-04 14:21:49 1jVcfH-0004a4-2x => someone@example.com "
        "R=dnslookup T=remote_smtp",
        {"msgid": "1jVcfH-0004a4-2x", "flags": "=>"},
    ),
    (
        "%{MCOLLECTIVE}",
        "I, [2015-09-24T13:31:03.183186 #32578]  INFO -- : mcollectived "
        "starting",
        {"pid": "32578", "event_level": "INFO"},
    ),
    (
        "%{POSTGRESQL}",
        "2015-01-15 15:05:26 CET myuser conn123 12345",
        {"user_id": "myuser", "pid": "12345"},
    ),
    (
        "%{BIND9}",
        "17-Feb-2018 15:06:25.548 queries: info: client 172.26.0.1#12345 "
        "(test.example.com): query: test.example.com IN A (172.26.0.3)",
        {"clientip": "172.26.0.1", "clientport": "12345",
         "querytype": "A", "dns": "172.26.0.3"},
    ),
    (
        "%{BRO_CONN}",
        "1300475167.096535\tCHhAvVGS1DHFjwGM9\t141.142.220.202\t5353\t"
        "224.0.0.251\t5353\tudp\tdns\t0.1\t73\t0\tS0\t-\t0\tD\t1\t101\t"
        "0\t0\t-",
        {"uid": "CHhAvVGS1DHFjwGM9", "orig_h": "141.142.220.202",
         "proto": "udp", "service": "dns"},
    ),
    (
        "%{MAVEN_VERSION:v}",
        "3.8.1-SNAPSHOT",
        {"v": "3.8.1-SNAPSHOT"},
    ),
]


def test_product_patterns_compile():
    """Every product pattern expands + compiles (Python re is the
    mandatory engine; RE2 optional per-pattern at extract time)."""
    pats = product_patterns()
    assert len(pats) >= 120
    for name in pats:
        GrokPattern(f"%{{{name}:x}}")
    # the product-set inventory the collector README calls out
    assert {"aws", "java", "haproxy", "mongodb", "postgresql", "redis",
            "ruby", "rails", "squid", "bind9", "bro", "exim",
            "firewalls", "junos", "maven", "mcollective",
            "syslog"} <= set(PRODUCT_SETS)
    # no collisions with the default set (go-grok namespaces are disjoint)
    assert not set(pats) & set(BASE_PATTERNS)


@pytest.mark.parametrize("pat,line,want", PRODUCT_CASES,
                         ids=[c[0] for c in PRODUCT_CASES])
def test_product_pattern_extraction(pat, line, want):
    g = GrokPattern(pat)
    m = g.regex.search(line)
    assert m is not None, f"{pat} did not match"
    got = dict(zip(g.names, m.groups()))
    for k, v in want.items():
        assert got.get(k) == v, (k, got.get(k), v)


def test_product_pattern_vectorized(spark):
    """One product pattern end-to-end through the Arrow engine."""
    line = PRODUCT_CASES[0][1]
    df = spark.createDataFrame([(line,), ("nope",)], "line string")
    out = GrokPattern("%{ELB_ACCESS_LOG}").apply(df, "line")
    rows = sorted(out.select("elb", "response").collect(),
                  key=lambda r: (r["elb"] is None, r["elb"] or ""))
    assert rows[0]["elb"] == "my-loadbalancer"
    assert rows[0]["response"] == "200"
    assert rows[1]["elb"] is None


def test_regex_parser_all_null_batch(spark):
    """A batch whose source is entirely NULL parses to NULL captures
    (an untyped all-None batch has no RE2 kernel)."""
    from opentelemetry_collector_contrib_spark.operators.parse import (
        regex_parser,
    )

    df = spark.createDataFrame([(None,), (None,)], "msg string")
    out = regex_parser(
        df.coalesce(1), "msg", r"%{WORD:verb} %{GREEDYDATA:rest}"
    )
    assert [tuple(r) for r in out.select("verb", "rest").collect()] == [
        (None, None), (None, None)
    ]
