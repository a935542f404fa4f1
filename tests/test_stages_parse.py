"""Parse-stage tests mirroring the reference plugin specs
(logstash-filter-{grok,dissect,kv,json,csv,date}:spec/filters/*_spec.rb
style: sample line in → asserted captures out)."""

from __future__ import annotations

import datetime

import pytest

from logstash_spark.stages import apply_stage

APACHE = (
    '93.180.71.3 - frank [18/Jul/2026:08:25:11 +0000] '
    '"GET /alpha/beta.html HTTP/1.1" 200 3707 '
    '"http://referrer.example/" "Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0"'
)


@pytest.fixture(scope="module")
def msg_df(spark):
    return spark.createDataFrame(
        [(1, APACHE), (2, "!!corrupt"), (3, None)], "id int, message string"
    )


def test_grok_combined_apache(msg_df):
    out = apply_stage(
        msg_df, {"grok": {"match": {"message": "%{COMBINEDAPACHELOG}"}}}
    )
    rows = {r.id: r for r in out.collect()}
    r1 = rows[1]
    assert r1.clientip == "93.180.71.3"
    assert r1.auth == "frank"
    assert r1.verb == "GET"
    assert r1.request == "/alpha/beta.html"
    assert r1.response == "200"
    assert r1.bytes == "3707"
    assert r1.timestamp == "18/Jul/2026:08:25:11 +0000"
    assert "_grokparsefailure" not in (r1.tags or [])
    assert "_grokparsefailure" in rows[2].tags
    assert rows[2].clientip is None


def test_grok_type_conversion_and_multi_pattern(spark):
    df = spark.createDataFrame(
        [(1, "status=200 time=1.5"), (2, "code:404")], "id int, message string"
    )
    out = apply_stage(
        df,
        {
            "grok": {
                "match": {
                    "message": [
                        "status=%{INT:status:int} time=%{NUMBER:took:float}",
                        "code:%{INT:status:int}",
                    ]
                }
            }
        },
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].status == 200 and abs(rows[1].took - 1.5) < 1e-9
    assert rows[2].status == 404 and rows[2].took is None


def test_grok_native_lowering(spark):
    df = spark.createDataFrame([(1, "user=alice"), (2, "nope")], "id int, message string")
    out = apply_stage(df, {"grok": {"match": {"message": "user=%{USERNAME:user}"}}})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "regexp_extract" in plan or "ArrowEvalPython" not in plan  # native path, no UDF
    rows = {r.id: r for r in out.collect()}
    assert rows[1].user == "alice"
    assert rows[2].user is None and "_grokparsefailure" in rows[2].tags


def test_grok_target_and_common_options(msg_df):
    out = apply_stage(
        msg_df,
        {
            "grok": {
                "match": {"message": "%{COMBINEDAPACHELOG}"},
                "target": "http",
                "add_tag": ["parsed"],
                "add_field": {"pipe": "apache-%{[http][verb]}"},
            }
        },
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].http.clientip == "93.180.71.3"
    assert "parsed" in rows[1].tags and rows[1].pipe == "apache-GET"
    assert "parsed" not in (rows[2].tags or []) and rows[2].pipe is None


def test_dissect(spark):
    df = spark.createDataFrame(
        [(1, "2026-01-01 INFO service started ok"), (2, "badline")],
        "id int, message string",
    )
    out = apply_stage(
        df,
        {"dissect": {"mapping": {"message": "%{date} %{level} %{service} %{+service} %{rest}"}}},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].date == "2026-01-01"
    assert rows[1].level == "INFO"
    assert rows[1].service == "service started"
    assert rows[1].rest == "ok"
    assert "_dissectfailure" in rows[2].tags


def test_kv(spark):
    df = spark.createDataFrame(
        [(1, "a=1&b=two&c=3"), (2, None)], "id int, message string"
    )
    out = apply_stage(
        df, {"kv": {"source": "message", "field_split": "&", "target": "attrs"}}
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].attrs == {"a": "1", "b": "two", "c": "3"}
    assert rows[2].attrs is None


def test_kv_include_exclude_prefix(spark):
    df = spark.createDataFrame([(1, "a=1 b=2 c=3")], "id int, message string")
    out = apply_stage(
        df,
        {"kv": {"include_keys": ["a", "b"], "exclude_keys": ["b"], "prefix": "p_",
                "target": "kvout"}},
    )
    assert out.collect()[0].kvout == {"p_a": "1"}


def test_json_stage(spark):
    df = spark.createDataFrame(
        [(1, '{"user": "alice", "n": "5"}'), (2, "{invalid"), (3, None)],
        "id int, message string",
    )
    out = apply_stage(df, {"json": {"source": "message"}})
    rows = {r.id: r for r in out.collect()}
    assert rows[1].attrs == {"user": "alice", "n": "5"}
    assert "_jsonparsefailure" in rows[2].tags
    assert rows[2].message == "{invalid"  # raw preserved on failure
    assert rows[3].tags == [] or rows[3].tags is None


def test_json_with_schema(spark):
    df = spark.createDataFrame([(1, '{"k": 87}')], "id int, props string")
    out = apply_stage(
        df, {"json": {"source": "props", "schema": "k int", "target": "parsed"}}
    )
    assert out.collect()[0].parsed.k == 87


def test_csv_stage(spark):
    df = spark.createDataFrame(
        [(1, 'a,"quoted,comma",3'), (2, None)], "id int, message string"
    )
    out = apply_stage(
        df,
        {"csv": {"columns": ["x", "y", "z"], "convert": {"z": "int"}}},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].x == "a" and rows[1].y == "quoted,comma" and rows[1].z == 3


def test_date_stage_multi_format(spark):
    df = spark.createDataFrame(
        [
            (1, "18/Jul/2026:08:25:11 +0000"),
            (2, "2026-07-18T08:25:11Z"),
            (3, "1760775911"),
            (4, "not a date"),
        ],
        "id int, timestamp string",
    )
    out = apply_stage(
        df,
        {
            "date": {
                "match": ["timestamp", "dd/MMM/yyyy:HH:mm:ss Z", "ISO8601", "UNIX"],
                "target": "event_ts",
            }
        },
    )
    rows = {r.id: r for r in out.collect()}
    expect = datetime.datetime(2026, 7, 18, 8, 25, 11)
    assert rows[1].event_ts == expect
    assert rows[2].event_ts == expect
    assert rows[3].event_ts is not None
    assert rows[4].event_ts is None and "_dateparsefailure" in rows[4].tags


def test_grok_break_on_match_false_accumulates(spark):
    """break_on_match=false (grok.rb): every pattern runs; captures
    accumulate with earlier patterns winning per field."""
    df = spark.createDataFrame(
        [(0, "id=42 user=bob"), (1, "user=eve only"), (2, "nothing")],
        "rid int, message string")
    spec = {"match": {"message": ["id=%{INT:gid}", "user=%{WORD:guser}"]}}

    def run(**conf):
        return apply_stage(df, {"grok": {**spec, **conf}}).orderBy("rid").collect()

    # default: first match wins, second pattern only sees unmatched rows
    first = run()
    assert first[0].gid == "42" and first[0].guser is None
    assert first[1].guser == "eve"
    # accumulate mode: both patterns extract on row 0
    both = run(break_on_match=False)
    assert both[0].gid == "42" and both[0].guser == "bob"
    assert both[1].guser == "eve"
    assert "_grokparsefailure" in both[2].tags


def test_grok_pattern_library_compiles(spark):
    """Every named pattern in the library expands to a valid Python
    regex whose Java lowering java.util.regex compiles, and the
    round-2 composites match realistic lines."""
    from logstash_spark.grok import CORE_PATTERNS, compile_grok, lower_multi_capture

    java_compile = spark.sparkContext._jvm.java.util.regex.Pattern.compile
    for name in CORE_PATTERNS:
        (java_pat, _groups), = lower_multi_capture([compile_grok("%{" + name + ":x}")])[0]
        java_compile(java_pat)
    assert len(CORE_PATTERNS) >= 300
    samples = {
        # round-3 long-tail families
        "CISCOFW106023": (
            'Deny tcp src outside:10.1.1.5/51000 dst inside:192.168.1.10/443 '
            'by access-group "OUTSIDE_IN" [0x8c2fdf74, 0x0]'),
        "CISCOFW302013_302014_302015_302016": (
            'Built inbound TCP connection 366 for outside:10.1.1.5/51000 '
            '(10.1.1.5/51000) to inside:192.168.1.10/443 (192.168.1.10/443)'),
        "CISCOFW106001": (
            'Inbound TCP connection denied from 10.1.1.5/51000 to '
            '192.168.1.10/443 flags SYN on interface outside'),
        "NETSCREENSESSIONLOG": (
            'Jun  2 14:53:31 fire00 ns5xp: NetScreen device_id=ns5xp '
            'system-warning-00515: start_time="2026-06-02 14:53:30" duration=0 '
            'policy_id=320001 service=msrpc proto=6 src zone=Trust dst '
            'zone=Untrust action=Deny sent=0 rcvd=0 src=192.168.2.2 '
            'dst=10.0.0.1 src_port=3036 dst_port=135'),
        "RT_FLOW2": (
            'RT_FLOW_SESSION_CREATE: session created 10.1.1.100/35621->'
            '93.184.216.34/80 junos-http 172.19.35.2/23864->93.184.216.34/80 '
            'source-nat-rule None 6 permit-all trust untrust 6969 .'),
        "HTTPD24_ERRORLOG": (
            '[Fri Sep 09 10:42:29 2011] [core:error] [pid 35708:tid 4328636416] '
            '[client 72.15.99.187:51000] File does not exist: /htdocs/favicon.ico'),
        "MAVEN_VERSION": '3.8.1-SNAPSHOT',
        # legacy Bro column layout (27 cols); the modern 30-col Zeek >= 3
        # layout is ZEEK_HTTP, vectored in tests/test_grok_manifest.py
        "BRO_HTTP": (
            '1258567891.123456\tCuid1\t10.0.0.1\t53812\t93.184.216.34\t80\t1\t'
            'GET\texample.com\t/index\t-\tMozilla\t0\t1024\t200\tOK\t-\t-\t-\t'
            '-\t-\t-\t-\t-\t-\t-\ttext/html'),
        "HAPROXYTCP": (
            'Jul  9 14:29:13 loadbalancer haproxy[14389]: 10.0.1.2:33313 '
            '[09/Jul/2026:14:29:13.439] fe-tcp be-tcp/srv1 0/0/7 212 -- '
            '1/1/1/1/0 0/0'),
        "MONGO_SLOWQUERY": (
            'query test.users query: { a: 1.0 } ntoreturn:0 ntoskip:0 '
            'nscanned:100000 keyUpdates:0 numYields: 2 locks(micros) r:219959 '
            'nreturned:0 reslen:20 113ms'),
        "CLOUDFRONT_ACCESS_LOG": (
            '2026-02-01\t01:13:11\tFRA2\t182\t192.0.2.10\tGET\t'
            'd111111abcdef8.cloudfront.net\t/view/my/file.html\t200\t'
            'www.example.com\tMozilla/4.0\t-\tzip=98101\tRefreshHit\t'
            'MRVMF7KydIvxMWfJIglgwHQwZsbG2IhRJ07sn9AkKUFSHS9EXAMPLE==\t'
            'd111111abcdef8.cloudfront.net\thttp\t-\t0.001\t-\t-\t-\tRefreshHit'),
        "SHOREWALL": (
            'May 28 17:23:25 myhost kernel: Shorewall:net2fw:DROP:IN=eth1 OUT= '
            'MAC=00:02:b3:c7:2f:77:38:72:c0:6e:92:9c:08:00 SRC=127.0.0.1 '
            'DST=1.2.3.4 LEN=60 TOS=0x00 PREC=0x00 TTL=49 ID=6480 PROTO=TCP '
            'SPT=59088 DPT=8080 WINDOW=14600 RES=0x00 SYN URGP=0'),
        "BACULA_LOGLINE": (
            '17-Aug 13:00 bacula-dir JobId 123: Start Backup JobId 123, '
            'Job=BackupClient1.2026-08-17_13.00.00_03'),
        "NAGIOS_EC_LINE_DISABLE_HOST_SVC_NOTIFICATIONS": (
            '[1427925600] EXTERNAL COMMAND: DISABLE_HOST_SVC_NOTIFICATIONS;host1'),
        "URN": 'urn:ietf:rfc:2648',
        "SYSLOGLINE": "Aug 17 09:01:02 web01 sshd[1234]: Accepted password",
        "HAPROXYHTTPBASE": (
            '10.0.0.1:45000 [17/Aug/2026:09:01:02.123] fe be/srv1 0/0/1/2/3 '
            '200 1024 - - ---- 1/1/0/0/0 0/0 "GET /x HTTP/1.1"'),
        "SYSLOG5424LINE": '<34>1 2026-08-17T09:01:02Z host app 123 ID47 [x a="b"] hi',
        "S3_ACCESS_LOG": (
            'abc123 mybucket [17/Aug/2026:09:01:02 +0000] 10.0.0.1 '
            'arn:aws:iam::1:user/x REQ1 REST.GET.OBJECT my/key '
            '"GET /my/key HTTP/1.1" 200 - 1024 1024 12 10 "-" "curl/8.0"'),
        "ELB_ACCESS_LOG": (
            '2026-08-17T09:01:02.123456Z my-elb 10.0.0.1:54321 10.0.1.2:80 '
            '0.00005 0.01 0.00003 200 200 0 1024 '
            '"GET http://example.com:80/p?q=1 HTTP/1.1"'),
        "MONGO3_LOG": (
            '2026-08-17T09:01:02.123+0000 I NETWORK  [conn123] '
            'end connection 10.0.0.5:43210'),
        "TOMCATLOG": '2026-08-17 09:01:02,123 | ERROR | com.x.Y - boom',
        "JAVASTACKTRACEPART": '   at com.x.Foo.bar(Foo.java:42)',
    }
    for name, line in samples.items():
        cg = compile_grok("%{" + name + "}")
        assert cg.regex.search(line), name


def test_cef_decode(spark):
    """logstash-codec-cef decode vectors: plain, syslog-prefixed with
    escaped header pipes / extension equals, and a non-CEF row."""
    rows = [
        (1, "CEF:0|Security|threatmanager|1.0|100|worm successfully "
            "stopped|10|src=10.0.0.1 dst=2.1.2.2 spt=1232"),
        (2, "Sep 19 08:26:10 host CEF:1|security|threat\\|manager|1.0|100|"
            "detected a \\\\ in packet|Low|act=blocked a \\= sign "
            "msg=hello world dst=1.1.1.1"),
        (3, "not a cef line"),
        # escaped BACKSLASH immediately before a REAL separator pipe —
        # the case a naive (?<!\\)| lookbehind gets wrong
        (4, "CEF:0|v|prod\\\\|1.0|id1|nm|5|k=v"),
    ]
    df = spark.createDataFrame(rows, "id int, message string")
    out = apply_stage(df, {"cef": {}})
    r = {x.id: x for x in out.collect()}
    c1 = r[1].cef
    assert c1.cef_version == 0 and c1.device_vendor == "Security"
    assert c1.name == "worm successfully stopped" and c1.severity == "10"
    assert dict(c1.extensions) == {"src": "10.0.0.1", "dst": "2.1.2.2",
                                   "spt": "1232"}
    c2 = r[2].cef
    assert c2.cef_version == 1
    assert c2.device_product == "threat|manager"      # escaped pipe undone
    assert c2.name == "detected a \\ in packet"        # escaped backslash
    assert c2.severity == "Low"
    ext = dict(c2.extensions)
    assert ext["act"] == "blocked a = sign"            # escaped equals
    assert ext["msg"] == "hello world"                 # multi-word value
    assert ext["dst"] == "1.1.1.1"
    assert r[3].cef is None and "_cefparsefailure" in r[3].tags
    assert "_cefparsefailure" not in (r[1].tags or [])
    c4 = r[4].cef
    assert c4.device_product == "prod\\" and c4.device_version == "1.0"
    assert c4.severity == "5" and dict(c4.extensions) == {"k": "v"}


def test_joda_zone_tokens_translate_length_matched():
    """Joda Z runs are LENGTH-matched (review round-5 finding: a blind
    'ZZ'→'XXX' substring replace mangled 'ZZZ' into 'XXXZ'):
    Z→Z (+0100), ZZ→xxx (+01:00, never the bare 'Z' java XXX emits at
    UTC — Joda ZZ prints +00:00), ZZZ+→VV (zone id). Quoted literals
    pass through; Y-runs (Joda era-year) → y; x (Joda weekyear) is a
    loud plan-time error — Spark 3+ removed week-based pattern letters,
    so the old x→Y translation compiled a pattern that THREW
    DATETIME_PATTERN_RECOGNITION on first execution (review finding)."""
    import pytest as _pytest

    from logstash_spark.fieldref import _joda_to_java

    assert _joda_to_java("yyyy-MM-dd Z") == "yyyy-MM-dd Z"
    assert _joda_to_java("yyyy-MM-dd ZZ") == "yyyy-MM-dd xxx"
    assert _joda_to_java("yyyy-MM-dd ZZZ") == "yyyy-MM-dd VV"
    assert _joda_to_java("'W'ww Y") == "'W'ww y"
    with _pytest.raises(ValueError, match="weekyear"):
        _joda_to_java("xxxx-'W'ww")
    # 'x' inside a quoted literal is fine
    assert _joda_to_java("'approx' yyyy") == "'approx' yyyy"
    # quoted literal containing Z stays verbatim
    assert _joda_to_java("'Zulu 'HH ZZ") == "'Zulu 'HH xxx"


def test_date_stage_joda_zz_colon_offset(spark):
    """A config ported from the reference with Joda 'ZZ' must parse
    colon offsets like +02:00 (java 'xxx'), and 'ZZZ' zone ids."""
    df = spark.createDataFrame(
        [(1, "2026-07-18 10:25:11 +02:00"),
         (2, "2026-07-18 08:25:11 +00:00")],
        "id int, timestamp string")
    out = apply_stage(df, {"date": {
        "match": ["timestamp", "yyyy-MM-dd HH:mm:ss ZZ"],
        "target": "event_ts"}})
    rows = {r.id: r for r in out.collect()}
    expect = datetime.datetime(2026, 7, 18, 8, 25, 11)
    assert rows[1].event_ts == expect
    assert rows[2].event_ts == expect
