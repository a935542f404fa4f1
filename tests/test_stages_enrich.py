"""Enrich-family tests: translate / geoip binned range join / useragent /
cidr / tld — mirroring the reference plugin spec shapes."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from logstash_spark.datagen import gen_geo_ranges, gen_ua_rules
from logstash_spark.session import local_frame
from logstash_spark.stages import apply_stage
from logstash_spark.stages.enrich import ip_to_long


def test_ip_to_long(spark):
    df = spark.createDataFrame([("1.2.3.4",), ("255.255.255.255",)], "ip string")
    vals = [r.n for r in df.select(ip_to_long(F.col("ip")).alias("n")).collect()]
    assert vals == [16909060, 4294967295]


def test_translate_inline_dict(spark):
    df = spark.createDataFrame([(1, "a"), (2, "zz")], "id int, code string")
    out = apply_stage(
        df,
        {"translate": {"source": "code", "target": "meaning",
                       "dictionary": {"a": "alpha", "b": "beta"},
                       "fallback": "unknown", "tag_on_miss": "_miss"}},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].meaning == "alpha" and "_miss" not in (rows[1].tags or [])
    assert rows[2].meaning == "unknown" and "_miss" in rows[2].tags


def test_translate_broadcast_df(spark):
    dim = spark.createDataFrame([("x", "ex"), ("y", "why")], "key string, value string")
    df = spark.createDataFrame([(1, "x"), (2, "q")], "id int, code string")
    out = apply_stage(
        df, {"translate": {"source": "code", "target": "word", "dictionary_df": dim}}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r.id: r for r in out.collect()}
    assert rows[1].word == "ex" and rows[2].word is None


def test_translate_multicolumn_dim(spark):
    dim = spark.createDataFrame(
        [("site1.com", "news", 0.9)], "key string, category string, trust double"
    )
    df = spark.createDataFrame([(1, "site1.com")], "id int, domain string")
    out = apply_stage(
        df, {"translate": {"source": "domain", "target": "dominfo", "dictionary_df": dim}}
    )
    r = out.collect()[0]
    assert r.dominfo.category == "news" and r.dominfo.trust == 0.9


_IP_MAX = 2**32 - 1
_RANGE_DDL = ("ip_start_int long, ip_end_int long, country string, city string, "
              "lat double, lon double")
_RULE_DDL = "pattern string, name string, os string, device string, priority int"


def _dotted(n: int) -> str:
    return ".".join(str((n >> s) & 255) for s in (24, 16, 8, 0))


def _py_ip(s):
    """Pure-Python ``ip_to_long``: four ASCII-digit octets in 0..255."""
    parts = None if s is None else s.split(".")
    if parts is None or len(parts) != 4:
        return None
    octets = [int(p) if p.isascii() and p.isdigit() else -1 for p in parts]
    if not all(0 <= o <= 255 for o in octets):
        return None
    return (octets[0] << 24) | (octets[1] << 16) | (octets[2] << 8) | octets[3]


def _py_geo(ranges, ip: str | None):
    """(country or None, tagged) — a linear scan over every range."""
    n = _py_ip(ip)
    hit = [r for r in ranges if n is not None and r[0] <= n <= r[1]]
    assert len(hit) <= 1
    return (hit[0][2] if hit else None), (ip is not None and not hit)


def _py_ua(rules, agent: str | None):
    for pat, name, *_ in sorted(rules, key=lambda r: r[4]):
        if agent is not None and re.search(pat, agent, re.ASCII):
            return name
    return None


def _probe_ips(ranges) -> list[str | None]:
    ips = {0, _IP_MAX, 2**31}
    for lo, hi, *_ in ranges:
        ips |= {lo, hi, lo - 1, hi + 1, (lo + hi) // 2}
    return [_dotted(n) for n in sorted(ips) if 0 <= n <= _IP_MAX] + [
        None, "bad-ip", "1.2.3", "256.1.1.1", "1.2.3.4.5", "", "-1.0.0.0"]


@pytest.mark.parametrize("n_ranges", [1, 64, 2001, 10_000])
def test_geoip_one_answer_per_event_at_every_dim_size(spark, n_ranges):
    """One lookup at every dim size (the old strategy switch sat at
    2000 ranges): each event leaves as one row and agrees with a scan
    over the ranges; a set but unparsable or unmatched ip is tagged."""
    ranges_df = gen_geo_ranges(spark, n_ranges)
    ranges = [tuple(r) for r in ranges_df.collect()]
    ips = _probe_ips(ranges[:50] + ranges[-50:])
    df = spark.createDataFrame(list(enumerate(ips)), "id int, ip string")
    out = apply_stage(df, {"geoip": {"source": "ip", "ranges_df": ranges_df}})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "ArrowEvalPython" not in plan
    rows = out.collect()
    assert sorted(r.id for r in rows) == list(range(len(ips)))
    for r in rows:
        country, tagged = _py_geo(ranges, r.ip)
        assert (r.geo.country if r.geo else None) == country, r.ip
        assert ("_geoip_lookup_failure" in (r.tags or [])) == tagged, r.ip


def _geo_frame(spark, ranges):
    return local_frame(spark, [(lo, hi, c, c.lower(), 1.0, -1.0)
                               for lo, hi, c in ranges], _RANGE_DDL)


@pytest.mark.parametrize("ranges, named", [
    ([(0, 100, "OUT"), (50, 60, "IN")], r"\[0, 100\] and \[50, 60\]"),
    ([(0, 10, "A"), (10, 20, "B")], r"\[0, 10\] and \[10, 20\]"),
    ([(30, 20, "X")], r"\[30, 20\]"),
])
def test_geoip_bad_ranges_fail_before_the_run_writes(spark, tmp_path, ranges, named):
    """Overlapping (nested or touching) and inverted ranges fail when
    the pipeline is built, naming the ranges, before ``run`` touches
    its ``run_dir``: a nested pair would otherwise give an IP in the
    outer range two answers or none."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame([(1, "0.0.0.70")], "id int, ip string")
    run_dir = tmp_path / "run"
    with pytest.raises(ValueError, match=named):
        Pipeline({"id": "geo", "filters": [
            {"geoip": {"source": "ip", "ranges_df": _geo_frame(spark, ranges)}}],
            "outputs": [{"name": "all"}]}).run(df, str(run_dir), bucket_on="id",
                                                n_buckets=2)
    assert not run_dir.exists()


def test_useragent_one_dialect_at_every_rule_count(spark):
    """``^\\w+/`` over ``Bérénice/1``: Java's ASCII ``\\w`` stops at the
    ``é``, so no rule matches, at 6 rules as at 100 (the old switch sat
    at 64 rules and sent 100 to Python's Unicode ``\\w``)."""
    df = spark.createDataFrame([(1, "Bérénice/1"), (2, "Bob/1")], "id int, agent string")
    base = [(r"^\w+/", "Word", "Other", "Other", 0)] + [
        (f"^never{i}$", f"r{i}", "Other", "Other", i + 1) for i in range(5)]
    answers = []
    for pad in (0, 94):
        rules = base + [(f"^pad{i}$", f"p{i}", "Other", "Other", 10 + i) for i in range(pad)]
        out = apply_stage(df, {"useragent": {
            "source": "agent", "rules_df": local_frame(spark, rules, _RULE_DDL)}})
        answers.append({r.id: r.ua.name if r.ua else None for r in out.collect()})
    assert answers == [{1: None, 2: "Word"}] * 2


@st.composite
def _geo_ranges(draw):
    """Non-overlapping ranges from random cut points plus a cluster of
    narrow ones, so the bins are narrow and a wide range spans many;
    the first range starts at 0 and the last ends at 2^32-1."""
    cuts = set(draw(st.lists(st.integers(1, _IP_MAX), max_size=10)))
    base = draw(st.integers(0, _IP_MAX - 4096))
    width = draw(st.integers(1, 64))
    cuts |= {base + i * width for i in range(draw(st.integers(0, 40)))}
    cuts = sorted(cuts | {0, _IP_MAX + 1})
    keep = draw(st.lists(st.booleans(), min_size=len(cuts) - 1, max_size=len(cuts) - 1))
    keep[0] = keep[-1] = True
    return [(lo, nxt - 1, f"C{i}")
            for i, (lo, nxt, kept) in enumerate(zip(cuts, cuts[1:], keep)) if kept]


# Patterns that read the same in Java and in Python under re.ASCII.
_UA_PATTERNS = [r"^\w+/", "bot", r"Fire\w*/\d", "é", r"[A-Z]\w*/\d", "^Mo",
                "Bérénice", r"\d\.\d", "Ω", "^$", "/1$", "a+"]
_UA_AGENTS = ["Mozilla/5.0 Firefox/121.0", "Bérénice/1", "acmebot/2.1",
              "naïve/3", "Ωmega/1", "curl/8.0", "", "Bob/1.2"]


@st.composite
def _ua_rules(draw):
    pats = draw(st.lists(st.sampled_from(_UA_PATTERNS), max_size=8))
    pats += [f"^pad{i}$" for i in range(draw(st.sampled_from([0, 70])))]
    prio = draw(st.permutations(range(len(pats))))
    return [(p, f"r{i}", "Other", "Other", prio[i]) for i, p in enumerate(pats)]


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(ranges=_geo_ranges(), rules=_ua_rules(), data=st.data())
def test_enrich_agrees_with_a_python_oracle(spark, ranges, rules, data):
    """geoip and useragent over random dims give one row per event, and
    each answer is the pure-Python oracle's."""
    ips = _probe_ips(ranges) + [
        _dotted(n) for n in data.draw(st.lists(st.integers(0, _IP_MAX), max_size=5))]
    agents = [None] + _UA_AGENTS + data.draw(
        st.lists(st.text(alphabet="aBé/1 Ω.", max_size=8), max_size=5))
    events = [(i, ip, agents[i % len(agents)]) for i, ip in enumerate(ips)]
    df = spark.createDataFrame(events, "id int, ip string, agent string")
    out = apply_stage(df, {"geoip": {"source": "ip", "ranges_df": _geo_frame(spark, ranges)}})
    out = apply_stage(out, {"useragent": {
        "source": "agent", "rules_df": local_frame(spark, rules, _RULE_DDL)}})
    rows = out.collect()
    assert sorted(r.id for r in rows) == list(range(len(events)))
    for r in rows:
        country, tagged = _py_geo(ranges, r.ip)
        assert (r.geo.country if r.geo else None) == country, r.ip
        assert ("_geoip_lookup_failure" in (r.tags or [])) == tagged, r.ip
        assert (r.ua.name if r.ua else None) == _py_ua(rules, r.agent), r.agent


def test_useragent(spark):
    rules = gen_ua_rules(spark)
    df = spark.createDataFrame(
        [
            (1, "Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0"),
            (2, "Googlebot/2.1 (+http://www.google.com/bot.html)"),
            (3, "weird agent"),
            (4, None),
        ],
        "id int, agent string",
    )
    out = apply_stage(df, {"useragent": {"source": "agent", "rules_df": rules}})
    rows = {r.id: r for r in out.collect()}
    assert rows[1].ua.name == "Firefox"
    assert rows[2].ua.name == "Googlebot"  # priority 0 wins over Chrome-ish patterns
    assert rows[3].ua is None and rows[4].ua is None


def _jobs_during(spark, group: str, fn):
    """Run ``fn`` under a job group; return (its result, the Spark job
    ids it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _dims_pipeline(spark):
    from logstash_spark.pipeline import Pipeline

    return Pipeline({"id": "dims", "filters": [
        {"geoip": {"source": "ip", "ranges_df": gen_geo_ranges(spark, 50)}},
        {"geoip": {"source": "ip", "target": "geo_big",
                   "ranges_df": gen_geo_ranges(spark, 3000)}},
        {"useragent": {"source": "agent", "rules_df": gen_ua_rules(spark)}},
    ]})


def test_dims_resolved_once_per_stage(spark):
    """register() parity: a stream compiles once per micro-batch, but
    the geoip bins are built with the stage and the useragent rules are
    collected on the first compile only. Later compiles start no Spark
    job and reuse the same state; no stage holds a broadcast variable."""
    df = spark.createDataFrame(
        [("0.0.1.0", "Googlebot/2.1 (+http://www.google.com/bot.html)")],
        "ip string, agent string")
    pipe = _dims_pipeline(spark)

    def resolved(p):
        return {(i, k): v for i, (_, s) in enumerate(p.stages)
                for k, (_, v) in s._resolved.items()}

    assert set(resolved(pipe)) == {(0, "bins"), (1, "bins")}
    pipe.compile(df)
    first = resolved(pipe)
    assert set(first) == {(0, "bins"), (1, "bins"), (2, "rules")}
    for i in range(3):
        out, again = _jobs_during(spark, f"dims_again_{i}", lambda: pipe.compile(df))
        assert again == []
    assert all(v is first[k] for k, v in resolved(pipe).items())
    r = out.collect()[0]
    assert r.geo is not None and r.geo_big is not None and r.ua.name == "Googlebot"

    # a fresh stage object resolves its own dims
    fresh = resolved(_dims_pipeline(spark))
    assert fresh and all(v is not first[k] for k, v in fresh.items())


def test_cidr(spark):
    df = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "192.168.1.5"), (3, "8.8.8.8")], "id int, ip string"
    )
    out = apply_stage(
        df,
        {"cidr": {"address": "ip", "network": ["10.0.0.0/8", "192.168.0.0/16"],
                  "add_tag": ["internal"]}},
    )
    rows = {r.id: r for r in out.collect()}
    assert "internal" in rows[1].tags and "internal" in rows[2].tags
    assert "internal" not in (rows[3].tags or [])


def test_tld(spark):
    df = spark.createDataFrame(
        [(1, "https://www.example.co.uk/x"), (2, "https://site.com/y"), (3, "nota url")],
        "id int, url string",
    )
    out = apply_stage(
        df, {"tld": {"source": "url", "suffixes": ["com", "co.uk", "uk"]}}
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].tld == "co.uk" and rows[1].domain == "www.example.co.uk"
    assert rows[2].tld == "com"
    assert rows[3].tld is None


def test_translate_dictionary_file_formats(tmp_path):
    """YAML (minimal fallback parser) / CSV / JSON dictionary files all
    load to the same dict (translate.rb file-dictionary surface)."""
    from logstash_spark.stages.enrich import load_dictionary_file

    expected = {"click": "engagement", "purchase": "revenue"}
    (tmp_path / "d.json").write_text('{"click": "engagement", "purchase": "revenue"}')
    (tmp_path / "d.csv").write_text("click,engagement\npurchase,revenue\n")
    (tmp_path / "d.yml").write_text(
        "# categories\nclick: engagement\n'purchase': 'revenue'\n"
    )
    for name in ("d.json", "d.csv", "d.yml"):
        assert load_dictionary_file(str(tmp_path / name)) == expected, name
    import pytest

    with pytest.raises(ValueError):
        load_dictionary_file(str(tmp_path / "d.txt"))


def test_ruby_code_string_rejected(spark):
    from logstash_spark.stages.base import apply_stage
    import pytest

    df = spark.createDataFrame([(1, "x")], "id int, message string")
    with pytest.raises(ValueError, match="callable"):
        apply_stage(df, {"ruby": {"code": 'event.set("a", 1)'}})


def test_ip_to_long_malformed_never_aborts(spark):
    """ANSI-on session: numeric-but-huge segments must yield null, not
    ARITHMETIC_OVERFLOW; wrong octet counts and out-of-range octets are
    lookup misses (null), never job aborts."""
    df = spark.createDataFrame(
        [("99999999999999999.1.1.1",), ("1.2.3",), ("1.2.3.4.5",),
         ("256.1.1.1",), ("a.b.c.d",), ("10.0.0.1",), (None,)],
        "ip string",
    )
    vals = [r.n for r in df.select(ip_to_long(F.col("ip")).alias("n")).collect()]
    assert vals == [None, None, None, None, None, 167772161, None]


def test_dns_resolve_replace_inline(spark):
    df = spark.createDataFrame(
        [(1, "Www.Example.COM"), (2, "nxdomain.test")], "id int, host string"
    )
    out = apply_stage(
        df,
        {"dns": {"resolve": ["host"], "action": "replace",
                 "hosts": {"www.example.com": "93.184.216.34"},
                 "tag_on_miss": "_dnsmiss", "add_tag": ["resolved"]}},
    )
    rows = {r.id: r for r in out.collect()}
    # hit: replaced in place, common options applied (all lookups succeeded)
    assert rows[1].host == "93.184.216.34" and "resolved" in rows[1].tags
    # miss: field unchanged (dns.rb leaves it), miss tag, no matched tag
    assert rows[2].host == "nxdomain.test"
    assert "_dnsmiss" in rows[2].tags and "resolved" not in rows[2].tags


def test_dns_append_and_reverse_hosts_df(spark):
    dim = spark.createDataFrame(
        [("db.internal", "10.0.0.5"), ("web.internal", "10.0.0.6")],
        "name string, address string",
    )
    df = spark.createDataFrame(
        [(1, "db.internal", "10.0.0.6"), (2, "gone.internal", "10.9.9.9")],
        "id int, host string, ip string",
    )
    out = apply_stage(
        df, {"dns": {"resolve": ["host"], "reverse": ["ip"], "hosts_df": dim}}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # snapshot join, fact side unshuffled
    rows = {r.id: r for r in out.collect()}
    # append mode (dns.rb default): array with resolved value appended
    assert list(rows[1].host) == ["db.internal", "10.0.0.5"]
    assert list(rows[1].ip) == ["10.0.0.6", "web.internal"]
    # misses stay as singleton arrays (typed-column deviation, documented)
    assert list(rows[2].host) == ["gone.internal"]
    assert list(rows[2].ip) == ["10.9.9.9"]


def test_dns_hosts_file_and_guardrails(spark, tmp_path):
    hosts = tmp_path / "hosts"
    hosts.write_text(
        "# comment\n10.0.0.5 db.internal db  # trailing\n10.0.0.6 web.internal\n"
    )
    df = spark.createDataFrame([(1, "DB")], "id int, host string")
    out = apply_stage(
        df,
        {"dns": {"resolve": ["host"], "action": "replace",
                 "hosts_path": str(hosts)}},
    )
    assert out.collect()[0].host == "10.0.0.5"  # alias + case-insensitive
    with pytest.raises(ValueError, match="snapshot"):
        apply_stage(df, {"dns": {"resolve": ["host"]}})
    with pytest.raises(ValueError, match="action"):
        apply_stage(df, {"dns": {"resolve": ["host"], "hosts": {},
                                 "action": "upsert"}})


def test_jdbc_streaming_parameterized_lookup(spark, tmp_path):
    """Per-event parameterized lookup (jdbc_streaming.rb): the statement
    runs once per DISTINCT parameter tuple (≙ the LRU hit cache) over a
    real Derby connection, results broadcast-joined back per event."""
    url = f"jdbc:derby:{tmp_path}/js_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    dim = spark.createDataFrame(
        [("10.0.0.5", "db1", 1), ("10.0.0.5", "db2", 2), ("10.0.0.6", "web", 1)],
        "ip string, server string, prio int",
    )
    dim.write.mode("overwrite").format("jdbc").options(
        url=url, dbtable="servers", driver=driver,
        createTableColumnTypes="ip VARCHAR(64), server VARCHAR(64), prio INTEGER",
    ).save()
    df = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.0.5"), (3, "10.9.9.9")], "id int, src_ip string"
    )
    conf = {
        "jdbc_connection_string": url,
        "jdbc_driver_class": driver,
        "statement": 'SELECT "server", "prio" FROM servers '
                     'WHERE "ip" = :ip ORDER BY "prio"',
        "parameters": {"ip": "src_ip"},
        "target": "server_info",
        "default_hash": {"server": "unknown"},
    }
    out = apply_stage(df, {"jdbc_streaming": conf})
    rows = {r.id: r for r in out.collect()}
    # multi-row result: array of typed structs, statement ORDER respected
    assert [s.server for s in rows[1].server_info] == ["db1", "db2"]
    assert rows[1].server_info[0].prio == 1  # INTEGER → long via metadata
    assert rows[2].server_info == rows[1].server_info  # same tuple, one execution
    # miss → default_hash row + tag_on_default_use default tag
    assert rows[3].server_info[0].server == "unknown"
    assert rows[3].server_info[0].prio is None
    assert "_jdbcstreamingdefaultsused" in rows[3].tags
    assert "_jdbcstreamingdefaultsused" not in (rows[1].tags or [])
    # a bare-string tag_on_default_use is one tag, not one per character
    out = apply_stage(df, {"jdbc_streaming": {**conf, "tag_on_default_use": "_jdbc_miss"}})
    assert {r.id: r.tags for r in out.collect()}[3] == ["_jdbc_miss"]


def test_jdbc_streaming_guardrails(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/js_db2;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame([(1, "a")], "k int, v string").write.mode(
        "overwrite").format("jdbc").options(
        url=url, dbtable="t", driver=driver,
        createTableColumnTypes="k INTEGER, v VARCHAR(16)").save()
    df = spark.createDataFrame([(i, str(i)) for i in range(10)], "id int, key string")
    conf = {"jdbc_connection_string": url, "jdbc_driver_class": driver,
            "statement": 'SELECT "v" FROM t WHERE "k" = :k',
            "parameters": {"k": "key"}, "target": "r"}
    # over-guard with a non-equality param shape: the loud error remains
    with pytest.raises(ValueError, match="does not qualify"):
        apply_stage(df, {"jdbc_streaming": {
            **conf, "max_distinct_params": 3,
            "statement": 'SELECT "v" FROM t WHERE "k" > :k'}})
    with pytest.raises(ValueError, match="statement binds"):
        apply_stage(df, {"jdbc_streaming": {**conf, "parameters": {"zz": "key"}}})
    with pytest.raises(ValueError, match="no :param placeholders"):
        apply_stage(df, {"jdbc_streaming": {
            **conf, "statement": "SELECT 1 FROM t", "parameters": {}}})


def test_jdbc_streaming_degrades_to_static_plan_above_guard(spark, tmp_path):
    """VERDICT r4 #2: above max_distinct_params the stage switches to a
    partitioned spark.read.jdbc + distributed join (the jdbc_static
    shape) and returns IDENTICAL enrichment — including the float
    round-trip bind coercion, garbage-string misses, NULL params, and
    default_hash — with the error reserved for unbounded shapes."""
    url = f"jdbc:derby:{tmp_path}/js_db4;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame(
        [(k, f"srv{k}", k % 3) for k in range(20)] + [(5, "srv5b", 9)],
        "k int, name string, zone int",
    ).write.mode("overwrite").format("jdbc").options(
        url=url, dbtable="hosts4", driver=driver,
        createTableColumnTypes="k INTEGER, name VARCHAR(32), zone INTEGER",
    ).save()
    events = [(i, str(i % 8)) for i in range(16)] + [
        (100, "5.0"),      # float rendering binds to key 5
        (101, "garbage"),  # unbindable → miss → default_hash
        (102, None),       # NULL param never equals
    ]
    df = spark.createDataFrame(events, "id int, key string")
    conf = {
        "jdbc_connection_string": url, "jdbc_driver_class": driver,
        "statement": 'SELECT "name", "zone" FROM hosts4 WHERE "k" = :k',
        "parameters": {"k": "key"}, "target": "host_info",
        "default_hash": {"name": "unknown"},
    }
    fast = apply_stage(df, {"jdbc_streaming": {**conf,
                                               "max_distinct_params": 1000}})
    slow = apply_stage(df, {"jdbc_streaming": {
        **conf, "max_distinct_params": 3,
        # exercise the Spark-jdbc option passthrough on the degraded read
        "jdbc_read_options": {"fetchsize": "7"}}})
    # partitionColumn is incompatible with Spark's `query` option — the
    # stage must wrap the rewritten statement as a dbtable subquery so
    # the documented parallel-scan path actually loads
    parted = apply_stage(df, {"jdbc_streaming": {
        **conf, "max_distinct_params": 3,
        "jdbc_read_options": {"partitionColumn": "zone", "lowerBound": "0",
                              "upperBound": "10", "numPartitions": "2"}}})
    assert {r.id: r.host_info for r in parted.collect()} == \
        {r.id: r.host_info for r in fast.collect()}
    assert fast.schema == slow.schema
    f_rows = {r.id: r for r in fast.collect()}
    s_rows = {r.id: r for r in slow.collect()}
    assert set(f_rows) == set(s_rows)
    for i in f_rows:
        # array order is deterministic-but-unspecified in the degraded
        # regime (documented deviation) → compare as sorted sets
        assert sorted(map(tuple, f_rows[i].host_info)) == \
            sorted(map(tuple, s_rows[i].host_info)), f"id {i}"
        assert (f_rows[i].tags or []) == (s_rows[i].tags or []), f"id {i}"
    assert s_rows[100].host_info[0].name == "srv5"
    assert s_rows[101].host_info[0].name == "unknown"
    assert s_rows[102].host_info[0].name == "unknown"
    assert sorted(s.name for s in s_rows[5].host_info) == ["srv5", "srv5b"]


def test_jdbc_streaming_degraded_conjunct_validation():
    """The degraded rewrite may lift a param equality ONLY when it is a
    top-level AND conjunct of the WHERE clause: `code = :c OR vip = 1`
    returns vip rows for EVERY tuple in the fast path, but a join on
    the hoisted column would silently drop them — such shapes must keep
    the loud guard error, never silently diverge."""
    from logstash_spark.stages.enrich import JdbcStreamingStage

    rw = JdbcStreamingStage._rewrite_param_conjuncts
    # qualifying shapes
    ids, out = rw('SELECT "v" FROM t WHERE "k" = :k', ["k"])
    assert ids == {"k": '"k"'}
    assert ":k" not in out and "1=1" in out
    ids, out = rw("SELECT v FROM t WHERE a = 1 AND :k = k ORDER BY v", ["k"])
    assert ids["k"] == "k" and out.rstrip().endswith("ORDER BY v")
    assert "a = 1" in out
    ids, out = rw("SELECT v FROM t WHERE (k = :k) AND (x = 1 OR y = 2)",
                  ["k"])
    assert ids["k"] == "k" and "(x = 1 OR y = 2)" in out and ":k" not in out
    # two params, reversed order in the statement
    ids, out = rw("SELECT v FROM t WHERE b = :q AND a = :p", ["p", "q"])
    assert ids == {"p": "a", "q": "b"} and ":p" not in out and ":q" not in out
    # AND inside a string literal must not split conjuncts
    ids, out = rw("SELECT v FROM t WHERE s = 'x AND y' AND k = :k", ["k"])
    assert "'x AND y'" in out and ":k" not in out
    # disqualifying shapes → ValueError (surfaces as the guard error)
    for stmt in [
        "SELECT v FROM t WHERE k = :k OR vip = 1",      # OR sibling
        "SELECT v FROM t WHERE NOT (k = :k)",           # negated
        "SELECT v FROM t WHERE (k = :k OR b = 1) AND c = 2",  # nested OR
        "SELECT v FROM t JOIN u ON u.k = :k",           # no WHERE
        "SELECT v FROM t WHERE k = :k AND k = :k",      # twice
        "SELECT v FROM t WHERE k > :k",                 # non-equality
    ]:
        with pytest.raises(ValueError):
            rw(stmt, ["k"])


def test_jdbc_streaming_degraded_or_statement_errors_loudly(spark, tmp_path):
    """Integration: an OR-shaped statement above the guard raises the
    documented 'does not qualify' error instead of silently returning
    different rows than the fast path."""
    url = f"jdbc:derby:{tmp_path}/js_db_or;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k int, v string, vip int"
    ).write.mode("overwrite").format("jdbc").options(
        url=url, dbtable="t_or", driver=driver,
        createTableColumnTypes="k INTEGER, v VARCHAR(16), vip INTEGER",
    ).save()
    df = spark.createDataFrame([(i, str(i)) for i in range(6)],
                               "id int, key string")
    with pytest.raises(ValueError, match="does not qualify"):
        apply_stage(df, {"jdbc_streaming": {
            "jdbc_connection_string": url, "jdbc_driver_class": driver,
            "statement": 'SELECT "v" FROM t_or WHERE "k" = :k OR "vip" = 1',
            "parameters": {"k": "key"}, "target": "r",
            "max_distinct_params": 2}})


def test_jdbc_streaming_unbindable_param_is_miss_not_abort(spark, tmp_path):
    """A value that cannot bind to the numeric parameter type is a
    lookup MISS for that tuple (reference: the event just gets no rows /
    default_hash) — never a stage abort."""
    url = f"jdbc:derby:{tmp_path}/js_db3;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame([(3, "three")], "k int, v string").write.mode(
        "overwrite").format("jdbc").options(
        url=url, dbtable="t3", driver=driver,
        createTableColumnTypes="k INTEGER, v VARCHAR(16)").save()
    df = spark.createDataFrame(
        [(1, "3.0"), (2, "garbage"), (3, "3")], "id int, key string"
    )
    out = apply_stage(
        df,
        {"jdbc_streaming": {
            "jdbc_connection_string": url, "jdbc_driver_class": driver,
            "statement": 'SELECT "v" FROM t3 WHERE "k" = :k',
            "parameters": {"k": "key"}, "target": "r",
            "default_hash": {"v": "none"},
        }},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].r[0].v == "three"   # '3.0' binds via float round-trip
    assert rows[2].r[0].v == "none"    # garbage → miss → default_hash
    assert rows[3].r[0].v == "three"


def _snapshot_conf(stage: str, n: int) -> dict:
    """A ``stage`` config over an inline n-entry dict whose entry 77
    maps h77.internal → 10.0.77.1."""
    table = {f"h{i}.internal": f"10.{i >> 8}.{i & 255}.1" for i in range(n)}
    return {
        "dns": {"resolve": ["host"], "action": "replace", "hosts": table},
        "translate": {"source": "host", "target": "host", "dictionary": table},
        "memcached": {"get": {"%{host}": "host"}, "snapshot": table},
    }[stage]


@pytest.mark.parametrize("stage", ["dns", "translate", "memcached"])
def test_snapshot_lookup_is_one_broadcast_join_at_every_size(spark, stage):
    """Every exact-key dict lookup is one broadcast hash join, at 2
    entries and at 10,001 (no map literal, no size switch)."""
    df = spark.createDataFrame([(1, "h77.internal"), (2, "h2")], "id int, host string")
    for n in (2, 10_001):
        out = apply_stage(df, {stage: _snapshot_conf(stage, n)})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, n
        want = {1: "10.0.77.1" if n > 77 else None, 2: None}
        got = {r.id: r.host for r in out.collect()}
        if stage == "dns":  # a dns miss leaves the field as it was
            want = {1: want[1] or "h77.internal", 2: "h2"}
        assert got == want, n


def test_translate_dictionary_df_duplicate_key_gives_one_row(spark):
    """A key the dim holds twice matches once, with the min value; the
    join must not duplicate the event."""
    dim = spark.createDataFrame([("x", "ex2"), ("x", "ex"), ("y", "why")],
                                "key string, value string")
    df = spark.createDataFrame([(1, "x"), (2, "q")], "id int, code string")
    out = apply_stage(
        df, {"translate": {"source": "code", "target": "word", "dictionary_df": dim}})
    assert sorted((r.id, r.word) for r in out.collect()) == [(1, "ex"), (2, None)]


def test_translate_int_keyed_dict_never_casts_the_field(spark):
    """JSON/YAML ``200: OK`` gives int keys. The string field is looked
    up as a string: a dirty value is a miss, not a CAST_INVALID_INPUT
    abort under ANSI."""
    df = spark.createDataFrame([(1, "200"), (2, "abc"), (3, "404"), (4, None)],
                               "id int, status string")
    out = apply_stage(df, {"translate": {
        "source": "status", "target": "reason",
        "dictionary": {200: "OK", 404: "Not Found"}, "tag_on_miss": "_miss"}})
    rows = {r.id: r for r in out.collect()}
    assert {i: r.reason for i, r in rows.items()} == \
        {1: "OK", 2: None, 3: "Not Found", 4: None}
    assert {i for i, r in rows.items() if "_miss" in (r.tags or [])} == {2}


def test_translate_int_valued_dict_keeps_an_integer_target(spark, tmp_path):
    """A YAML dictionary of ints (keys and values) looks up a string
    field and writes an integer target."""
    path = tmp_path / "codes.yml"
    path.write_text("200: 2\n404: 4\n")
    df = spark.createDataFrame([(1, "200"), (2, "abc"), (3, "404")],
                               "id int, status string")
    out = apply_stage(df, {"translate": {
        "source": "status", "target": "cls", "dictionary_path": str(path)}})
    assert dict(out.dtypes)["cls"] in ("int", "bigint")
    assert {r.id: r.cls for r in out.collect()} == {1: 2, 2: None, 3: 4}


def test_tag_options_take_a_bare_string_or_a_list(spark):
    """``tag_on_miss`` given as a list tags every name in it, and a bare
    string tags the one name (not one tag per character)."""
    df = spark.createDataFrame([(1, "x"), (2, "q")], "id int, code string")
    for tags, want in ((["_a", "_b"], {"_a", "_b"}), ("_a", {"_a"})):
        for spec in (
            {"translate": {"source": "code", "dictionary": {"x": "ex"},
                           "tag_on_miss": tags}},
            {"dns": {"resolve": ["code"], "hosts": {"x": "10.0.0.1"},
                     "tag_on_miss": tags}},
            {"memcached": {"get": {"%{code}": "v"}, "snapshot": {"x": "ex"},
                           "tag_on_miss": tags}},
        ):
            rows = {r.id: set(r.tags or []) for r in apply_stage(df, spec).collect()}
            assert rows == {1: set(), 2: want}, spec


def test_elasticsearch_filter_snapshot_join(spark):
    """elasticsearch filter: term-lookup against an index snapshot,
    best hit by sort copied onto the event; misses tagged."""
    index = spark.createDataFrame(
        [("c1", "Acme", 10, "2026-01-01"),
         ("c1", "Acme Corp", 99, "2026-06-01"),   # newer score wins on sort
         ("c2", "Globex", 50, "2026-03-01")],
        "customer_id string, name string, score int, updated string",
    )
    df = spark.createDataFrame(
        [(1, "c1"), (2, "c2"), (3, "c404")], "id int, cust string"
    )
    out = apply_stage(
        df,
        {"elasticsearch": {
            "index_df": index,
            "match": {"customer_id": "cust"},
            "sort": "score:desc",
            "fields": {"name": "customer_name", "score": "customer_score"},
        }},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r.id: r for r in out.collect()}
    assert rows[1].customer_name == "Acme Corp" and rows[1].customer_score == 99
    assert rows[2].customer_name == "Globex"
    assert rows[3].customer_name is None
    assert "_elasticsearch_lookup_failure" in rows[3].tags
    assert "_elasticsearch_lookup_failure" not in (rows[1].tags or [])


def test_elasticsearch_filter_edge_semantics(spark):
    """Review-driven edges: null sort values return (last), bare sort
    field is ASC (the ES default), match-key copy is order-independent,
    dotted ES field names work."""
    index = spark.createDataFrame(
        [("k1", None, "null-score-doc"), ("k2", 9, "high"), ("k2", 1, "low")],
        "customer_id string, score int, name string",
    )
    df = spark.createDataFrame([(1, "k1"), (2, "k2")], "id int, cust string")
    # a key whose EVERY row has a null sort value still hits (ES
    # missing:_last returns the doc; max_by would have dropped it)
    out = apply_stage(
        df,
        {"elasticsearch": {"index_df": index,
                           "match": {"customer_id": "cust"},
                           "sort": "score:desc",
                           "fields": {"name": "nm"}}},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].nm == "null-score-doc" and not rows[1].tags
    assert rows[2].nm == "high"
    # bare sort field → ASC, the ES default
    out2 = apply_stage(
        df,
        {"elasticsearch": {"index_df": index,
                           "match": {"customer_id": "cust"},
                           "sort": "score",
                           "fields": {"name": "nm"}}},
    )
    assert {r.id: r.nm for r in out2.collect()}[2] == "low"
    # match-key copy reads the PROBE value even when an earlier fields
    # entry overwrote the probe column in place
    out3 = apply_stage(
        df,
        {"elasticsearch": {"index_df": index,
                           "match": {"customer_id": "cust"},
                           "sort": "score:desc",
                           "fields": {"name": "cust", "customer_id": "cid"}}},
    )
    r2 = {r.id: r for r in out3.collect()}[2]
    assert r2.cust == "high" and r2.cid == "k2"
    # dotted ES field names stay literal (standard in ES object mappings)
    dotted = spark.createDataFrame(
        [("k1", "alice")], ["customer_id", "user.name"]
    )
    out4 = apply_stage(
        df,
        {"elasticsearch": {"index_df": dotted,
                           "match": {"customer_id": "cust"},
                           "fields": {"user.name": "uname"}}},
    )
    assert {r.id: r.uname for r in out4.collect()} == {1: "alice", 2: None}


def test_dns_duplicate_host_keys_pick_deterministically(spark):
    """ADVICE r4: duplicate keys in a hosts snapshot must resolve to the
    SAME value on every run/retry (min, not an unordered F.first)."""
    dim = spark.createDataFrame(
        [("db.internal", "10.0.0.9"), ("db.internal", "10.0.0.2"),
         ("DB.INTERNAL", "10.0.0.5")],
        "name string, addr string",
    )
    df = spark.createDataFrame([(1, "db.internal")], "id int, host string")
    conf = {"dns": {"resolve": ["host"], "action": "replace", "hosts_df": dim}}
    picks = {apply_stage(df, conf).collect()[0].host for _ in range(3)}
    assert picks == {"10.0.0.2"}  # min over all case-folded dupes


def test_elasticsearch_filter_map_column_in_index(spark):
    """ADVICE r4: a map-typed column (legal in an ES export) must not
    break the no-sort tiebreak window — unorderable columns are skipped."""
    from pyspark.sql import functions as F

    index = spark.createDataFrame(
        [("k1", "doc-a"), ("k1", "doc-b")], "customer_id string, name string"
    ).withColumn("labels", F.create_map(F.lit("env"), F.lit("prod")))
    df = spark.createDataFrame([(1, "k1"), (2, "k404")], "id int, cust string")
    out = apply_stage(
        df,
        {"elasticsearch": {"index_df": index,
                           "match": {"customer_id": "cust"},
                           "fields": {"name": "nm"}}},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].nm == "doc-a"  # orderable columns still break the tie
    assert rows[2].nm is None


def test_memcached_get_snapshot(spark):
    """memcached filter (P2 promotion): GET against a broadcast cache
    snapshot — %{field} key templates, namespace prefix, dict and
    DataFrame snapshots agree, `set` rejected loudly."""
    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "nobody")], "id int, user string"
    )
    cache = {"app:user-alice": "admin", "app:user-bob": "viewer"}
    conf = {"namespace": "app", "get": {"user-%{user}": "role"},
            "snapshot": cache, "tag_on_miss": "_mc_miss"}
    out = apply_stage(df, {"memcached": conf})
    rows = {r.id: r for r in out.collect()}
    assert rows[1].role == "admin" and rows[2].role == "viewer"
    assert rows[3].role is None and "_mc_miss" in rows[3].tags
    assert "__matched" not in out.columns

    # DataFrame snapshot: broadcast join, same answers, dup keys → min
    snap_df = spark.createDataFrame(
        [("app:user-alice", "admin"), ("app:user-alice", "zz-dup"),
         ("app:user-bob", "viewer")], "key string, value string"
    )
    out2 = apply_stage(df, {"memcached": {**conf, "snapshot": None,
                                          "snapshot_df": snap_df}})
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert {r.id: r.role for r in out2.collect()} == \
        {r.id: r.role for r in out.collect()}

    # reference option tag_on_success: tags rows where every get hit
    out3 = apply_stage(df, {"memcached": {**conf,
                                          "tag_on_success": "mc_hit"}})
    rows3 = {r.id: r for r in out3.collect()}
    assert "mc_hit" in rows3[1].tags and "mc_hit" in rows3[2].tags
    assert "mc_hit" not in (rows3[3].tags or []) and "_mc_miss" in rows3[3].tags

    import pytest
    with pytest.raises(ValueError, match="side effect"):
        apply_stage(df, {"memcached": {**conf, "set": {"role": "k"}}})
    with pytest.raises(ValueError, match="snapshot is required"):
        apply_stage(df, {"memcached": {"get": {"k": "v"}}})


# --------------------------------------------------------------------------
# http filter (logstash-filter-http) — pluggable-transport promotion
# --------------------------------------------------------------------------

def _make_fake_transport():
    # a CLOSURE, not a module-level function: cloudpickle ships closures
    # by value to the workers (the tests package itself is not shipped)
    table = {
        "http://api/users/1": (200, {"X-Srv": "a"}, '{"name":"ada"}'),
        "http://api/users/2": (200, {"X-Srv": "b"}, '{"name":"bob"}'),
        "http://api/users/500": (500, {}, "boom"),
    }

    def transport(url):
        if url not in table:
            raise OSError("connection refused")
        return table[url]

    return transport


def test_http_filter_transport_fetch(spark):
    df = spark.createDataFrame(
        [(1, "1"), (2, "2"), (3, "1"), (4, "500"), (5, "missing")],
        "id int, uid string",
    )
    out = apply_stage(
        df,
        {"http": {"url": "http://api/users/%{uid}",
                  "transport": _make_fake_transport(),
                  "target_body": "body", "target_headers": "resp_headers"}},
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].body == '{"name":"ada"}' and rows[3].body == '{"name":"ada"}'
    assert rows[1].resp_headers == {"X-Srv": "a"}
    # non-2xx and transport errors both tag and leave targets null
    for bad in (4, 5):
        assert rows[bad].body is None
        assert "_httprequestfailure" in rows[bad].tags
    assert not rows[1].tags


def test_http_filter_snapshot_and_guards(spark):
    df = spark.createDataFrame([(1, "a")], "id int, k string")
    out = apply_stage(
        df, {"http": {"url": "http://x/%{k}",
                      "responses": {"http://x/a": "payload"}}})
    assert out.collect()[0].body == "payload"
    with pytest.raises(ValueError, match="non-idempotent"):
        apply_stage(df, {"http": {"url": "http://x", "verb": "POST",
                                  "responses": {}}}).collect()
    with pytest.raises(ValueError, match="no network"):
        apply_stage(df, {"http": {"url": "http://x"}}).collect()
    with pytest.raises(ValueError, match="distinct URLs"):
        apply_stage(df, {"http": {"url": "http://x/%{id}",
                                  "transport": _make_fake_transport(),
                                  "max_distinct_urls": 0}}).collect()


def test_http_filter_string_failure_tag(spark):
    """LSCL delivers tag_on_request_failure as a bare string — it must
    become ONE tag, not be exploded into per-character tags."""
    df = spark.createDataFrame([(1, "missing")], "id int, uid string")
    out = apply_stage(
        df, {"http": {"url": "http://api/users/%{uid}",
                      "transport": _make_fake_transport(),
                      "tag_on_request_failure": "_ti_fail"}})
    assert out.collect()[0].tags == ["_ti_fail"]


def test_http_filter_broadcast_plan(spark):
    df = spark.createDataFrame([(i, str(i % 2 + 1)) for i in range(100)],
                               "id int, uid string")
    out = apply_stage(
        df, {"http": {"url": "http://api/users/%{uid}",
                      "transport": _make_fake_transport()}})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # fact side never shuffles
    assert out.where(F.col("body").isNotNull()).count() == 100


# ---------------------------------------------------------------------------
# wurfl_device_detection (round-5 promotion: snapshot-based device lookup)
# ---------------------------------------------------------------------------

_WURFL_DEVICES = [
    {"device_id": "generic", "user_agent": None, "fall_back": None,
     "capabilities": {"is_mobile": "false", "brand_name": None,
                      "pointing_method": "mouse"}},
    {"device_id": "generic_mobile", "user_agent": "Mobile", "fall_back": "generic",
     "capabilities": {"is_mobile": "true", "pointing_method": "touchscreen"}},
    {"device_id": "acme_phone", "user_agent": "Mozilla/5.0 (AcmePhone",
     "fall_back": "generic_mobile",
     "capabilities": {"brand_name": "Acme", "model_name": "Phone X"}},
    {"device_id": "acme_phone_v2",
     "user_agent": "Mozilla/5.0 (AcmePhone; V2)", "fall_back": "acme_phone",
     "capabilities": {"model_name": "Phone X2"}},
]

_WURFL_CONF = {
    "source": "ua", "devices": _WURFL_DEVICES,
    "capabilities": ["is_mobile", "brand_name", "model_name",
                     "pointing_method"],
    "tag_on_miss": "_wurfl_miss",
}


def test_wurfl_longest_prefix_and_fallback_inheritance(spark):
    df = spark.createDataFrame(
        [(1, "Mozilla/5.0 (AcmePhone; V2) WebKit"),   # longest prefix: v2
         (2, "Mozilla/5.0 (AcmePhone; V1) WebKit"),   # shorter prefix: v1
         (3, "Mobile Safari/604.1"),                  # generic_mobile
         (4, "curl/8.0"),                             # miss
         (5, None)],
        "id int, ua string")
    out = {r.id: r for r in
           apply_stage(df, {"wurfl_device_detection": _WURFL_CONF}).collect()}
    assert out[1].wurfl.device_id == "acme_phone_v2"
    # own cap overrides, the rest inherited down the fall_back chain
    assert out[1].wurfl.model_name == "Phone X2"
    assert out[1].wurfl.brand_name == "Acme"
    assert out[1].wurfl.is_mobile == "true"
    assert out[1].wurfl.pointing_method == "touchscreen"
    assert out[2].wurfl.device_id == "acme_phone"
    assert out[2].wurfl.model_name == "Phone X"
    assert out[3].wurfl.device_id == "generic_mobile"
    assert out[3].wurfl.brand_name is None        # root declares null
    assert out[4].wurfl is None and "_wurfl_miss" in out[4].tags
    assert out[5].wurfl is None and "_wurfl_miss" in out[5].tags
    assert "_wurfl_miss" not in (out[1].tags or [])


def test_wurfl_exact_match_beats_shorter_prefix(spark):
    df = spark.createDataFrame([(1, "Mobile")], "id int, ua string")
    out = apply_stage(df, {"wurfl": _WURFL_CONF}).collect()[0]
    assert out.wurfl.device_id == "generic_mobile"


def test_wurfl_devices_df_and_validation(spark):
    dim = spark.createDataFrame(
        [(d["device_id"], d["user_agent"], d["fall_back"],
          d["capabilities"]) for d in _WURFL_DEVICES],
        "device_id string, user_agent string, fall_back string, "
        "capabilities map<string,string>")
    df = spark.createDataFrame([(1, "Mobile x")], "id int, ua string")
    conf = {k: v for k, v in _WURFL_CONF.items() if k != "devices"}
    out = apply_stage(
        df, {"wurfl_device_detection": {**conf, "devices_df": dim}}).collect()[0]
    assert out.wurfl.device_id == "generic_mobile"
    with pytest.raises(ValueError, match="capabilities"):
        apply_stage(df, {"wurfl": {"source": "ua",
                                   "devices": _WURFL_DEVICES}})
    with pytest.raises(ValueError, match="snapshot"):
        apply_stage(df, {"wurfl": {"source": "ua",
                                   "capabilities": ["is_mobile"]}})
    bad = [{"device_id": "a", "user_agent": "x", "fall_back": "b",
            "capabilities": {}},
           {"device_id": "b", "user_agent": "y", "fall_back": "a",
            "capabilities": {}}]
    with pytest.raises(ValueError, match="cycle"):
        apply_stage(df, {"wurfl": {"source": "ua", "devices": bad,
                                   "capabilities": ["is_mobile"]}})
    with pytest.raises(ValueError, match="unknown"):
        apply_stage(df, {"wurfl": {
            "source": "ua", "capabilities": ["is_mobile"],
            "devices": [{"device_id": "a", "user_agent": "x",
                         "fall_back": "ghost", "capabilities": {}}]}})


def test_wurfl_match_series_fuzz_vs_naive():
    """Property: the vectorized descending-length matcher equals the
    naive per-row longest-prefix scan on randomized pattern sets over a
    tiny alphabet (maximum prefix collision pressure)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import pandas as pd

    from logstash_spark.stages.enrich import wurfl_match_series

    word = st.text(alphabet="ab", min_size=1, max_size=8)

    @settings(max_examples=200, deadline=None)
    @given(
        pats=st.sets(word, min_size=1, max_size=12),
        uas=st.lists(st.one_of(st.none(),
                               st.text(alphabet="ab", max_size=12)),
                     min_size=1, max_size=20),
    )
    def check(pats, uas):
        p2i = {p: f"dev_{p}" for p in pats}
        lengths = sorted({len(p) for p in p2i}, reverse=True)
        got = wurfl_match_series(pd.Series(uas, dtype="object"),
                                 p2i, lengths)
        for ua, g in zip(uas, got.tolist()):
            if ua is None:
                assert g is None
                continue
            best = max((p for p in p2i if ua.startswith(p)),
                       key=len, default=None)
            assert g == (p2i[best] if best is not None else None), \
                (ua, sorted(pats), g, best)

    check()


def test_wurfl_devices_path_xml_reference_format(spark, tmp_path):
    """devices_path accepts the reference's own wurfl.xml layout
    (<device id user_agent fall_back><group><capability name value>);
    'root' fall_back marks the hierarchy root as in the real DB."""
    xml = """<?xml version="1.0"?>
<wurfl><version>test</version><devices>
  <device id="generic" user_agent="" fall_back="root">
    <group id="product_info">
      <capability name="is_mobile" value="false"/>
      <capability name="pointing_method" value="mouse"/>
    </group>
  </device>
  <device id="generic_mobile" user_agent="Mobile" fall_back="generic">
    <group id="product_info">
      <capability name="is_mobile" value="true"/>
    </group>
  </device>
</devices></wurfl>"""
    p = tmp_path / "wurfl.xml"
    p.write_text(xml)
    df = spark.createDataFrame([(1, "Mobile Safari"), (2, "curl/8")],
                               "id int, ua string")
    out = {r.id: r for r in apply_stage(df, {"wurfl": {
        "source": "ua", "devices_path": str(p),
        "capabilities": ["is_mobile", "pointing_method"]}}).collect()}
    assert out[1].wurfl.device_id == "generic_mobile"
    assert out[1].wurfl.is_mobile == "true"
    assert out[1].wurfl.pointing_method == "mouse"  # inherited
    assert out[2].wurfl is None  # generic has empty UA pattern -> no match
