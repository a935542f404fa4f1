import pytest
from pyspark.sql import functions as F

from logstash_spark.stages import apply_stage

APACHE = (
    '93.180.71.3 - frank [18/Jul/2026:08:25:11 +0000] '
    '"GET /alpha/beta.html HTTP/1.1" 200 3707 '
    '"http://referrer.example/" "Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0"'
)


def _grok(spark, lines, conf):
    """Run one grok stage over ``lines``; rows in input order, each with
    ``matched`` (no _grokparsefailure tag)."""
    df = spark.createDataFrame(list(enumerate(lines)), "rid int, message string")
    if not isinstance(conf, dict):
        conf = {"match": {"message": conf}}
    rows = apply_stage(df, {"grok": conf}).orderBy("rid").collect()
    return [dict(r.asDict(), matched="_grokparsefailure" not in r.tags) for r in rows]


def _plan_has_python(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_grok_unsupported_re_construct_message():
    """ADVICE r4: a regex construct Python's re cannot compile surfaces
    as a dialect-level ValueError, not a raw sre error."""
    from logstash_spark.grok import compile_grok

    with pytest.raises(ValueError, match="unsupported by this Python re"):
        compile_grok(r"(?<name>\p{L}+)", {})


def test_grok_zero_capture_pattern_is_match_test(spark):
    """A pure match-test pattern (no captures at all) must not crash
    the capture writer — grok.rb configs use it for tagging."""
    out = _grok(spark, ["1.2.3.4", "nope", None], "%{IPV4}")
    assert [r["matched"] for r in out] == [True, False, False]


def test_grok_int_conversion_truncates_floats(spark):
    """grok.rb :int is Ruby to_i — '1.5' → 1 (truncate), exact for
    integer strings; non-numeric → null (documented try_ deviation).
    One dirty row must never fail the batch."""
    def xs(lines):
        return [r["x"] for r in _grok(spark, lines, "%{NUMBER:x:int}")]

    assert xs(["1.5", "42", "-3.9"]) == [1, 42, -3]
    # exact at int64 edge (no float round-trip for integral strings)
    big = "9223372036854775807"
    assert xs([big]) == [9223372036854775807]
    # int64-max MIXED with a float in the same batch
    assert xs([big, "1.5"]) == [9223372036854775807, 1]
    # exact past 2**53 even when the batch has a float (no float hop)
    assert xs(["9007199254740993", "2.5"]) == [9007199254740993, 2]
    # out-of-int64-range → null, batch survives (Ruby bignum cannot
    # live in a long column — try_ discipline)
    assert xs(["99999999999999999999", "7", "-1.5"]) == [None, 7, -1]


def test_grok_all_optional_captures_still_match(spark):
    """A row that MATCHES a pattern whose captures are all optional-
    and-absent is a match (no _grokparsefailure), grok.rb parity."""
    out = _grok(spark, ["foo", "foo bar", "zzz"], r"foo(?: %{WORD:w})?")
    assert [r["matched"] for r in out] == [True, True, False]
    assert out[1]["w"] == "bar" and out[0]["w"] is None


def test_grok_inline_named_captures_registered(spark):
    """Inline named captures — Oniguruma (?<name>…) in user patterns
    and (?P<name>…) inside library patterns (RAILS family) — are output
    fields exactly like %{X:name} refs."""
    from logstash_spark.grok import compile_grok, lower_multi_capture

    cg = compile_grok(r"(?<queue_id>[0-9A-F]{10,11}):")
    assert "queue_id" in cg.fields
    out = _grok(spark, ["BEF25A72965: ok"], r"(?<queue_id>[0-9A-F]{10,11}):")
    assert out[0]["queue_id"] == "BEF25A72965"
    # the library RAILS controller pattern carries inline captures
    out = _grok(spark, ["Users#show"], "%{RCONTROLLER}")
    assert out[0]["controller"] == "Users" and out[0]["action"] == "show"
    # the Java lowering turns the translated named group into a plain one
    (java_pat, groups), = lower_multi_capture([compile_grok(r"id=(?<qid>\w+)")])[0]
    assert groups == {"qid": [1]} and "?P" not in java_pat
    # lookbehind is NOT a named group — must survive translation
    out = _grok(spark, ["-abc"], r"(?<=-)%{WORD:w}")
    assert out[0]["w"] == "abc"


def test_grok_int_uint64_range_goes_null_not_abort(spark):
    """An integer capture in [2**63, 2**64) does not fit a long: it is
    null and the rest of the batch keeps its values (review finding)."""
    out = _grok(spark, ["9223372036854775808", "42"], "%{NUMBER:x:int}")
    assert [r["x"] for r in out] == [None, 42]


def test_grok_one_pattern_and_a_list_agree_on_non_ascii(spark):
    """A single pattern and a pattern list run the same regex dialect:
    java.util.regex's ASCII \\w, so neither extracts 'jörg' as a WORD."""
    lines = ["user=jörg", "user=bob"]
    one = _grok(spark, lines, "user=%{WORD:u}")
    many = _grok(spark, lines, ["user=%{WORD:u}", "id=%{INT:n}"])
    assert [(r["u"], r["matched"]) for r in one] == [(None, False), ("bob", True)]
    assert [(r["u"], r["matched"]) for r in many] == [(r["u"], r["matched"]) for r in one]


def test_grok_extracts_each_capture_once(spark):
    """The raw captures are pinned before the fields are derived from
    them, so each of COMBINEDAPACHELOG's 12 groups is extracted once:
    all 12 by one regexp_replace pass, or, on a line that holds the
    pass's separator, by 12 regexp_extract."""
    df = spark.range(2).select(
        F.when(F.col("id") == 0, F.lit(APACHE))
        .otherwise(F.lit(APACHE.replace("Linux", "Li\x1fnux"))).alias("message"))
    out = apply_stage(df, {"grok": {"match": {"message": "%{COMBINEDAPACHELOG}"}}})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace(") == 1
    assert plan.count("regexp_extract(") == 12
    sep, one = out.orderBy("message").collect()  # "Li\x1f" sorts before "Lin"
    assert (one.clientip, one.verb, one.bytes, one.rawrequest) == ("93.180.71.3", "GET", "3707", None)
    assert sep.agent == '"Mozilla/5.0 (X11; Li\x1fnux x86_64) Firefox/121.0"'
    assert [sep[f] for f in out.columns if f not in ("message", "agent")] == \
        [one[f] for f in out.columns if f not in ("message", "agent")]


def test_grok_and_dissect_split_on_an_escaped_backslash(spark):
    """A literal backslash right before a capture (Windows DOMAIN\\user)
    keeps the capture a group in the Java spelling."""
    out = _grok(spark, ["CORP\\bob"], r"%{WORD:domain}\\%{USERNAME:user}")
    assert (out[0]["domain"], out[0]["user"]) == ("CORP", "bob")
    df = spark.createDataFrame([("CORP\\bob",)], "message string")
    r = apply_stage(df, {"dissect": {"mapping": {"message": "%{domain}\\%{user}"}}}).collect()[0]
    assert (r.domain, r.user) == ("CORP", "bob")


def test_grok_only_newline_ends_a_line(spark):
    """As in Python re and Ruby, only \\n ends a line: GREEDYDATA keeps a
    \\r, for one pattern and for a pattern list."""
    lines = ["a b\r", "a b\rc d\r\n"]
    for conf in ("%{WORD:w} %{GREEDYDATA:m}$", ["id=%{INT:n}", "%{WORD:w} %{GREEDYDATA:m}$"]):
        assert [r["m"] for r in _grok(spark, lines, conf)] == ["b\r", "b\rc d\r"]


@pytest.mark.parametrize("stage", [
    {"grok": {"match": {"message": ["id=%{INT:n:int}", "%{WORD:w}"]}}},
    {"grok": {"match": {"message": "%{WORD:w}"}, "target": "g"}},
    {"grok": {"match": {"message": "%{WORD:w}"}, "keep_empty_captures": True}},
    {"grok": {"match": {"message": "%{HTTPD_ERRORLOG}"}}},
    {"grok": {"match": {"message": "%{IPV4}"}}},
    {"dissect": {"mapping": {"message": "%{a} %{+a} %{b}"}}},
], ids=["list", "target", "keep_empty", "multi_group", "match_only", "dissect"])
def test_capture_plans_hold_no_python_udf(spark, stage):
    df = spark.createDataFrame([(1, "a b c"), (2, None)], "rid int, message string")
    assert not _plan_has_python(apply_stage(df, stage))


def test_grok_overwrite_as_a_bare_string_names_one_field(spark):
    """LSCL passes `overwrite => "message"` as a string: it names the
    one field `message`, so an existing `age` ("age" is a substring of
    "message") keeps its value."""
    df = spark.createDataFrame([("bob", "42")], "message string, age string")
    conf = {"match": {"message": "%{WORD:age}"}, "overwrite": "message"}
    assert apply_stage(df, {"grok": conf}).first().age == "42"


def test_grok_keep_empty_captures(spark):
    """keep_empty_captures keeps an empty capture as "". An optional
    group that did not take part reads "" too (regexp_extract cannot
    tell it from an empty capture; grok.rb gives nil)."""
    out = _grok(spark, ["k= v=1", "v=2"], {
        "match": {"message": r"(?:k=%{DATA:k} )?v=%{INT:v}"},
        "keep_empty_captures": True})
    assert [(r["k"], r["v"]) for r in out] == [("", "1"), ("", "2")]
    out = _grok(spark, ["k= v=1", "v=2"], r"(?:k=%{DATA:k} )?v=%{INT:v}")
    assert [(r["k"], r["v"]) for r in out] == [(None, "1"), (None, "2")]


def test_grok_multi_group_field_skips_empty_groups(spark):
    """A field fed by several groups joins the non-empty ones with one
    space; an empty group adds no separator."""
    df = spark.createDataFrame([(" y z",), ("x y z",)], "message string")
    out = apply_stage(df, {"dissect": {"mapping": {"message": "%{a} %{+a} %{b}"}}})
    assert [(r.a, r.b) for r in out.collect()] == [("y", "z"), ("x y", "z")]


def test_grok_accumulate_skips_empty_captures(spark):
    """break_on_match=false: a field takes the earliest non-empty value
    of the matching patterns (grok.rb's handle skips empty captures)."""
    out = _grok(spark, ["a=; a=7"], {
        "match": {"message": ["a=%{DATA:a};", "a=%{INT:a}$"]},
        "break_on_match": False})
    assert out[0]["a"] == "7"


@pytest.mark.parametrize("pattern, java_says", [
    ("a{b %{WORD:x}", "Illegal repetition"),
    ("(?P<q>a)(?P=q)", "Unknown inline modifier"),
])
def test_grok_rejects_non_java_patterns_at_plan_time(spark, pattern, java_says):
    df = spark.createDataFrame([("a",)], "message string")
    with pytest.raises(ValueError, match=java_says) as err:
        apply_stage(df, {"grok": {"match": {"message": ["%{WORD:w}", pattern]}}})
    assert repr(pattern) in str(err.value)

