"""The one gated write (``stages.base.gated_merge``) behind both an LSCL
``if`` around a stage and a stage's success-gated common options:
a nested gate by hand, and a differential property of each lowering
against its naive filter → write → union form."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from logstash_spark.conditions import compile_condition
from logstash_spark.pipeline import Pipeline
from logstash_spark.stages.base import build_stage, ensure_tags

WHEN = "[lang] == 'en'"
GROK = {"match": {"message": "dur=%{INT:dur}"}}


def test_nested_gate_when_wrapped_grok_common_options(spark):
    """A when-wrapped grok with add_tag/add_field runs the grok's success
    gate inside the ``when`` gate: each gate keeps its own pin and
    backups, so the inner one cannot drop the outer one's columns."""
    df = spark.createDataFrame(
        [(1, "en", "dur=5", ("s1",)), (2, "en", "nope", ("s2",)),
         (3, "de", "dur=7", ("s3",))],
        "id int, lang string, message string, meta struct<src:string>")
    out = Pipeline({"id": "t", "filters": [{"when": WHEN, "grok": {
        **GROK, "add_tag": ["hit_%{lang}"],
        "add_field": {"[meta][hit]": "d%{dur}"}}}]}).compile(df)
    assert not [c for c in out.columns if c.startswith(("__gate", "__orig"))]
    rows = {r["id"]: r.asDict(recursive=True) for r in out.collect()}
    assert rows[1]["tags"] == ["hit_en"]
    assert rows[1]["meta"] == {"src": "s1", "hit": "d5"}
    assert rows[1]["dur"] == "5"
    assert rows[2]["tags"] == ["_grokparsefailure"]     # when true, no match
    assert rows[2]["meta"] == {"src": "s2", "hit": None}
    assert rows[3]["tags"] == []                        # when false: untouched
    assert rows[3]["meta"] == {"src": "s3", "hit": None}
    assert rows[3]["dur"] is None


def test_gated_scalar_retype_keeps_the_written_type(spark):
    """A gated write that retypes a scalar column keeps the type it
    wrote, and the rows it leaves alone are cast to it: a string written
    over a number makes a string column (the cast loses nothing), a
    number written over a string keeps the number and try_casts the
    kept side (dirty → null). CASE coercion picked the number in both
    cases and, under ANSI, failed the run on the first non-numeric
    string."""
    df = spark.createDataFrame(
        [(1, "en", "dur=5", 200, "12"), (2, "de", "nope", 404, "abc"),
         (3, "de", "nope", 500, "9")],
        "id int, lang string, message string, status int, code string")

    def run(*filters):
        out = Pipeline({"id": "t", "filters": list(filters)}).compile(df)
        return {r["id"]: r.asDict() for r in out.collect()}, out

    rows, out = run({"when": WHEN, "mutate": {"add_field": {"status": "ok"}}})
    assert dict(out.dtypes)["status"] == "string"
    assert (rows[1]["status"], rows[2]["status"]) == ("ok", "404")

    rows, _ = run({"grok": {**GROK, "add_field": {"status": "ok"}}})
    assert (rows[1]["status"], rows[2]["status"]) == ("ok", "404")

    convert = {"when": WHEN, "mutate": {"convert": {"code": "integer"}}}
    rows, out = run(convert)
    assert dict(out.dtypes)["code"] == "bigint"
    assert [rows[i]["code"] for i in (1, 2, 3)] == [12, None, 9]

    # a later range compares the converted field by value, not length
    rows, _ = run(convert, {"range": {
        "ranges": [["code", 10, 100]], "add_tag": ["big"]}})
    assert [rows[i]["tags"] for i in (1, 2, 3)] == [["big"], [], []]


def test_gate_backs_up_only_touched_columns(spark):
    """Columns a gated stage passes through are not merged, so no backup
    of them survives optimization, even below a join or a Python UDF."""
    df = spark.createDataFrame(
        [(1, "en", "id=1 k=a", "x"), (2, "de", "id=2 k=b", "y")],
        "id int, lang string, message string, pad string")
    dim = spark.createDataFrame([("en", "english")], "k string, v string")
    for spec in (
        {"translate": {"source": "lang", "target": "lname",
                       "dictionary_df": dim}},
        {"grok": {"match": {"message": ["id=%{INT:gid} k=%{WORD:kk}",
                                        "foo %{WORD:w}"]}}},
        {"mutate": {"uppercase": ["message"]}},
    ):
        out = Pipeline({"id": "t", "filters": [{"when": WHEN, **spec}]}
                       ).compile(df)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "__orig" not in plan, spec
        rows = {r["id"]: r for r in out.collect()}
        assert rows[2]["pad"] == "y" and rows[2]["message"] == "id=2 k=b"


# ---------------------------------------------------------------- property
# Scalar leaves are strings: the naive union widens a string-vs-number
# pair to the number and fails at run time under ANSI, while the gate
# keeps the written type (test_gated_scalar_retype_keeps_the_written_type).
_leaf = st.sampled_from(["string", "string", "array<string>"])
_level2 = st.one_of(_leaf, st.dictionaries(
    st.sampled_from("xyz"), _leaf, min_size=1, max_size=2))
_level1 = st.one_of(_leaf, st.dictionaries(
    st.sampled_from("xyz"), _level2, min_size=1, max_size=3))
_schema = st.dictionaries(st.sampled_from("abc"), _level1, min_size=1, max_size=3)


def _ddl(t) -> str:
    if isinstance(t, str):
        return t
    return "struct<" + ",".join(f"{k}:{_ddl(v)}" for k, v in t.items()) + ">"


def _value(t, i: int, path: list[str]):
    if isinstance(t, dict):
        if i == 5 and len(path) == 1:
            return None  # one row with null top structs
        return tuple(_value(v, i, path + [k]) for k, v in t.items())
    if (i + len(path)) % 4 == 3:
        return None
    return f"{''.join(path)}{i}" if t == "string" else [f"e{i}", "f"]


def _paths(t, prefix: list[str]):
    for k, v in t.items():
        yield prefix + [k]
        if isinstance(v, dict):
            yield from _paths(v, prefix + [k])


@st.composite
def _case(draw):
    """A random nested schema and a random common-option set over its
    existing, new (under a struct or through a non-struct) and missing
    field refs."""
    schema = draw(_schema)
    paths = list(_paths(schema, []))
    refs = paths + [p + ["new"] for p in paths] + [["n"], ["zz", "q"]]
    refs = ["".join(f"[{s}]" for s in p) for p in refs]
    pick = st.lists(st.sampled_from(refs), max_size=2, unique=True)
    opts = {
        "add_field": {r: draw(st.sampled_from(["k", "%{lang}"]))
                      for r in draw(pick)},
        "remove_field": draw(pick),
        "add_tag": draw(st.lists(st.sampled_from(["t1", "t2"]),
                                 max_size=2, unique=True)),
        "remove_tag": draw(st.lists(
            st.sampled_from(["t1", "_grokparsefailure"]), max_size=1)),
    }
    return schema, opts, draw(st.sampled_from(["grok", "mutate"]))


def _frame(spark, schema: dict):
    # rows cover when true/false × grok match/no match
    rows = [(i, "de" if i % 3 == 2 else "en",
             f"dur={i}" if i % 2 == 0 else "nope",
             *[_value(t, i, [k]) for k, t in schema.items()])
            for i in range(6)]
    ddl = ", ".join(["id int", "lang string", "message string"]
                    + [f"{k} {_ddl(t)}" for k, t in schema.items()])
    return ensure_tags(spark.createDataFrame(rows, ddl))


def _rows(df) -> list[str]:
    """Rows compared by field name: column and struct-field order are
    layout, not content."""
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True)
                  for r in df.collect())


def _assert_same(gated, naive) -> None:
    """``gated``/``naive`` build a DataFrame. Where the naive form cannot
    be analysed (a typed union of two shapes), the gate must refuse
    with ValueError at plan time; otherwise both give the same rows."""
    try:
        expect = _rows(naive())
    except (AnalysisException, ValueError):
        with pytest.raises(ValueError):
            gated()
        return
    got = gated()
    assert not [c for c in got.columns if c.startswith(("__gate", "__orig"))]
    assert _rows(got) == expect


def test_when_wrapped_geoip_equals_branch_lowering(spark):
    """A join stage under the gate: the when-wrapped geoip, with an
    add_tag and over an existing target, gives the rows of filter →
    stage → union. Every event leaves as one row, so the stage is
    row-local."""
    from logstash_spark.session import local_frame

    ranges = local_frame(
        spark, [(0, 2**31 - 1, "A", "a", 1.0, 2.0), (2**31, 2**31 + 9, "B", "b", 3.0, 4.0)],
        "ip_start_int long, ip_end_int long, country string, city string, "
        "lat double, lon double")
    geo = "struct<country:string,city:string,lat:double,lon:double>"
    old = ("Z", "z", 0.0, 0.0)
    df = ensure_tags(spark.createDataFrame(
        [(1, "en", "1.2.3.4", old), (2, "de", "1.2.3.4", old),
         (3, "en", "200.1.1.1", None), (4, "en", None, old),
         (5, "de", "bad", None), (6, "en", "128.0.0.9", old)],
        f"id int, lang string, ip string, geo {geo}"))
    spec = {"geoip": {"source": "ip", "ranges_df": ranges, "add_tag": ["geo_ok"]}}
    cond = compile_condition(WHEN, df)

    def naive():
        return build_stage(spec).apply(df.filter(cond)).unionByName(
            df.filter(~F.coalesce(cond, F.lit(False))),
            allowMissingColumns=True)

    gated = Pipeline({"filters": [{"when": WHEN, **spec}]})
    assert gated.stages[0][1].row_local
    _assert_same(lambda: gated.compile(df), naive)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_case())
def test_gated_merge_equals_branch_lowering(spark, case):
    schema, opts, plugin = case
    df = _frame(spark, schema)

    # success-gated common options vs the matched/unmatched union
    grok = build_stage({"grok": {**GROK, **opts}})

    def oracle():
        out, m = grok.transform(df)
        m = F.coalesce(m, F.lit(False))
        return grok._common_options(out.filter(m)).unionByName(
            out.filter(~m), allowMissingColumns=True).drop("__matched")

    _assert_same(lambda: grok.apply(df), oracle)

    # `if [lang] == 'en' { <plugin> }` vs filter → stage → union
    spec = {plugin: {**GROK, **opts} if plugin == "grok" else dict(opts)}
    cond = compile_condition(WHEN, df)

    def naive():
        return build_stage(spec).apply(df.filter(cond)).unionByName(
            df.filter(~F.coalesce(cond, F.lit(False))),
            allowMissingColumns=True)

    _assert_same(
        lambda: Pipeline({"filters": [{"when": WHEN, **spec}]}).compile(df),
        naive)
