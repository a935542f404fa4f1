"""Property-based round-trip tests (hypothesis) — SURVEY §5's addition
over the reference's example-based specs.

Each property builds an input from random structured data, runs it
through the REAL engine stage on Spark, and asserts the structured data
comes back. Spark calls are batched per example set via one DataFrame
to keep runtime sane.
"""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from logstash_spark.fieldref import parse_ref, sprintf_col  # noqa: F401
from logstash_spark.lscl import LsclError, to_pipeline_spec

# ---------------------------------------------------------------- lscl

# LSCL reserved words are not plugin names: `if { ... }` opens a branch
_LSCL_RESERVED = frozenset({"if", "else"})
_ident = st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=8).filter(
    lambda s: s not in _LSCL_RESERVED)
_safe_str = st.text(
    alphabet=string.ascii_letters + string.digits + " _-./:%{}",
    max_size=20,
)
_value = st.recursive(
    st.one_of(
        _safe_str,
        st.integers(min_value=-10**6, max_value=10**6),
        st.booleans(),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False).map(lambda x: round(x, 3)),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(_safe_str.filter(bool), children, max_size=3),
    ),
    max_leaves=6,
)


def _render_value(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, list):
        return "[" + ", ".join(_render_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{ " + " ".join(f"{_render_value(k)} => {_render_value(x)}"
                               for k, x in v.items()) + " }"
    raise TypeError(v)


@given(st.lists(
    st.tuples(_ident, st.dictionaries(_ident, _value, max_size=4)),
    min_size=1, max_size=4,
))
@settings(max_examples=150, deadline=None)
def test_lscl_roundtrip_filters(plugins):
    """Render random plugin specs to LSCL text → parse → same specs.

    Floats compare exactly: both sides hold python floats parsed from
    the same repr.
    """
    body = "\n".join(
        f"{name} {{ "
        + " ".join(f"{k} => {_render_value(v)}" for k, v in args.items())
        + " }"
        for name, args in plugins
    )
    spec = to_pipeline_spec("filter {\n" + body + "\n}")
    got = [(next(iter(set(f) - {"when"})), f[next(iter(set(f) - {"when"}))])
           for f in spec["filters"]]
    assert got == plugins


def test_lscl_if_without_condition_is_an_error():
    """`if` is reserved: a plugin-shaped `if { }` is a branch with an
    empty condition, which the parser rejects with its position."""
    with pytest.raises(LsclError, match="empty condition at line 1"):
        to_pipeline_spec("filter { if { } }")


# ------------------------------------------------------------ field refs

@given(st.lists(_ident, min_size=1, max_size=4))
def test_fieldref_roundtrip(parts):
    ref = "".join(f"[{p}]" for p in parts)
    assert parse_ref(ref) == parts
    assert parse_ref(parts[0]) == [parts[0]]


# ---------------------------------------------------- kv / dissect on Spark

_kv_key = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
_kv_val = st.text(alphabet=string.ascii_letters + string.digits + ".-_", min_size=1,
                  max_size=10)


@given(st.lists(
    st.dictionaries(_kv_key, _kv_val, min_size=1, max_size=5),
    min_size=1, max_size=5,
))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kv_roundtrip(spark, dicts):
    """dict → 'k=v k=v' line → KvStage → same dict."""
    from logstash_spark.stages.base import apply_stage

    rows = [(i, " ".join(f"{k}={v}" for k, v in d.items())) for i, d in enumerate(dicts)]
    df = spark.createDataFrame(rows, "id int, message string")
    out = apply_stage(df, {"kv": {"source": "message"}})
    got = {r["id"]: dict(r["attrs"]) for r in out.collect()}
    for i, d in enumerate(dicts):
        assert got[i] == d


_dissect_tok = st.text(alphabet=string.ascii_letters + string.digits, min_size=1,
                       max_size=8)


@given(st.lists(st.lists(_dissect_tok, min_size=2, max_size=5), min_size=1, max_size=5))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dissect_roundtrip(spark, rows_tokens):
    """tokens → 'a|b|c' → dissect '%{f0}|%{f1}|…' → same tokens."""
    from logstash_spark.stages.base import apply_stage

    width = len(rows_tokens[0])
    rows_tokens = [t[:width] + ["pad"] * (width - len(t)) for t in rows_tokens]
    rows = [(i, "|".join(t)) for i, t in enumerate(rows_tokens)]
    df = spark.createDataFrame(rows, "id int, message string")
    spec = "|".join(f"%{{f{j}}}" for j in range(width))
    out = apply_stage(df, {"dissect": {"mapping": {"message": spec}}})
    for r in out.collect():
        toks = rows_tokens[r["id"]]
        for j in range(width):
            assert r[f"f{j}"] == toks[j]


# ------------------------------------------------------------- conditions

@given(st.integers(min_value=-100, max_value=100),
       st.integers(min_value=-100, max_value=100))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_condition_compare_matches_python(spark, a, b):
    from logstash_spark.conditions import compile_condition

    df = spark.createDataFrame([(a,)], "x long")
    for op, py in (("==", a == b), ("!=", a != b), ("<", a < b),
                   (">", a > b), ("<=", a <= b), (">=", a >= b)):
        got = df.select(compile_condition(f"[x] {op} {b}", df).alias("r")).collect()[0]["r"]
        assert bool(got) == py, (op, a, b)


# ------------------------------------------------------------- truncate

@given(st.lists(
    st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=12),
    min_size=1, max_size=6,
), st.integers(min_value=1, max_value=16))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_truncate_utf8_prefix_property(spark, texts, n):
    """For arbitrary unicode: the truncated value is the LONGEST valid
    UTF-8 prefix of <= n bytes ending on a char boundary (or the whole
    string when it fits) — never a decode error, any session config."""
    from logstash_spark.stages.base import apply_stage

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id int, message string")
    out = {r["id"]: r["message"] for r in
           apply_stage(df, {"truncate": {"length_bytes": n}}).collect()}
    for i, t in rows:
        b = t.encode("utf-8")
        if len(b) <= n:
            expected = t
        else:
            cut = n
            while cut > 0 and (b[cut] & 0xC0) == 0x80:
                cut -= 1
            expected = b[:cut].decode("utf-8")
        assert out[i] == expected, (t, n, out[i], expected)


_opt_str = st.one_of(st.none(), st.text(
    alphabet=string.ascii_lowercase, min_size=0, max_size=4))
_opt_map = st.one_of(st.none(), st.dictionaries(
    st.sampled_from(["k1", "k2", "k3"]), _opt_str, max_size=3))
_opt_arr = st.one_of(st.none(), st.lists(_opt_str, max_size=3))


@given(st.lists(
    st.tuples(_opt_map, _opt_map, _opt_arr, _opt_arr, _opt_str, _opt_str,
              st.one_of(st.none(), st.tuples(_opt_str, _opt_str)),
              st.one_of(st.none(), st.tuples(_opt_str, _opt_str))),
    min_size=1, max_size=12,
))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_differential_vs_ruby_model(spark, rows):
    """mutate merge vs a pure-Python model of mutate.rb's semantics
    (Hash-XOR guard / Hash#update src-wins / Array() wrapping with
    Array(nil)=[]), per row, across the three same-category type pairs
    plus the struct-union case. The documented typed-schema deviation
    (per-row-null hash values stay null) is encoded in the model."""
    from pyspark.sql.types import Row

    from logstash_spark.stages.base import apply_stage

    data = [(i, dm, sm, da, sa, dsc, ssc,
             None if dpair is None else Row(a=dpair[0], b=dpair[1]),
             None if spair is None else Row(b=spair[0], c=spair[1]))
            for i, (dm, sm, da, sa, dsc, ssc, dpair, spair)
            in enumerate(rows)]
    df = spark.createDataFrame(
        data,
        "id int, dm map<string,string>, sm map<string,string>, "
        "da array<string>, sa array<string>, dsc string, ssc string, "
        "dst struct<a:string,b:string>, sst struct<b:string,c:string>")
    out = {r["id"]: r for r in apply_stage(df, {"mutate": {"merge": {
        "dm": "sm", "da": "sa", "dsc": "ssc", "dst": "sst"}}}).collect()}
    for i, dm, sm, da, sa, dsc, ssc, dst, sst in data:
        r = out[i]
        # map (+) map: Hash#update src-wins; nil src -> XOR -> unchanged
        exp_m = dm if sm is None else (
            None if dm is None else {**dm, **sm})
        assert r["dm"] == exp_m, (i, dm, sm, r["dm"])
        # array (+) array: Array(nil)=[] wrapping
        assert r["da"] == (da or []) + (sa or []), (i, da, sa)
        # scalar (+) scalar: two-element array modulo nil wrapping
        exp_s = ([dsc] if dsc is not None else []) + (
            [ssc] if ssc is not None else [])
        assert r["dsc"] == exp_s, (i, dsc, ssc)
        # struct (+) struct: field union, src wins on b; nil src keeps
        # dest values in union shape; nil dest stays null
        if dst is None:
            assert r["dst"] is None
        elif sst is None:
            assert r["dst"].asDict() == {
                "a": dst.a, "b": dst.b, "c": None}
        else:
            assert r["dst"].asDict() == {
                "a": dst.a, "b": sst.b, "c": sst.c}
