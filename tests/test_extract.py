"""Byte-identity contract: vectorized extraction == row-wise oracle.

Mirrors the reference's codec specs (logstash-codec-plain /
logstash-codec-json spec style: payload in → asserted fields out) and
enforces BASELINE.json.input_hint's per-row invariant.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from logstash_spark.datagen import gen_pages
from logstash_spark.extract import _collapse_ws, extract_text, extract_text_udf


def test_extract_semantics():
    html = (
        b"<!DOCTYPE html><html><head><title>T &amp; U</title>"
        b"<style>p{color:red}</style></head><body>"
        b"<!-- c --><p>hello <b>world</b></p><script>bad()</script>"
        b"<div>a  b\tc</div></body></html>"
    )
    assert extract_text(html) == "T & U\nhello world\na b c"


def test_extract_entities_and_unicode():
    assert extract_text(b"<p>&lt;tag&gt; &#x27;q&#x27; \xe6\x95\xb0\xe6\x8d\xae</p>") == "<tag> 'q' 数据"
    assert extract_text(None) is None
    assert extract_text(b"") == ""


def test_vectorized_matches_oracle_bytewise(spark):
    pages = gen_pages(spark, 200).cache()
    out = pages.withColumn("engine_text", extract_text_udf()(pages["html"]))
    rows = out.select("url", "html", "engine_text", "text").collect()
    assert len(rows) == 200
    mismatches = []
    for r in rows:
        oracle = extract_text(r["html"])
        if r["engine_text"] != oracle or r["engine_text"] != r["text"]:
            mismatches.append(r["url"])
        # byte-level check, not just str equality
        assert r["engine_text"].encode("utf-8") == oracle.encode("utf-8")
    assert not mismatches


def test_generation_is_deterministic(spark):
    a = gen_pages(spark, 50, partitions=2).orderBy("url").collect()
    b = gen_pages(spark, 50, partitions=7).orderBy("url").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def _collapse_ws_fixpoint(s: str) -> str:
    """The previous collapse, kept as the reference: translate the rare
    whitespace to spaces, then halve every run of spaces until none of
    two is left."""
    s = s.translate(str.maketrans({"\t": " ", "\r": " ", "\f": " ", "\v": " "}))
    while "  " in s:
        s = s.replace("  ", " ")
    return s


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(
    [" ", " ", " ", "\t", "\r", "\f", "\v", "\n", "\u00a0", "\u3000",
     "a", "数", "据", "\U0001f600"]), max_size=60))
def test_collapse_ws_matches_the_fixpoint_loop(s):
    assert _collapse_ws(s).encode("utf-8") == _collapse_ws_fixpoint(s).encode("utf-8")
