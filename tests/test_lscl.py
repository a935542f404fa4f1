"""LSCL (logstash.conf) parser + CLI end-to-end tests.

Configs mirror the shapes asserted by the reference's
logstash-core/spec/logstash/java_pipeline_spec.rb /
CompiledPipelineTest.java: generator input + conditional filters +
branched outputs.
"""

from __future__ import annotations

import json
import subprocess
import sys

from logstash_spark.lscl import to_pipeline_spec

CONF = r"""
# apache-style pipeline
input {
  generator { count => 10 message => "hello" }
}
filter {
  mutate { add_field => { "greeting" => "hi %{message}" } }
  if [sequence] > 5 {
    mutate { add_tag => ["big"] }
  } else if [sequence] > 2 {
    mutate { add_tag => ["mid"] }
  } else {
    mutate { add_tag => ["small"] }
  }
  grok { match => { "message" => "%{WORD:word}" } }
}
output {
  if "big" in [tags] {
    elasticsearch { index => "big_events" }
  } else {
    file { path => "/rest" }
  }
  dead_letter_queue { }
}
"""


def test_parse_sections():
    spec = to_pipeline_spec(CONF)
    assert spec["inputs"] == [
        {"plugin": "generator", "args": {"count": 10, "message": "hello"}}
    ]
    names = [next(iter(set(f) - {"when"})) for f in spec["filters"]]
    assert names == ["mutate", "mutate", "mutate", "mutate", "grok"]
    assert spec["filters"][0].get("when") is None
    assert spec["filters"][1]["when"] == "[sequence] > 5"
    assert spec["filters"][2]["when"] == "!([sequence] > 5) and ([sequence] > 2)"
    assert spec["filters"][3]["when"] == "!([sequence] > 5) and !([sequence] > 2)"
    assert spec["filters"][4].get("when") is None
    sinks = {o["name"]: o for o in spec["outputs"]}
    assert sinks["big_events"]["when"] == '"big" in [tags]'
    assert sinks["rest"]["when"] == '!("big" in [tags])'
    assert sinks["dead_letter"]["dlq"] is True


def test_value_types():
    spec = to_pipeline_spec(
        'filter { kv { field_split => "&" include_keys => ["a", "b"] '
        "trim_key => \"'\" recursive => false n => 3 x => 1.5 } }"
    )
    args = spec["filters"][0]["kv"]
    assert args["include_keys"] == ["a", "b"]
    assert args["recursive"] is False
    assert args["n"] == 3 and args["x"] == 1.5


def test_nested_if_conjunction():
    spec = to_pipeline_spec(
        "filter { if [a] > 1 { if [b] > 2 { mutate { add_tag => [\"x\"] } } } }"
    )
    assert spec["filters"][0]["when"] == "([a] > 1) and ([b] > 2)"


def test_cli_end_to_end(tmp_path):
    conf = tmp_path / "pipe.conf"
    conf.write_text(CONF)
    run_dir = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, "-m", "logstash_spark", "-f", str(conf),
         "--run-dir", str(run_dir), "--buckets", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["events"]["in"] == 10
    outs = {o["id"]: o["events"]["out"]
            for o in metrics["pipelines"]["main"]["plugins"]["outputs"]}
    # sequence 0..9 → big: 6..9 (4 rows), rest: 0..5 (6 rows)
    assert outs["big_events"] == 4
    assert outs["rest"] == 6
    assert (run_dir / "metrics.json").exists()


def test_conditional_stage_single_subtree_execution(spark):
    """Round-1 finding: `if cond { filter }` used to lower to
    filter(cond) → stage → union filter(~cond), running the upstream —
    including every pandas-UDF hop — TWICE. The when/otherwise merge
    lowering must run the upstream exactly once per row."""
    from pyspark.sql import functions as F

    from logstash_spark.pipeline import Pipeline

    acc = spark.sparkContext.accumulator(0)

    def count_rows(s):
        acc.add(len(s))
        return s.str.upper()

    n = 500
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"m{i}") for i in range(n)],
        "id int, lang string, message string",
    )
    spec = {
        "id": "cond_exec",
        "filters": [
            # upstream pandas-UDF stage (the expensive subtree)
            {"ruby": {"code": count_rows, "source": "message", "target": "upper"}},
            # conditional row-preserving stage → when/otherwise merge
            {"when": "[lang] == 'en'", "mutate": {"replace": {"upper": "EN-ONLY"}}},
            {"when": "[lang] == 'en'",
             "grok": {"match": {"message": "m%{INT:mid}"}}},
        ],
        "outputs": [],
    }
    out = Pipeline(spec).compile(df)
    rows = {r.id: r for r in out.collect()}
    # semantics: merge respects the condition
    assert rows[1].upper == "EN-ONLY" and rows[2].upper == "M2"
    assert rows[1].mid == "1" and rows[2].mid is None
    assert len(rows) == n
    # the UDF saw each row exactly once (2x would mean double execution)
    assert acc.value == n, acc.value


def test_conditional_exploding_stage_fallback(spark):
    """Cardinality-changing stages under a conditional keep branch
    lowering (persist + filter/union) — semantics over speed."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "de", "c d")], "id int, lang string, message string"
    )
    spec = {
        "id": "cond_split",
        "filters": [
            {"when": "[lang] == 'en'",
             "split": {"field": "message", "terminator": " ", "target": "word"}},
        ],
        "outputs": [],
    }
    pipe = Pipeline(spec)
    out = pipe.compile(df)
    rows = sorted((r.id, r.word) for r in out.collect())
    pipe.release_branch_caches()
    assert rows == [(1, "a"), (1, "b"), (2, None)]


def test_csv_sink_flattens_complex_columns(spark, tmp_path):
    """An LSCL `csv { }` output must not die on the tags array / enrich
    structs Spark's CSV writer rejects — complex columns auto-flatten
    (string arrays join, others to_json)."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "id=7 k=v"), (2, "garbage")], "id int, message string"
    )
    spec = {
        "id": "csv_sink",
        "filters": [
            {"grok": {"match": {"message": "id=%{INT:gid}"}}},
            {"kv": {"source": "message"}},
        ],
        "outputs": [{"name": "out_csv", "format": "csv"}],
    }
    run_dir = str(tmp_path / "run")
    metrics = Pipeline(spec).run(df, run_dir, bucket_on="id", n_buckets=2)
    assert metrics.sinks["out_csv"] == 2
    lines = spark.read.csv(f"{run_dir}/out_csv").collect()
    assert len(lines) == 2  # readable CSV, no AnalysisException


def test_conditional_merge_equals_branch_semantics(spark):
    """Differential check over every merge-lowered stage family: the
    when/otherwise column-merge lowering must produce EXACTLY the rows
    the naive filter(cond) -> stage -> union filter(~cond) lowering
    produces (order-insensitive). Catches a row-local stage whose write
    reaches unmatched rows, including renames, dropped sources and a
    column literally named ``a.b``."""
    from pyspark.sql import functions as F

    from logstash_spark.conditions import compile_condition
    from logstash_spark.stages.base import build_stage, gated_merge

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de",
          f"id={i} k=v{i}", f'{{"k": {i}}}', f"t{i},{i}", float(i),
          f"<p>hi {i}</p>".encode(), f"d{i}")
         for i in range(40)],
        "id int, lang string, message string, jsonmsg string, csvmsg string, "
        "val double, html binary, `a.b` string",
    )
    when = "[lang] == 'en'"
    specs = [
        {"grok": {"match": {"message": "id=%{INT:gid}"}}},
        {"dissect": {"mapping": {"message": "id=%{did} %{rest}"}}},
        {"kv": {"source": "message"}},
        {"json": {"source": "jsonmsg", "schema": "k int", "target": "jp"}},
        {"csv": {"source": "csvmsg", "columns": ["ca", "cb"]}},
        {"xml": {"source": "message", "schema": "t string", "target": "x"}},
        {"date": {"match": ["message", "yyyy-MM-dd"], "target": "dts"}},
        {"mutate": {"replace": {"message": "redacted"}, "convert": {"val": "integer"}}},
        {"translate": {"source": "lang", "target": "lname",
                       "dictionary": {"en": "english"}, "fallback": "?"}},
        {"fingerprint": {"source": "message", "method": "SHA256"}},
        {"urldecode": {"field": "message"}},
        {"truncate": {"length_bytes": 5, "fields": ["message"]}},
        {"uuid": {"deterministic_from": "id"}},
        {"extractnumbers": {"source": "message"}},
        {"tld": {"source": "message", "suffixes": ["com"]}},
        {"mutate": {"add_field": {"note": "%{lang}!"}, "add_tag": ["seen"]}},
        {"mutate": {"remove_field": ["csvmsg"]}},
        {"urldecode": {"field": "message", "remove_field": ["jsonmsg"]}},
        {"mutate": {"rename": {"message": "msg", "a.b": "ab"}}},
        {"mutate": {"replace": {"a.b": "%{lang}"}}},
        {"extract_text": {"source": "html", "drop_source": True}},
    ]
    for spec in specs:
        stage = build_stage(spec)
        cond = compile_condition(when, df)
        assert stage.row_local, spec
        merged = gated_merge(df, cond, stage.apply, stage.id)
        branch_stage = build_stage(spec)
        naive = branch_stage.apply(df.filter(cond)).unionByName(
            df.filter(~F.coalesce(cond, F.lit(False))), allowMissingColumns=True
        )
        m_rows = sorted(map(str, merged.select(
            *[F.col(f"`{c}`") for c in sorted(merged.columns)]).collect()))
        n_rows = sorted(map(str, naive.select(
            *[F.col(f"`{c}`") for c in sorted(naive.columns)]).collect()))
        assert m_rows == n_rows, f"divergence for {spec}"


def test_row_local_stages_skip_the_branch_persist(spark):
    """`if … { mutate { rename } }` is row-local: it lowers through the
    gate with no persist of the upstream; `if … { split }` changes the
    row set and still takes the persisted branch lowering."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "de", "c d")], "id int, lang string, message string"
    )
    pipe = Pipeline({"id": "t", "filters": [
        {"when": "[lang] == 'en'", "mutate": {"rename": {"message": "msg"}}}]})
    rows = {r.id: r for r in pipe.compile(df).collect()}
    assert pipe._branch_caches == []
    assert (rows[1].msg, rows[1].message) == ("a b", None)
    assert (rows[2].msg, rows[2].message) == (None, "c d")

    pipe = Pipeline({"id": "t", "filters": [
        {"when": "[lang] == 'en'", "split": {"field": "message", "terminator": " "}}]})
    pipe.compile(df)
    assert len(pipe._branch_caches) == 1
    pipe.release_branch_caches()


def test_conditional_remove_field_merge(spark):
    """`if [cond] { mutate { remove_field => [...] } }` — the stage drops
    the column outright for a matched=None transform; the merge lowering
    must rebuild it (null where matched, original elsewhere), not crash
    with UNRESOLVED_COLUMN."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", "hello"), (2, "de", "hallo")],
        "id int, lang string, message string",
    )
    pipe = Pipeline({
        "id": "t",
        "filters": [
            {"when": "[lang] == 'en'",
             "mutate": {"remove_field": ["message"], "add_tag": ["redacted"]}},
        ],
    })
    rows = {r.id: r for r in pipe.compile(df).collect()}
    pipe.release_branch_caches()
    assert rows[1].message is None and "redacted" in rows[1].tags
    assert rows[2].message == "hallo" and "redacted" not in (rows[2].tags or [])


def test_iceberg_output_lowering():
    spec = to_pipeline_spec(
        """
        input { iceberg { table => "lake.web.pages" } }
        output {
          if [lang] == "en" { iceberg { table => "lake.web.pages_en" } }
        }
        """
    )
    assert spec["inputs"][0]["plugin"] == "iceberg"
    assert spec["inputs"][0]["args"]["table"] == "lake.web.pages"
    (sink,) = spec["outputs"]
    assert sink["table"] == "lake.web.pages_en"
    assert sink["format"] == "iceberg"
    assert sink["name"] == "lake_web_pages_en"
    assert sink["when"] == '[lang] == "en"'


def test_ship_package_skips_under_spark_submit(monkeypatch, spark):
    """Launched via spark-submit --py-files (scripts/submit_cluster.sh),
    the package is already on the workers; re-adding a same-named,
    byte-different zip used to abort the session with addFile
    'exists and does not match' (round-5 submit smoke)."""
    from logstash_spark import session as sess

    calls = []
    monkeypatch.setattr(
        spark.sparkContext, "addPyFile", lambda p: calls.append(p))
    real_get = spark.conf.get
    monkeypatch.setattr(
        spark.conf, "get",
        lambda k, d=None: ("/tmp/x/logstash_spark_pkg.zip"
                           if k == "spark.submit.pyFiles"
                           else real_get(k, d)))
    sess._ship_package(spark)
    assert calls == []  # already shipped by --py-files


def test_ship_package_name_is_content_derived(monkeypatch, spark):
    """Self-shipped zips carry a content digest in the name, so two
    differently-built archives can never collide on the worker."""
    import re as _re

    from logstash_spark import session as sess

    calls = []
    monkeypatch.setattr(
        spark.sparkContext, "addPyFile", lambda p: calls.append(p))
    sess._ship_package(spark)
    sess._ship_package(spark)  # idempotent: same digest, same path
    assert len(calls) == 2 and calls[0] == calls[1]
    assert _re.search(r"logstash_spark_pkg_[0-9a-f]{16}\.zip$", calls[0])
