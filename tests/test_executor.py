"""Batch and stream share one micro-batch executor (``Pipeline._run_batch``)
and one per-batch serializer (``PipelineMetrics.to_manifest``)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from logstash_spark.metrics import PipelineMetrics
from logstash_spark.pipeline import Pipeline
from logstash_spark.streaming import run_streaming, stream_from_directory

SCHEMA = "url string, lang string, message string"

SPEC = {
    "id": "shared",
    "filters": [
        {"when": "[lang] == 'en'", "mutate": {"uppercase": ["lang"]}},
        {"grok": {"match": {"message": "%{WORD:verb} %{INT:code}"}}},
    ],
    "outputs": [
        {"name": "sink_en", "when": "[lang] == 'EN'"},
        {"name": "sink_rest", "when": "[lang] != 'EN'"},
        {"name": "dead_letter", "dlq": True},
    ],
}


def _rows(spark, n=120):
    return spark.range(n).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url"),
        F.when(F.pmod("id", F.lit(3)) == 0, "en").otherwise("de").alias("lang"),
        # every fifth message does not match the grok pattern
        F.when(F.pmod("id", F.lit(5)) == 0, F.lit("garbage"))
        .otherwise(F.concat(F.lit("GET "), F.col("id").cast("string")))
        .alias("message"),
    )


def test_batch_and_stream_write_the_same_record(spark, tmp_path):
    from perfbench import layers
    from perfbench.trace import Tracer

    rows = _rows(spark)
    src_dir = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src_dir)

    tracer = Tracer()
    layers.install(tracer)
    tracer.enabled = True
    try:
        batch_dir = str(tmp_path / "batch")
        total = Pipeline(SPEC).run(spark.read.parquet(src_dir), batch_dir,
                                   n_buckets=8, n_batches=1)
        batch_census = sum(sp.name == "pipeline.census" for sp in tracer.spans)

        stream_dir = str(tmp_path / "stream")
        stream = stream_from_directory(spark, src_dir, SCHEMA)
        run_streaming(Pipeline(SPEC), stream, stream_dir, n_buckets=8,
                      timeout_sec=300)
        stream_census = sum(
            sp.name == "pipeline.census" for sp in tracer.spans) - batch_census
    finally:
        tracer.uninstall()
    # the census span is recorded once per micro-batch in both modes
    assert batch_census == 1 and stream_census == 1

    with open(f"{batch_dir}/_checkpoints/batch-00000.json") as f:
        entry = json.load(f)
    with open(f"{stream_dir}/metrics_stream.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert len(recs) == 1  # drained in one micro-batch
    rec = recs[0]

    assert set(entry) == {"batch_id", "buckets", "lineage",
                          "events", "sinks", "failures"}
    assert set(rec) == {"batch_id", "events", "sinks", "failures"}
    for key in ("events", "sinks", "failures"):
        a, b = dict(entry[key]), dict(rec[key])
        if key == "events":
            a.pop("duration_in_millis")
            b.pop("duration_in_millis")
        assert a == b, key
    assert entry["failures"] == {"grok": 24}
    assert entry["sinks"] == {"sink_en": 40, "sink_rest": 80, "dead_letter": 24}
    assert entry["events"]["in"] == entry["events"]["filtered"] == 120

    assert PipelineMetrics.from_manifest("shared", total.to_manifest()) == total
    assert total.to_manifest() == {
        k: entry[k] for k in ("events", "sinks", "failures")}


def test_xml_failures_reach_the_census(spark, tmp_path):
    """Each stage declares its own default failure tags, so the xml stage's
    ``_xmlparsefailure`` is counted without a pipeline-side table."""
    df = spark.createDataFrame(
        [("https://x1", "<e><t>click</t></e>"), ("https://x2", "<e><t>broken")],
        "url string, message string",
    )
    pipe = Pipeline({
        "id": "xml_census",
        "filters": [{"xml": {"id": "parse_xml", "source": "message",
                             "schema": "t string", "target": "x"}}],
        "outputs": [{"name": "all"}],
    })
    m = pipe.run(df, str(tmp_path / "run"), n_buckets=2)
    assert {s.id: s.failures for s in m.filters} == {"parse_xml": 1}


def test_bucket_removal_is_rejected_in_both_modes(spark, tmp_path):
    """The executor's check that a filter kept the ``bucket`` partition
    key runs for batch and stream alike."""
    src_dir = str(tmp_path / "src")
    _rows(spark, 10).coalesce(1).write.parquet(src_dir)
    spec = {"id": "no_bucket",
            "filters": [{"mutate": {"remove_field": ["bucket"]}}],
            "outputs": [{"name": "all"}]}
    with pytest.raises(ValueError, match="removed the internal 'bucket'"):
        Pipeline(spec).run(spark.read.parquet(src_dir), str(tmp_path / "b"),
                           n_buckets=2)
    stream = stream_from_directory(spark, src_dir, SCHEMA)
    with pytest.raises(Exception, match="removed the internal 'bucket'"):
        run_streaming(Pipeline(spec), stream, str(tmp_path / "s"),
                      n_buckets=2, timeout_sec=300)
