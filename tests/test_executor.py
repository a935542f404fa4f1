"""Batch and stream share one micro-batch executor (``Pipeline._run_batch``)
and one per-batch serializer (``PipelineMetrics.to_manifest``)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from logstash_spark.metrics import PipelineMetrics
from logstash_spark.pipeline import Pipeline
from logstash_spark.router import Router
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


def test_cef_failures_reach_the_census(spark, tmp_path):
    """The cef stage declares the tag it adds, so the census counts it."""
    df = spark.createDataFrame(
        [("https://c1", "CEF:0|v|p|1.0|100|worm stopped|10|src=10.0.0.1"),
         ("https://c2", "not a cef line")],
        "url string, message string",
    )
    pipe = Pipeline({"id": "cef_census", "filters": [{"cef": {}}],
                     "outputs": [{"name": "all"}]})
    m = pipe.run(df, str(tmp_path / "run"), n_buckets=2)
    assert {s.id: s.failures for s in m.filters} == {"cef": 1}


def test_failure_tags_are_the_tags_each_stage_adds():
    from logstash_spark.stages import build_stage

    assert build_stage({"cef": {}}).failure_tags == ["_cefparsefailure"]
    http = {"url": "http://x", "responses": {}}
    assert build_stage({"http": http}).failure_tags == ["_httprequestfailure"]
    assert build_stage({"http": {**http, "tag_on_request_failure": "_down"}}
                       ).failure_tags == ["_down"]
    # LSCL delivers a bare string: one tag, not one per character
    assert build_stage({"grok": {"match": {"message": "x"},
                                 "tag_on_failure": "_bad"}}).failure_tags == ["_bad"]


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


def _placement(spark, tmp_path, monkeypatch, run):
    """(bucket, partition) pairs and partition count of each persisted
    micro-batch ``run(src_dir)`` executes."""
    import logstash_spark.pipeline as pipeline

    seen = []
    census = pipeline._failure_census

    def recording_census(df, stage_tags):
        pairs = df.select(F.col("bucket").cast("int"),
                          F.spark_partition_id()).distinct().collect()
        seen.append((sorted(tuple(p) for p in pairs),
                     df.rdd.getNumPartitions()))
        return census(df, stage_tags)

    monkeypatch.setattr(pipeline, "_failure_census", recording_census)
    src_dir = str(tmp_path / "src")
    _rows(spark, 2000).coalesce(1).write.parquet(src_dir)
    run(src_dir)
    return seen


def _assert_one_partition_per_bucket(spark, pairs, n_parts, buckets):
    cores = spark.sparkContext.defaultParallelism
    assert n_parts == min(len(buckets), cores)
    by_bucket: dict[int, set[int]] = {}
    for b, p in pairs:
        by_bucket.setdefault(b, set()).add(p)
    assert sorted(by_bucket) == sorted(buckets)
    assert all(len(ps) == 1 for ps in by_bucket.values()), by_bucket
    per_part: dict[int, int] = {}
    for (p,) in by_bucket.values():
        per_part[p] = per_part.get(p, 0) + 1
    assert sorted(per_part) == list(range(n_parts))  # none empty
    assert max(per_part.values()) - min(per_part.values()) <= 1, per_part


def test_batch_buckets_sit_in_one_partition_each(spark, tmp_path, monkeypatch):
    """A batch run's group of buckets is shuffled into one partition per
    core: every bucket in exactly one partition, every partition used,
    bucket counts within one of each other."""
    seen = _placement(spark, tmp_path, monkeypatch, lambda src: Pipeline(
        SPEC).run(spark.read.parquet(src), str(tmp_path / "b"),
                  n_buckets=32, n_batches=2))
    assert len(seen) == 2
    for batch_id, (pairs, n_parts) in enumerate(seen):
        _assert_one_partition_per_bucket(
            spark, pairs, n_parts, range(batch_id, 32, 2))


def test_stream_buckets_sit_in_one_partition_each(spark, tmp_path, monkeypatch):
    seen = _placement(spark, tmp_path, monkeypatch, lambda src: run_streaming(
        Pipeline(SPEC), stream_from_directory(spark, src, SCHEMA),
        str(tmp_path / "s"), n_buckets=8, timeout_sec=300))
    assert len(seen) == 1
    pairs, n_parts = seen[0]
    _assert_one_partition_per_bucket(spark, pairs, n_parts, range(8))


@pytest.mark.parametrize("n_buckets,n_batches", [(2, 4), (4, 0), (0, 1), (-1, 1)])
def test_bad_bucket_counts_fail_before_any_write(spark, tmp_path, n_buckets,
                                                 n_batches):
    """Bucket/batch counts are checked at plan time: a previous run's
    sinks and manifest are left as they were, nothing new is acked."""
    src = _rows(spark, 20)
    run_dir = str(tmp_path / "run")

    def files():
        return sorted(os.path.relpath(os.path.join(d, f), run_dir)
                      for d, _, fs in os.walk(run_dir) for f in fs)

    Pipeline(SPEC).run(src, run_dir, n_buckets=2)
    before = files()
    with pytest.raises(ValueError, match="n_b"):
        Pipeline(SPEC).run(src, run_dir, n_buckets=n_buckets,
                           n_batches=n_batches)
    assert files() == before
    assert os.listdir(f"{run_dir}/_checkpoints") == ["batch-00000.json"]


def test_stream_rejects_a_bad_bucket_count(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    _rows(spark, 10).coalesce(1).write.parquet(src_dir)
    with pytest.raises(ValueError, match="n_buckets=0"):
        run_streaming(Pipeline(SPEC), stream_from_directory(
            spark, src_dir, SCHEMA), str(tmp_path / "s"), n_buckets=0)
    assert not os.path.exists(tmp_path / "s")


def test_batches_are_cached_deserialized_and_uncompressed(spark, tmp_path, monkeypatch):
    """The routed batch and the branch caches are persisted at the
    deserialized memory-and-disk level (PySpark's MEMORY_AND_DISK is the
    serialized one, decoded again by every read), and the session caches
    column batches uncompressed."""
    from pyspark.storagelevel import StorageLevel

    levels = []
    write_batch = Router.write_batch

    def spy(self, df, *args, **kwargs):
        levels.append(df.storageLevel)
        return write_batch(self, df, *args, **kwargs)

    monkeypatch.setattr(Router, "write_batch", spy)
    Pipeline(SPEC).run(_rows(spark), str(tmp_path / "run"), n_buckets=4, n_batches=2)
    assert levels == [StorageLevel.MEMORY_AND_DISK_DESER] * 2

    pipe = Pipeline({"id": "t", "filters": [
        {"when": "[lang] == 'en'", "split": {"field": "message", "terminator": " "}}]})
    pipe.compile(_rows(spark))
    try:
        assert [c.storageLevel for c in pipe._branch_caches] == [
            StorageLevel.MEMORY_AND_DISK_DESER]
    finally:
        pipe.release_branch_caches()
    assert spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "false"
