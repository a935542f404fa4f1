"""Streaming mode + xml stage tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from logstash_spark.pipeline import Pipeline
from logstash_spark.stages.base import apply_stage
from logstash_spark.streaming import run_streaming, stream_from_directory


def test_xml_stage(spark):
    df = spark.createDataFrame(
        [(1, "<e><t>click</t><u>42</u></e>"),
         (2, "<e><t>view</t><u>7</u></e>"),
         (3, "not xml at all <<<")],
        "id int, message string",
    )
    out = apply_stage(
        df, {"xml": {"source": "message", "schema": "t string, u long", "target": "x"}}
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["x"]["t"] == "click" and rows[1]["x"]["u"] == 42
    assert rows[2]["x"]["u"] == 7
    assert rows[3]["x"] is None or rows[3]["x"]["t"] is None


def test_streaming_foreachbatch_e2e(spark, tmp_path):
    # source dir with several files → several micro-batches
    src_dir = str(tmp_path / "src")
    n = 300
    df = spark.range(n).select(
        F.concat(F.lit("https://s"), F.col("id").cast("string")).alias("url"),
        F.when(F.pmod("id", F.lit(3)) == 0, "en").otherwise("de").alias("lang"),
        F.col("id").cast("double").alias("score"),
    )
    df.repartition(6).write.parquet(src_dir)

    spec = {
        "id": "stream_test",
        "filters": [
            {"mutate": {"uppercase": ["lang"]}},
            {"fingerprint": {"source": "url", "method": "SHA256"}},
        ],
        "outputs": [
            {"name": "sink_en", "when": "[lang] == 'EN'"},
            {"name": "sink_other", "when": "[lang] != 'EN'"},
        ],
    }
    pipe = Pipeline(spec)
    run_dir = str(tmp_path / "run")
    stream = stream_from_directory(
        spark, src_dir, "url string, lang string, score double",
        max_files_per_trigger=2,
    )
    run_streaming(pipe, stream, run_dir, bucket_on="url", n_buckets=8,
                  timeout_sec=300)

    en = spark.read.parquet(f"{run_dir}/sink_en")
    other = spark.read.parquet(f"{run_dir}/sink_other")
    n_en = (n + 2) // 3
    assert en.count() == n_en
    assert other.count() == n - n_en
    assert en.filter(F.col("lang") != "EN").count() == 0

    # per-micro-batch metrics lines sum to the totals (node-stats shape)
    with open(f"{run_dir}/metrics_stream.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert len(recs) >= 2  # maxFilesPerTrigger forced multiple batches
    assert sum(r["events"]["in"] for r in recs) == n
    assert sum(r["sinks"]["sink_en"] for r in recs) == n_en

    # without n_buckets the stream keeps its own 8-bucket default, not
    # batch mode's 32: at most 8 bucket= directories per sink
    run_dir = str(tmp_path / "run_default_buckets")
    stream = stream_from_directory(
        spark, src_dir, "url string, lang string, score double",
        max_files_per_trigger=2,
    )
    run_streaming(pipe, stream, run_dir, bucket_on="url", timeout_sec=300)
    for sink in ("sink_en", "sink_other"):
        dirs = [d for d in os.listdir(f"{run_dir}/{sink}") if d.startswith("bucket=")]
        assert 0 < len(dirs) <= 8, dirs
    assert spark.read.parquet(f"{run_dir}/sink_en").count() == n_en


def test_streaming_events_in_is_pre_filter_ingress(spark, tmp_path):
    """Batch-mode parity for node-stats counters: events.in is the
    PRE-compile ingress count; a drop filter must lower events.filtered
    (post-compile) but never events.in."""
    src_dir = str(tmp_path / "src_drop")
    n = 200
    spark.range(n).select(
        F.concat(F.lit("https://d"), F.col("id").cast("string")).alias("url"),
        F.when(F.pmod("id", F.lit(4)) == 0, "keep").otherwise("drop")
        .alias("verdict"),
    ).coalesce(1).write.parquet(src_dir)

    pipe = Pipeline({
        "id": "drop_stream",
        "filters": [{"drop": {"when": "[verdict] == 'drop'"}}],
        "outputs": [{"name": "kept"}],
    })
    run_dir = str(tmp_path / "run_drop")
    stream = stream_from_directory(
        spark, src_dir, "url string, verdict string")
    run_streaming(pipe, stream, run_dir, bucket_on="url", n_buckets=4,
                  timeout_sec=300)
    with open(f"{run_dir}/metrics_stream.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert sum(r["events"]["in"] for r in recs) == n
    assert sum(r["events"]["filtered"] for r in recs) == n // 4
    assert sum(r["sinks"]["kept"] for r in recs) == n // 4


def test_streaming_resume_checkpoint(spark, tmp_path):
    """New files after a drained availableNow run are picked up by the
    next run from the SAME checkpoint; old files are not re-read."""
    src_dir = str(tmp_path / "src")
    run_dir = str(tmp_path / "run")
    schema = "url string, lang string"

    def mk(ids, label):
        return spark.createDataFrame(
            [(f"https://{label}{i}", "en") for i in ids], schema
        )

    mk(range(50), "a").coalesce(1).write.mode("append").parquet(src_dir)
    spec = {"id": "resume", "filters": [],
            "outputs": [{"name": "sink_all"}]}
    pipe = Pipeline(spec)
    stream = stream_from_directory(spark, src_dir, schema)
    run_streaming(pipe, stream, run_dir, n_buckets=4, timeout_sec=300)
    assert spark.read.parquet(f"{run_dir}/sink_all").count() == 50

    mk(range(30), "b").coalesce(1).write.mode("append").parquet(src_dir)
    stream2 = stream_from_directory(spark, src_dir, schema)
    run_streaming(pipe, stream2, run_dir, n_buckets=4, timeout_sec=300)
    out = spark.read.parquet(f"{run_dir}/sink_all")
    assert out.count() == 80  # 50 old (not duplicated) + 30 new


def test_aggregate_stream_timeout(spark, tmp_path):
    """aggregate's streaming mode: applyInPandasWithState accumulates
    per-key state across micro-batches and flushes the map as an event
    on ProcessingTimeTimeout (push_map_as_event_on_timeout parity)."""
    import time

    from logstash_spark.streaming import aggregate_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("k1", 10), ("k1", 5), ("k2", 7)], "k string, v long"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = stream_from_directory(spark, src, "k string, v long")
    out = aggregate_stream(
        stream,
        task_id="k",
        state_schema="n long, total long",
        output_schema="k string, n long, total long",
        init_state=(0, 0),
        update_fn=lambda st, pdf: (st[0] + len(pdf), st[1] + int(pdf["v"].sum())),
        emit_fn=lambda key, st: {"k": key[0], "n": st[0], "total": st[1]},
        timeout_ms=1500,
    )
    q = (
        out.writeStream.format("memory").queryName("agg_stream_q")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = {}
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and len(got) < 2:
            time.sleep(1.0)
            for r in spark.sql("SELECT * FROM agg_stream_q").collect():
                got[r.k] = (r.n, r.total)
        assert got.get("k1") == (2, 15), got
        assert got.get("k2") == (1, 7), got
    finally:
        q.stop()


def test_windowed_counts_watermark(spark, tmp_path):
    """Event-time windows + watermark (beyond-reference extension):
    closed windows emit in append mode after the watermark passes."""
    import datetime

    from logstash_spark.streaming import windowed_counts

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows1 = [(t0 + datetime.timedelta(seconds=s), "k") for s in (0, 10, 70)]
    spark.createDataFrame(rows1, "ts timestamp, k string").coalesce(1) \
        .write.mode("append").parquet(src)
    sink = str(tmp_path / "wsink")
    stream = stream_from_directory(spark, src, "ts timestamp, k string")
    out = windowed_counts(stream, "ts", "k", window="60 seconds", watermark="60 seconds")
    q = (out.writeStream.format("parquet").outputMode("append")
         .option("path", sink)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(120)
    # advance event time far enough to close the first windows
    rows2 = [(t0 + datetime.timedelta(seconds=400), "k")]
    spark.createDataFrame(rows2, "ts timestamp, k string").coalesce(1) \
        .write.mode("append").parquet(src)
    stream2 = stream_from_directory(spark, src, "ts timestamp, k string")
    out2 = windowed_counts(stream2, "ts", "k", window="60 seconds", watermark="60 seconds")
    q2 = (out2.writeStream.format("parquet").outputMode("append")
          .option("path", sink)
          .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got = {r.window_start.second + 60 * r.window_start.minute: r["count"]
           for r in spark.read.parquet(sink).collect()}
    # watermark passed 0s and 60s windows -> both closed and emitted;
    # the 360s window is still open (no later event) -> absent
    assert got.get(0) == 2 and got.get(60) == 1
    assert 360 not in got
