"""Structured-Streaming execution mode: the same compiled pipeline DAG
run per micro-batch via ``foreachBatch``.

Reference counterparts:
* Logstash IS a streaming engine (input threads → queue → workers,
  SURVEY §3.2); this module is the engine's unbounded-source mode,
  while pipeline.py's bucket loop is the batch-over-table mode.
* micro-batch ≙ QueueBatch (execution/QueueBatch.java); the streaming
  checkpoint dir ≙ the PQ head/tail checkpoints
  (ackedqueue/Checkpoint.java) — source offsets are committed after a
  batch's sinks are written, giving the same at-least-once contract.
* per-batch metrics ≙ the node-stats events counters (§3.3), emitted
  as one JSON line per micro-batch (``metrics_stream.jsonl``).
* the micro-batch body is ``Pipeline._run_batch`` — the same executor
  batch mode runs per bucket group — and each jsonl line is its
  ``PipelineMetrics.to_manifest()`` record plus the ``batch_id``.

Semantics notes (documented deviations, SURVEY §2.6):
* Logstash is processing-time only; event-time watermarking is an
  extension hook (``with_watermark``) not used by default.
* Sinks append per micro-batch (Logstash outputs append too);
  idempotent replay of a failed batch can duplicate — at-least-once,
  exactly like the reference's PQ acking.

Bucket count: ``STREAM_BUCKETS`` (8), not batch mode's 32. In batch
mode the bucket group is the checkpoint/ack unit; in a stream the
recovery unit is Spark's offset and commit logs, so the bucket count
only sets the ``bucket=`` layout and how many files each micro-batch
makes: files per micro-batch = buckets × sinks (at 32 buckets a 5-sink
pipeline writes 160 parquet files of a few dozen rows, each with a
~5 KB footer). The write tasks are a separate count: one per core, up
to one per bucket (``Pipeline._run_batch``). It is a constant on
purpose: a default read from the session or the core count would move
the ``bucket=`` layout when a restart changes either. An explicit
``n_buckets`` is honoured.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import Pipeline, check_bucket_count, with_bucket
# the benchmark's traced run wraps this name (perfbench/layers.py)
from .pipeline import _failure_census  # noqa: F401

STREAM_BUCKETS = 8


def stream_from_directory(
    spark: SparkSession, path: str, schema: str, fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (≙ logstash-input-file with sincedb tracking:
    the stream checkpoint's source offsets ARE the sincedb)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def run_streaming(
    pipe: Pipeline,
    stream: DataFrame,
    run_dir: str,
    bucket_on: str = "url",
    n_buckets: int = STREAM_BUCKETS,
    available_now: bool = True,
    timeout_sec: float | None = None,
):
    """Run the pipeline over an unbounded source; returns the query.

    ``available_now=True`` drains what exists and stops (the batch-test
    and backfill mode); False runs continuously.
    """
    check_bucket_count(n_buckets)
    os.makedirs(run_dir, exist_ok=True)
    metrics_path = f"{run_dir}/metrics_stream.jsonl"

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        m = pipe._run_batch(with_bucket(batch_df, bucket_on, n_buckets),
                            run_dir, n_buckets, 1, mode="append",
                            truncate_tables=False)
        with open(metrics_path, "a") as f:
            f.write(json.dumps({"batch_id": batch_id, **m.to_manifest()}) + "\n")

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", f"{run_dir}/_stream_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination(timeout_sec)
    return query


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "60 seconds",
    watermark: str = "120 seconds",
) -> DataFrame:
    """Event-time windowed counts with a watermark — the extension hook
    SURVEY §2.6 names: Logstash itself is processing-time only (late
    data is indistinguishable), so this is engine capability BEYOND the
    reference, not parity. Late rows beyond the watermark are dropped
    and closed windows emit finally (append mode semantics)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.col("w.start").alias("window_start"), key_col, "count")
    )


def aggregate_stream(
    stream: DataFrame,
    task_id: str,
    state_schema: str,
    output_schema: str,
    init_state: tuple,
    update_fn,
    emit_fn,
    timeout_ms: int = 5000,
) -> DataFrame:
    """aggregate filter in streaming mode (SURVEY §2.4 mapping):
    ``applyInPandasWithState(GroupStateTimeout.ProcessingTimeTimeout)``.

    Per-task_id state accumulates across micro-batches (aggregate.rb's
    ``map``); when a key sees no events for ``timeout_ms`` the state is
    emitted as a map event and cleared — exactly
    ``push_map_as_event_on_timeout`` + ``timeout`` semantics. The
    reference requires workers=1 for this filter; here keys are the
    parallel unit and Spark's state store shards them.

    * ``init_state``   — initial accumulator tuple (matches state_schema)
    * ``update_fn(state_tuple, pdf) -> state_tuple`` — fold one batch
      of rows (a pandas DataFrame) into the accumulator; vectorized.
    * ``emit_fn(key_tuple, state_tuple) -> dict`` — the flushed map
      event row (matches output_schema).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            st = tuple(state.get)
            state.remove()
            yield pd.DataFrame([emit_fn(key, st)])
            return
        st = tuple(state.get) if state.exists else init_state
        for pdf in pdfs:
            st = update_fn(st, pdf)
        state.update(st)
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame([], columns=[f.split()[0] for f in output_schema.split(",")])

    return stream.groupBy(F.col(task_id)).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
