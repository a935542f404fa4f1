"""Where the traced run hooks into the engine, and the per-layer metrics
it reports.

Every hook wraps, from the benchmark's side, a call at one of the
engine's layer boundaries: a module's entry point (``Pipeline.run``,
``Router.write_batch``, the census ``pipeline._failure_census``) or the
pyspark call the engine makes there (a sink's ``DataFrameWriter.save``,
the ``foreachBatch`` body). Nothing in ``logstash_spark`` is edited.
"""

from __future__ import annotations

import os

from . import stats
from .trace import Span, Tracer, self_times

STAGE_PLUGINS = ["extract_text", "parse_url", "tld", "synth_ip", "geoip", "useragent",
                 "translate", "fingerprint", "mutate", "grok", "date"]
FAILURE_STAGES = ["grok", "date", "geoip"]
SINKS = ["sink_en", "sink_i18n", "sink_highvalue", "dead_letter",
         "status_2xx", "status_3xx", "status_4xx", "status_5xx"]
PROGRESS_PARTS = ["addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"]

# name → unit, in report order
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "pipeline.init_s": "s",
    "pipeline.compile_s": "s",
    "pipeline.census_s": "s",
    "pipeline.batch_self_s": "s",
    "pipeline.describe_source_s": "s",
    "sources.scan_s": "s",
    **{f"stages.{p}_s": "s" for p in STAGE_PLUGINS},
    **{f"stages.{p}.failures": "count" for p in FAILURE_STAGES},
    "router.write_batch_s": "s",
    **{f"router.sink.{s}_s": "s" for s in SINKS},
    "router.files_written": "files",
    "router.bytes_written": "bytes",
    "checkpoint.ack_s": "s",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    **{f"streaming.{p}_ms": "ms" for p in PROGRESS_PARTS},
    "streaming.backlog_files_max": "files",
    "generator.late_s_max": "s",
    "jvm.peak_rss_mb": "MB",
    "python_workers.peak_rss_mb": "MB",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries with spans."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    import logstash_spark.pipeline as pipeline
    import logstash_spark.session as session
    import logstash_spark.streaming as streaming
    from logstash_spark.checkpoint import CheckpointManifest
    from logstash_spark.router import Router

    def census_counts(sp: Span, result) -> None:
        sp.attrs["failures"] = dict(result[1])

    def sink_name(self, path=None, *args, **kwargs) -> str:
        return f"router.sink.{os.path.basename(path.rstrip('/'))}" if path else "spark.noop_write"

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(pipeline.Pipeline, "__init__", "pipeline.init")
    tracer.wrap(pipeline.Pipeline, "run", "pipeline.run")
    tracer.wrap(pipeline.Pipeline, "compile", "pipeline.compile")
    tracer.wrap(pipeline.Pipeline, "release_branch_caches", "pipeline.release")
    tracer.wrap(pipeline, "_failure_census", "pipeline.census", census_counts)
    tracer.wrap(streaming, "_failure_census", "pipeline.census", census_counts)
    tracer.wrap(pipeline, "_describe_source", "pipeline.describe_source")
    tracer.wrap(Router, "write_batch", "router.write_batch")
    tracer.wrap(DataFrameWriter, "save", sink_name)
    tracer.wrap(CheckpointManifest, "ack", "checkpoint.ack")
    tracer.wrap(DataFrame, "unpersist", "spark.unpersist")
    tracer.propagate_into(ThreadPoolExecutor)

    # streaming hands its micro-batch body to foreachBatch: wrap the body
    def traced_foreach_batch(orig):
        def foreach_batch(self, func):
            def traced_batch(df, batch_id):
                if tracer.batch_gate is not None:
                    tracer.enabled = tracer.batch_gate(batch_id)
                with tracer.span("streaming.batch"):
                    return func(df, batch_id)

            return orig(self, traced_batch)

        return foreach_batch

    tracer.patch(DataStreamWriter, "foreachBatch", traced_foreach_batch)


def _jobs_after(tracker, since_job: int) -> list:
    """Job infos with id > ``since_job``. Job ids are sequential across
    job groups (a streaming query runs its jobs under its own group), so
    probe upwards until the first id Spark does not know."""
    out, j = [], since_job + 1
    while (info := tracker.getJobInfo(j)) is not None:
        out.append(info)
        j += 1
    return out


def spark_job_counts(sc, since_job: int) -> tuple[int, int]:
    """(jobs, tasks) of the jobs with id > ``since_job``."""
    tracker = sc.statusTracker()
    jobs = _jobs_after(tracker, since_job)
    tasks = 0
    for info in jobs:
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def newest_job(sc) -> int:
    tracker = sc.statusTracker()
    newest = max(tracker.getJobIdsForGroup(), default=-1)
    return newest + len(_jobs_after(tracker, newest))


def _median_of(spans: list[Span], name: str) -> float:
    xs = [sp.duration for sp in spans if sp.name == name]
    return stats.median(xs) if xs else 0.0


def span_metrics(spans: list[Span], batch_span: str) -> dict[str, float]:
    """Per-batch medians of each layer's span, the batch's own self time
    and the share of batch wall time that layer spans cover.

    ``batch_span`` names the span that encloses whole batches:
    ``pipeline.run`` (all bucket-group batches of one run) or
    ``streaming.batch`` (one micro-batch)."""
    st = self_times(spans)
    batches = [sp for sp in spans if sp.name == batch_span]
    n_batches = len([sp for sp in spans if sp.name == "pipeline.census"]) or 1
    wall = sum(b.duration for b in batches)
    batch_self = sum(st[b.id] for b in batches)
    failures: dict[str, int] = {}
    for sp in spans:
        for sid, n in sp.attrs.get("failures", {}).items():
            failures[sid] = failures.get(sid, 0) + n
    out = {
        "pipeline.compile_s": _median_of(spans, "pipeline.compile"),
        "pipeline.census_s": _median_of(spans, "pipeline.census"),
        "pipeline.batch_self_s": batch_self / n_batches,
        "pipeline.describe_source_s": _median_of(spans, "pipeline.describe_source"),
        "router.write_batch_s": _median_of(spans, "router.write_batch"),
        "checkpoint.ack_s": _median_of(spans, "checkpoint.ack"),
        "trace.coverage": 1 - batch_self / wall if wall else 0.0,
    }
    for s in SINKS:
        out[f"router.sink.{s}_s"] = _median_of(spans, f"router.sink.{s}")
    for p in FAILURE_STAGES:
        out[f"stages.{p}.failures"] = failures.get(p, 0)
    return out


def stage_marginals(source, filter_specs: list[dict], repeats: int = 2) -> dict[str, float]:
    """Marginal cost of each stage: the median time of a noop write of
    ``stages[:k]`` minus that of ``stages[:k-1]``, over a persisted
    input (so the scan is paid once, before the first timing)."""
    import time

    from pyspark.storagelevel import StorageLevel

    from logstash_spark.pipeline import Pipeline

    base = source.persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    out: dict[str, float] = {}
    prev = None
    try:
        for k in range(len(filter_specs) + 1):
            df = Pipeline({"id": "probe", "filters": filter_specs[:k]}).compile(base)
            took = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                took.append(time.perf_counter() - t0)
            took = stats.median(took)
            if k:
                plugin = next(key for key in filter_specs[k - 1] if key != "when")
                out[f"stages.{plugin}_s"] = out.get(f"stages.{plugin}_s", 0.0) + took - prev
            prev = took
    finally:
        base.unpersist()
    return out
