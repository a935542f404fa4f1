"""``logs_stream``: the Apache-log pipeline under Structured Streaming
(``streaming.run_streaming``, foreachBatch) fed by an open-loop
generator.

A generator thread in the benchmark process writes one small parquet
file every ``INTERVAL_S`` on a fixed schedule that does not slow down
when the engine does. Each event carries the time it was due
(``created_ms``): events are due evenly across the interval before the
file that ships them, like a log shipper flushing every interval. A file
is written under a hidden name and then renamed, so the file source
never sees a partial file.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, layers, oracle, stats
from .common import files_by_batch

RATE = 800           # events per second, below what the engine sustains
INTERVAL_S = 0.25    # one source file per interval
N_WARM_FILES = 25   # one warm-up micro-batch the size of a steady one
N_PROBE = 8000       # staged lines for the traced stage probes
DRAIN_TIMEOUT_S = 60
SCHEMA = "event_id long, created_ms long, message string"


def log_spec(spark) -> dict:
    from logstash_spark.datagen import gen_geo_ranges, gen_ua_rules

    return {
        "id": "access_logs",
        "filters": [
            {"grok": {"match": {"message": "%{COMBINEDAPACHELOG}"}}},
            {"date": {"match": ["timestamp", "dd/MMM/yyyy:HH:mm:ss Z"], "target": "event_ts"}},
            {"geoip": {"source": "clientip", "ranges_df": gen_geo_ranges(spark, 500),
                       "strategy": "binary_search"}},
            {"useragent": {"source": "agent", "rules_df": gen_ua_rules(spark)}},
            {"when": "[verb] == 'POST'", "mutate": {"uppercase": ["request"]}},
        ],
        "outputs": [{"name": f"status_{c}xx", "when": f"[response] =~ /^{c}/"}
                    for c in (2, 3, 4, 5)] + [{"name": "dead_letter", "dlq": True}],
    }


def _file_table(seed: int, k: int, n: int, due0: float, interval: float):
    """File ``k``: ``n`` events with ids ``k*n ..`` due evenly over
    (due0, due0 + interval]."""
    lines = gen.log_lines(seed, k * n, n)
    ids = gen.seed_ids(seed, k * n, n)
    created = [int((due0 + interval * (j + 1) / n) * 1000) for j in range(n)]
    return pa.table({"event_id": pa.array(ids, pa.int64()),
                     "created_ms": pa.array(created, pa.int64()),
                     "message": pa.array(lines, pa.string())}), lines


class Generator(threading.Thread):
    """Open-loop writer: file k is due at t0 + (k+1) * interval."""

    def __init__(self, src: str, seed: int, seconds: float, first_file: int):
        super().__init__(name="log-generator", daemon=True)
        self.src, self.seed, self.seconds = src, seed, seconds
        self.per_file = int(RATE * INTERVAL_S)
        self.first = first_file
        self.files: dict[str, dict] = {}  # file name → due, written, expected counts
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def run(self) -> None:
        try:
            t0 = time.time()
            n_files = int(self.seconds / INTERVAL_S)
            for i in range(n_files):
                k = self.first + i
                due = t0 + (i + 1) * INTERVAL_S
                table, lines = _file_table(self.seed, k, self.per_file,
                                           due - INTERVAL_S, INTERVAL_S)
                counts = oracle.log_counts(lines)
                if self._halt.wait(max(0.0, due - time.time())):
                    return
                name = f"part-{k:06d}.parquet"
                tmp = os.path.join(self.src, f".{name}.tmp")
                pq.write_table(table, tmp)
                os.rename(tmp, os.path.join(self.src, name))
                self.files[name] = {"due": due, "written": time.time(),
                                    "created": table.column("created_ms").to_pylist(),
                                    "counts": counts}
        except BaseException as e:  # reported by the workload, never lost
            self.error = e

    def stop(self) -> None:
        self._halt.set()


def _source_log(ckpt: str) -> dict[str, int]:
    """file name → micro-batch id, from the file source's offset log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commits(ckpt: str) -> dict[int, float]:
    """micro-batch id → commit time (the commit-log entry's mtime)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def stage_probe(work: str, seed: int) -> str:
    per = N_PROBE // 8
    return gen.stage(work, f"logs_probe_{seed}_{N_PROBE}", 8, lambda k: pa.table(
        {"message": gen.log_lines(seed, 10**6 + k * per, per)}))


def run(ctx) -> dict:
    from logstash_spark.pipeline import Pipeline
    from logstash_spark.streaming import run_streaming, stream_from_directory

    probe_src = ctx.stage(lambda: stage_probe(ctx.stage_dir, ctx.seed)) if ctx.trace else None
    spark = ctx.start_spark()
    with ctx.setup_span("pipeline.dims"):
        spec = log_spec(spark)
        pipe = Pipeline(spec)
    warm_src = os.path.join(ctx.work, "warm_src")
    os.makedirs(warm_src)
    per_file = int(RATE * INTERVAL_S)
    for k in range(N_WARM_FILES):  # file numbers (and so ids) past every timed file
        table, _ = _file_table(ctx.seed, 10**4 + k, per_file, time.time(), INTERVAL_S)
        pq.write_table(table, os.path.join(warm_src, f"part-{k:06d}.parquet"))
    with ctx.setup_span("session.warmup"):
        q = run_streaming(pipe, stream_from_directory(spark, warm_src, SCHEMA),
                          os.path.join(ctx.work, "warm_run"), bucket_on="message",
                          available_now=True, timeout_sec=120)
        q.stop()
    ctx.setup_done()

    src = os.path.join(ctx.work, "stream_src")
    os.makedirs(src)
    run_dir = os.path.join(ctx.work, "stream_run")
    ckpt = os.path.join(run_dir, "_stream_checkpoint")
    if ctx.trace:  # odd micro-batches traced, even ones not: their gap is the overhead
        ctx.tracer.batch_gate = lambda batch_id: batch_id % 2 == 1
    first_job = layers.newest_job(spark.sparkContext)
    query = run_streaming(pipe, stream_from_directory(spark, src, SCHEMA), run_dir,
                          bucket_on="message", available_now=False)
    gen_thread = Generator(src, ctx.seed, ctx.seconds, first_file=0)
    gen_thread.start()
    gen_thread.join(ctx.seconds + 30)
    gen_thread.stop()
    gen_thread.join(30)  # no file appears after this point
    deadline = time.time() + DRAIN_TIMEOUT_S
    drained = False
    while time.time() < deadline and query.exception() is None:
        batch_of = _source_log(ckpt)
        commits = _commits(ckpt)
        if all(batch_of.get(f) in commits for f in gen_thread.files):
            drained = True
            break
        time.sleep(0.2)
    # a micro-batch's progress event follows its commit
    last = max(_commits(ckpt), default=-1)
    while (time.time() < deadline and query.exception() is None
           and (query.lastProgress is None or query.lastProgress.batchId < last)):
        time.sleep(0.1)
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    exc = query.exception()
    query.stop()
    ctx.end_timed()
    jobs, tasks = layers.spark_job_counts(spark.sparkContext, first_job)

    # ---- correctness and latency --------------------------------------------
    batch_of, commits = _source_log(ckpt), _commits(ckpt)
    recs = {}
    if os.path.exists(os.path.join(run_dir, "metrics_stream.jsonl")):
        with open(os.path.join(run_dir, "metrics_stream.jsonl")) as f:
            recs = {r["batch_id"]: r for r in map(json.loads, f)}
    problems = []
    if gen_thread.error is not None:
        problems.append(f"generator: {gen_thread.error!r}")
    if exc is not None:
        problems.append(f"query: {exc}")
    if not drained:
        problems.append("stream did not drain")
    want_batch: dict[int, dict[str, int]] = {}
    latencies = []
    for name, meta in gen_thread.files.items():
        bid = batch_of.get(name)
        if bid is None or bid not in commits:
            continue
        acc = want_batch.setdefault(bid, {})
        for s, n in meta["counts"].items():
            acc[s] = acc.get(s, 0) + n
        latencies += [commits[bid] - c / 1000 for c in meta["created"]]
    attempted = len(want_batch) or 1
    failed = 0 if want_batch else 1
    for bid, want in sorted(want_batch.items()):
        bad = oracle.batch_disagreements(want, recs.get(bid, {}).get("sinks", {}))
        if bad:
            failed += 1
            problems.append(f"micro-batch {bid}: {bad}")
    total_want: dict[str, int] = {}
    for meta in gen_thread.files.values():
        for s, n in meta["counts"].items():
            total_want[s] = total_want.get(s, 0) + n
    n_events = sum(total_want.values())
    rows, distinct = oracle.distinct_ids(run_dir)
    on_disk = {s: sum(oracle.sink_bucket_rows(run_dir, s).values()) for s in total_want}
    bad = oracle.batch_disagreements(total_want, on_disk)
    if bad or rows != distinct or rows != n_events:
        failed = max(failed, 1)
        problems.append(f"after drain: {bad}, rows {rows}, distinct ids {distinct}")
    if problems and not failed:
        failed = 1

    # Sink files and bytes of the steady micro-batches: not the first, which
    # starts before data arrives, nor the last, which drains a partial
    # interval. Their count moves with host speed, and each one writes
    # up to 160 files (32 buckets × 5 sinks) whose metadata outweighs its rows.
    written = files_by_batch([os.path.join(run_dir, s) for s in oracle.LOG_SINKS.values()],
                             commits)
    steady = sorted(want_batch)[1:-1] or sorted(want_batch)
    files = sum(written.get(b, [0, 0])[0] for b in steady)
    size = sum(written.get(b, [0, 0])[1] for b in steady)
    steady_events = sum(sum(want_batch[b].values()) for b in steady)
    trig = [p.durationMs.get("triggerExecution", 0) / 1000 for p in progress]
    # rows per second of micro-batch execution: what the engine does per
    # busy second, not the generator's fixed rate
    busy_rows, busy_s = sum(p.numInputRows for p in progress), sum(trig)
    late = [m["written"] - m["due"] for m in gen_thread.files.values()]
    per_batch: dict[int, int] = {}
    for bid in batch_of.values():
        per_batch[bid] = per_batch.get(bid, 0) + 1
    e2e = {
        "events_per_s": busy_rows / busy_s if busy_s > 0 else 0.0,
        "batch_s_p50": stats.median(trig) if trig else 0.0,
        "event_latency_s_p50": stats.percentile(latencies, 50) if latencies else 0.0,
        "event_latency_s_p95": stats.percentile(latencies, 95) if latencies else 0.0,
        "sink_bytes_per_event": size / steady_events if steady_events else 0.0,
        "sink_files_per_batch": files / len(steady) if steady else 0.0,
    }
    info = {"micro_batches": len(want_batch), "steady_micro_batches": len(steady),
            "files": len(gen_thread.files),
            "trigger_s": [round(t, 3) for t in trig],
            "latency_samples": len(latencies), "rate_events_per_s": RATE,
            "latency_top_pct_supported": stats.highest_supported(len(latencies)),
            "generator_late_s_max": round(max(late, default=0.0), 4),
            "problems": problems[:5]}
    layer = {
        "spark.jobs_per_batch": jobs / attempted,
        "spark.tasks_per_batch": tasks / attempted,
        "router.files_written": files / max(1, len(steady)),
        "router.bytes_written": size / max(1, len(steady)),
        "streaming.backlog_files_max": max(per_batch.values(), default=0),
        "generator.late_s_max": max(late, default=0.0),
    }
    for part in layers.PROGRESS_PARTS:
        xs = [p.durationMs.get(part, 0) for p in progress]
        layer[f"streaming.{part}_ms"] = stats.median(xs) if xs else 0.0
    if ctx.trace:
        layer.update(layers.span_metrics(ctx.tracer.spans, "streaming.batch"))
        probe_df = spark.read.parquet(probe_src)
        layer.update(ctx.probe(probe_df, probe_df, spec["filters"]))
        traced = [t for p, t in zip(progress, trig) if p.batchId % 2 == 1]
        plain = [t for p, t in zip(progress, trig) if p.batchId % 2 == 0]
        if traced and plain:
            layer["trace.overhead_s"] = stats.median(traced) - stats.median(plain)
            info["overhead_basis"] = (f"{len(traced)} traced vs {len(plain)} untraced "
                                      "micro-batches")
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layer,
            "info": info}
