"""``pages_bulk``: the flagship parse → enrich → route pipeline in batch
mode over staged fat pages, several bucket-group batches per run."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from . import gen, layers, oracle, stats
from .common import dir_stats

N_PAGES = 28000    # timed input: ~19 KB html per page
N_FILES = 16       # staged files (at least the local core count)
N_WARM_FILES = 2   # the untimed warm-up run reads this many of them
N_BATCHES = 2      # bucket-group batches per run
N_BUCKETS = 32     # flagship.run_flagship's default
N_PROBE = 600      # pages in the traced run's stage-probe sample
PARA_SCALE = 40


def stage_inputs(work: str, seed: int) -> str:
    pool = gen.paragraph_pool(seed)
    per = N_PAGES // N_FILES
    return gen.stage(work, f"pages_{seed}_{N_PAGES}", N_FILES,
                     lambda k: gen.pages_table(seed, k * per, per, PARA_SCALE, pool))


def _acks(run_dir: str) -> list[dict]:
    ck = os.path.join(run_dir, "_checkpoints")
    out = []
    for name in sorted(os.listdir(ck)):
        if name.startswith("batch-") and name.endswith(".json"):
            p = os.path.join(ck, name)
            with open(p) as f:
                entry = json.load(f)
            entry["acked_at"] = os.stat(p).st_mtime
            out.append(entry)
    return out


def run(ctx) -> dict:
    from logstash_spark import flagship
    from logstash_spark.datagen import gen_domain_dict

    big = ctx.stage(lambda: stage_inputs(ctx.stage_dir, ctx.seed))
    staged = sorted(glob.glob(os.path.join(big, "*.parquet")))
    spark = ctx.start_spark()
    with ctx.setup_span("pipeline.dims"):
        flagship.flagship_pipeline(spark)
    # The warm-up is the timed run in miniature (same batching, every core
    # busy): after a smaller one, the first timed run still paid several
    # seconds of Python-worker start and JIT.
    with ctx.setup_span("session.warmup"):
        flagship.run_flagship(spark, spark.read.parquet(*staged[:N_WARM_FILES]),
                              os.path.join(ctx.work, "warm_run"), n_buckets=N_BUCKETS,
                              n_batches=N_BATCHES)
    ctx.setup_done()

    reps = []
    t_start = time.monotonic()
    first_job = layers.newest_job(spark.sparkContext)
    min_reps = 2 if ctx.trace else 1  # a traced run needs an untraced twin
    # start another run only while it is expected to end inside the window
    while len(reps) < min_reps or (time.monotonic() - t_start
                                   + stats.median([r["wall"] for r in reps]) <= ctx.seconds):
        rd = os.path.join(ctx.work, f"run_{len(reps)}")
        traced = ctx.trace_this(len(reps))
        t0 = time.time()
        c0 = time.perf_counter()
        try:
            m = flagship.run_flagship(spark, spark.read.parquet(big), rd,
                                      n_buckets=N_BUCKETS, n_batches=N_BATCHES)
            err = None
        except Exception as e:  # a failed run counts its batches as failed
            m, err = None, repr(e)
        wall = time.perf_counter() - c0
        reps.append({"dir": rd, "t0": t0, "wall": wall, "traced": traced,
                     "events": m.events_in if m else 0, "error": err})
    ctx.end_timed()
    jobs, tasks = layers.spark_job_counts(spark.sparkContext, first_job)
    timed_s = time.monotonic() - t_start

    # ---- correctness: per-batch counts and text identity ------------------
    per_bucket = oracle.page_bucket_counts(spark, big, gen_domain_dict(spark), N_BUCKETS)
    attempted = failed = 0
    problems: list[str] = []
    batch_s, latencies = [], []
    for rep in reps:
        acks = _acks(rep["dir"]) if rep["error"] is None else []
        attempted += N_BATCHES
        bad_batches = N_BATCHES - len(acks)  # un-acked: the run raised
        if rep["error"]:
            problems.append(rep["error"])
        on_disk = {s: oracle.sink_bucket_rows(rep["dir"], s) for s in oracle.PAGE_SINKS}
        prev = rep["t0"]
        for entry in acks:
            want = oracle.sum_buckets(per_bucket, entry["buckets"])
            disk = {s: sum(on_disk[s].get(b, 0) for b in entry["buckets"])
                    for s in oracle.PAGE_SINKS}
            bad = (oracle.batch_disagreements(want, entry["sinks"])
                   + oracle.batch_disagreements(want, disk))
            if bad:
                bad_batches += 1
                problems.append(f"batch {entry['batch_id']}: {bad}")
            batch_s.append(entry["acked_at"] - prev)
            prev = entry["acked_at"]
            # one sample per batch: every event of a batch shares its ack, and
            # an event-weighted median of two near-equal batches flips
            # between the two acks with the seed's bucket split
            latencies.append(entry["acked_at"] - rep["t0"])
        if acks:
            seen, bad_text = oracle.text_mismatches(spark, rep["dir"], big)
            if bad_text or not seen:  # not attributable to one batch: fail them all
                bad_batches = N_BATCHES
                problems.append(f"text: {bad_text} of {seen} rows differ")
        failed += bad_batches

    last = reps[-1]["dir"]
    files = sum(dir_stats(os.path.join(last, s))[0] for s in oracle.PAGE_SINKS)
    size = sum(dir_stats(os.path.join(last, s))[1] for s in oracle.PAGE_SINKS)
    untraced = [r for r in reps if not r["traced"]] or reps
    e2e = {
        "events_per_s": stats.median([N_PAGES / r["wall"] for r in untraced]),
        "batch_s_p50": stats.median(batch_s) if batch_s else 0.0,
        "event_latency_s_p50": stats.percentile(latencies, 50) if latencies else 0.0,
        "event_latency_s_p95": stats.percentile(latencies, 95) if latencies else 0.0,
        "sink_bytes_per_event": size / N_PAGES,
        "sink_files_per_batch": files / N_BATCHES,
    }
    info = {"reps": len(reps), "batches": len(batch_s), "latency_samples": len(latencies),
            "latency_top_pct_supported": stats.highest_supported(len(latencies)),
            "rep_walls_s": [round(r["wall"], 3) for r in reps], "timed_s": round(timed_s, 3),
            "batch_s": [round(b, 3) for b in batch_s],
            "problems": problems[:5]}
    layer = {
        "spark.jobs_per_batch": jobs / max(1, len(batch_s)),
        "spark.tasks_per_batch": tasks / max(1, len(batch_s)),
        "router.files_written": files / N_BATCHES,
        "router.bytes_written": size / N_BATCHES,
    }
    if ctx.trace:
        layer.update(layers.span_metrics(ctx.tracer.spans, "pipeline.run"))
        sample = spark.read.parquet(staged[0]).limit(N_PROBE).repartition(ctx.cores)
        layer.update(ctx.probe(flagship.prepare_pages(spark.read.parquet(big)),
                               flagship.prepare_pages(sample),
                               flagship.flagship_pipeline(spark).filter_specs))
        traced = [r["wall"] for r in reps if r["traced"]]
        plain = [r["wall"] for r in reps if not r["traced"]]
        if traced and plain:
            layer["trace.overhead_s"] = stats.median(traced) - stats.median(plain)
            info["overhead_basis"] = f"{len(traced)} traced vs {len(plain)} untraced runs"
    for r in reps:
        shutil.rmtree(r["dir"], ignore_errors=True)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layer,
            "info": info}
