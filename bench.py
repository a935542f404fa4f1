"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline workloads:

* ``flagship_e2e``   — the north-rule pipeline (extract html→text, url
  parse, tld, geoip range join, useragent, translate, fingerprint,
  fan-out route to 3 sinks + DLQ with per-sink counts) over a
  deterministic synthetic pages table (seed 42), parquet-staged so the
  bench measures the pipeline, not the generator.
* ``apache_grok_complex`` — grok COMBINEDAPACHELOG + date + geoip +
  useragent over synthetic Apache access logs: the Spark re-expression
  of the reference's benchmark-cli `apache` case
  (tools/benchmark-cli/.../cases/ApacheLogsComplex.java).
* relational / dedup / similarity / textstats headliners from the
  driver suite at $SPARK_GRAFT_SF_DIR.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default all cores), BENCH_PAGES (default 60000),
BENCH_LOGS (default 300000), BENCH_TRIALS (default 3).

Methodology: every workload is timed BENCH_TRIALS times in round-robin
passes (pass 1 runs all queries, then pass 2 …) and the per-query
MINIMUM is reported; the headline value is the sum of minima. Same
round-robin best-of-N methodology as scripts/scale_bench.py: this VM
shows transient host-contention stalls up to 10× on back-to-back
identical runs (observed 66 s vs 10 s for the same flagship job in one
process; /proc/stat shows ~3.5% average CPU steal with multi-minute
bursts), and a single-shot sample would grade the stall, not the
engine. The JSON reports the trial count and per-query all-trials
readings so the noise rejection is visible, not silent.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PAGES = int(os.environ.get("BENCH_PAGES", "60000"))
# ~20 KB/doc pages: 60k docs ≈ 1.2 GB html — large enough that the
# per-run fixed overhead (~4 s of job scheduling/persist bookkeeping)
# stops dominating the MB/s number
N_FAT = int(os.environ.get("BENCH_FAT_PAGES", "60000"))
N_LOGS = int(os.environ.get("BENCH_LOGS", "300000"))
STAGE_DIR = os.environ.get("BENCH_STAGE_DIR", "/tmp/logstash_spark_bench")


def _sf_from_dir(d: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1).rstrip(".")) if m else -1.0


def stage_inputs(spark):
    """Generate deterministic inputs once; reuse across bench runs."""
    from logstash_spark.datagen import gen_access_logs, gen_pages

    pages_path = f"{STAGE_DIR}/pages_{N_PAGES}"
    fat_path = f"{STAGE_DIR}/pages_{N_FAT}_ps40"
    logs_path = f"{STAGE_DIR}/logs_{N_LOGS}"
    warm_path = f"{STAGE_DIR}/pages_warm_2000"
    if not os.path.exists(pages_path + "/_SUCCESS"):
        gen_pages(spark, N_PAGES).write.mode("overwrite").parquet(pages_path)
    if not os.path.exists(fat_path + "/_SUCCESS"):
        gen_pages(spark, N_FAT, para_scale=40).write.mode("overwrite").parquet(fat_path)
    if not os.path.exists(logs_path + "/_SUCCESS"):
        gen_access_logs(spark, N_LOGS).write.mode("overwrite").parquet(logs_path)
    if not os.path.exists(warm_path + "/_SUCCESS"):
        gen_pages(spark, 2000).write.mode("overwrite").parquet(warm_path)
    return pages_path, fat_path, logs_path, warm_path


def bench_flagship(spark, pages_path, n_expected, run_dir):
    from logstash_spark.flagship import run_flagship

    pages = spark.read.parquet(pages_path)
    metrics = run_flagship(spark, pages, run_dir, n_buckets=64, n_batches=1)
    assert metrics.events_in == n_expected, metrics.events_in
    return metrics


def bench_apache(spark, logs_path):
    from pyspark.sql import functions as F

    from logstash_spark.datagen import gen_geo_ranges, gen_ua_rules
    from logstash_spark.stages.base import apply_stage

    logs = spark.read.parquet(logs_path)
    df = apply_stage(logs, {"grok": {"match": {"message": "%{COMBINEDAPACHELOG}"}}})
    df = apply_stage(
        df, {"date": {"match": ["timestamp", "dd/MMM/yyyy:HH:mm:ss Z"],
                      "target": "event_ts"}}
    )
    df = apply_stage(
        df, {"geoip": {"source": "clientip", "ranges_df": gen_geo_ranges(spark, 500)}}
    )
    df = apply_stage(df, {"useragent": {"source": "agent", "rules_df": gen_ua_rules(spark)}})
    # force full evaluation of every enriched column
    n = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("event_ts").alias("n_ts"),
        F.count("geo.country").alias("n_geo"),
        F.count("ua.name").alias("n_ua"),
    ).collect()[0]
    assert n["n"] == N_LOGS
    return dict(n.asDict())


def bench_span_stats(spark):
    """Substring-level dedup accounting over the sf documents table —
    forces the dup counters so the groupBy+join actually evaluate."""
    from pyspark.sql import functions as F

    from logstash_spark.datapipe import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = (
        dedup.duplicated_span_stats(docs, span_k=8)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("total_windows").alias("tw"),
            F.sum("dup_windows").alias("dw"),
        )
        .collect()[0]
    )
    dedup.release_dedup_caches()
    return dict(row.asDict())


def bench_decontaminate(spark):
    """13-gram benchmark decontamination over the sf documents table
    (benchmark = a 1-in-97 slice of the corpus)."""
    from pyspark.sql import functions as F

    from logstash_spark.datapipe import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    row = (
        dedup.decontaminate(docs, bench)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_contaminated").alias("hits"),
            F.sum(F.col("contaminated").cast("long")).alias("docs_hit"),
        )
        .collect()[0]
    )
    return dict(row.asDict())


def bench_pii_scrub(spark, pages_path):
    """Dolma-style PII scrub (email/ipv4/phone masks + counts) over the
    staged pages corpus text — a pure JVM regexp map stage; the agg
    forces both the counts and the scrubbed bytes."""
    from pyspark.sql import functions as F

    from logstash_spark.datapipe import pii

    pages = spark.read.parquet(pages_path).select("url", "text")
    row = (
        pii.scrub_pii(pages)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pii_total_count").alias("hits"),
            F.sum(F.octet_length("text")).alias("out_bytes"),
        )
        .collect()[0]
    )
    return dict(row.asDict())


def bench_line_dedup(spark):
    """C4-style corpus-wide duplicate-line removal over the sf
    documents table; the agg forces the rewrite and the audit counts."""
    from pyspark.sql import functions as F

    from logstash_spark.datapipe import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = (
        dedup.dedup_lines(docs.select("doc_id", "text"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_removed").alias("removed"),
            F.sum(F.octet_length("text")).alias("out_bytes"),
        )
        .collect()[0]
    )
    return dict(row.asDict())


def bench_unigram_logprob(spark):
    """Self-trained unigram-LM scoring over the sf documents table."""
    from pyspark.sql import functions as F

    from logstash_spark.datapipe import dedup, textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = (
        textstats.unigram_logprob(docs)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("toks"),
            F.sum("mean_logprob").alias("lp"),
        )
        .collect()[0]
    )
    dedup.release_dedup_caches()
    return dict(row.asDict())


def main():
    from logstash_spark.session import get_spark
    from logstash_spark import suite

    # bench-only heap tuning (not a library default): the local-mode
    # driver JVM hosts all task slots and GC-thrashes at 1g under ≥16
    # concurrent parquet writers + persisted batches.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else None
    spark = get_spark(
        "bench", master=master,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages_path, fat_path, logs_path, warm_path = stage_inputs(spark)

    # untimed warmup (same methodology as scale_bench): a cluster job
    # amortizes JIT/codegen/python-worker startup over hours — the first
    # timed query must not be charged ~10 s of one-off JVM warmup
    bench_flagship(spark, warm_path, 2000, f"{STAGE_DIR}/warm_run")

    extra: dict[str, float] = {}

    suite_queries = [
        "pricing_summary",
        "top_customers",
        "events_rollup_hierarchy",
        "route_sink_counts",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "textstats_quality",
        "similarity_topk_battery",
    ]
    workloads: list[tuple[str, object]] = [
        ("flagship_e2e", lambda: bench_flagship(
            spark, pages_path, N_PAGES, f"{STAGE_DIR}/flagship_run")),
        # Common-Crawl-realistic page sizes (~20 KB html/doc)
        ("flagship_e2e_fatpages", lambda: bench_flagship(
            spark, fat_path, N_FAT, f"{STAGE_DIR}/flagship_fat_run")),
        ("apache_grok_complex", lambda: bench_apache(spark, logs_path)),
        ("dedup_span_stats", lambda: bench_span_stats(spark)),
        ("unigram_logprob", lambda: bench_unigram_logprob(spark)),
        ("decontaminate", lambda: bench_decontaminate(spark)),
        ("pii_scrub", lambda: bench_pii_scrub(spark, pages_path)),
        ("dedup_lines", lambda: bench_line_dedup(spark)),
    ] + [
        (name, lambda f=suite.QUERIES[name]: f(spark, SF_DIR).collect())
        for name in suite_queries
    ]

    trials = max(1, int(os.environ.get("BENCH_TRIALS", "3")))
    readings: dict[str, list[float]] = {name: [] for name, _ in workloads}
    for _ in range(trials):
        for name, fn in workloads:
            t0 = time.monotonic()
            fn()
            readings[name].append(round(time.monotonic() - t0, 3))

    timings = {name: min(ts) for name, ts in readings.items()}

    extra["flagship_docs_per_sec"] = round(N_PAGES / timings["flagship_e2e"], 1)
    # MB basis = UNCOMPRESSED html bytes (codec-invariant): on-disk
    # parquet size varies 3× between a zstd- and snappy-staged corpus
    # of identical logical data, which silently rescaled MB/s across
    # rounds. The corpus is seed-deterministic, so this basis is
    # comparable across all rounds.
    from pyspark.sql import functions as _F

    fat_mb = (
        spark.read.parquet(fat_path)
        .select(_F.sum(_F.octet_length("html")))
        .collect()[0][0]
    ) / 1e6
    extra["fatpages_html_mb"] = round(fat_mb, 1)
    extra["fatpages_docs_per_sec"] = round(N_FAT / timings["flagship_e2e_fatpages"], 1)
    extra["fatpages_mb_per_sec"] = round(fat_mb / timings["flagship_e2e_fatpages"], 2)
    extra["apache_events_per_sec"] = round(N_LOGS / timings["apache_grok_complex"], 1)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "bench_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "throughput": extra,
        "trials": trials,
        "readings": readings,
        "n_pages": N_PAGES,
        "n_logs": N_LOGS,
        "parallelism": spark.sparkContext.defaultParallelism,
    }))


if __name__ == "__main__":
    main()
