"""Independent output oracles.

Expected per-sink counts come from the generated input alone — plain
Spark column expressions (no engine stage) for the pages, the raw-line
status regex for the logs — and are compared with what the engine wrote.
Extracted page text is compared with the generator's own text column.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

from . import gen

PAGE_SINKS = ["sink_en", "sink_i18n", "sink_highvalue", "dead_letter"]
LOG_SINKS = {"2xx": "status_2xx", "3xx": "status_3xx", "4xx": "status_4xx",
             "5xx": "status_5xx", None: "dead_letter"}


def page_bucket_counts(spark, staged: str, dictionary, n_buckets: int) -> dict[int, dict[str, int]]:
    """bucket → expected rows per flagship sink, by plain Spark over the
    staged pages: lang decides en/i18n, the dictionary's trust decides
    highvalue, and a domain missing from the dictionary (the only
    failure tag these inputs can raise) sends a row to dead_letter."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(staged).select(
        "url", "lang",
        F.regexp_extract("url", r"^https?://([^/:]+)", 1).alias("key"))
    joined = pages.join(dictionary.select("key", "trust"), "key", "left")
    rows = joined.groupBy(
        F.pmod(F.xxhash64("url"), F.lit(n_buckets)).alias("b")).agg(
        F.sum((F.col("lang") == "en").cast("int")).alias("sink_en"),
        F.sum((~F.col("lang").isin("en", "und")).cast("int")).alias("sink_i18n"),
        F.sum(F.coalesce(F.col("trust") > 0.8, F.lit(False)).cast("int")).alias("sink_highvalue"),
        F.sum(F.col("trust").isNull().cast("int")).alias("dead_letter"),
    ).collect()
    out = {b: dict.fromkeys(PAGE_SINKS, 0) for b in range(n_buckets)}
    for r in rows:
        out[r["b"]] = {s: int(r[s]) for s in PAGE_SINKS}
    return out


def sum_buckets(per_bucket: dict[int, dict[str, int]], buckets) -> dict[str, int]:
    total: dict[str, int] = {}
    for b in buckets:
        for s, n in per_bucket[b].items():
            total[s] = total.get(s, 0) + n
    return total


def sink_bucket_rows(run_dir: str, sink: str) -> dict[int, int]:
    """bucket → rows on disk for a bucket-partitioned path sink (row
    counts come from the parquet footers)."""
    path = os.path.join(run_dir, sink)
    out: dict[int, int] = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        if d.startswith("bucket="):
            part = ds.dataset(os.path.join(path, d), format="parquet")
            out[int(d.split("=", 1)[1])] = part.count_rows()
    return out


def batch_disagreements(expected: dict[str, int], got: dict[str, int]) -> list[str]:
    return [f"{s}: expected {n}, got {got.get(s)}" for s, n in expected.items()
            if got.get(s) != n]


def text_mismatches(spark, run_dir: str, staged: str) -> tuple[int, int]:
    """(rows compared, rows whose extracted ``text`` differs byte for
    byte from the generator's text) over the language sinks, by plain
    Spark: SHA-256 of each side's text, joined on url."""
    from pyspark.sql import functions as F

    want = spark.read.parquet(staged).select("url", F.sha2("text", 256).alias("want"))
    got = None
    for sink in ("sink_en", "sink_i18n"):
        part = spark.read.parquet(os.path.join(run_dir, sink)).select(
            "url", F.sha2("text", 256).alias("got"))
        got = part if got is None else got.unionByName(part)
    differs = F.col("want").isNull() | ~F.col("got").eqNullSafe(F.col("want"))
    row = got.join(want, "url", "left").agg(
        F.count(F.lit(1)).alias("seen"),
        F.coalesce(F.sum(differs.cast("int")), F.lit(0)).alias("bad")).first()
    return int(row["seen"]), int(row["bad"])


def log_counts(lines) -> dict[str, int]:
    """Expected rows per log sink from the raw lines: the status class by
    regex, and malformed lines to the dead letter queue."""
    out = dict.fromkeys(LOG_SINKS.values(), 0)
    for line in lines:
        out[LOG_SINKS[gen.status_class(line)]] += 1
    return out


def distinct_ids(run_dir: str) -> tuple[int, int]:
    """(rows, distinct event ids) across every log sink."""
    ids = []
    for sink in LOG_SINKS.values():
        path = os.path.join(run_dir, sink)
        if not os.path.isdir(path):
            continue
        col = "original" if sink == "dead_letter" else "event_id"
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=[col])
        vals = t.column(col).to_pylist()
        if sink == "dead_letter":
            vals = [v["event_id"] for v in vals]
        ids.extend(vals)
    return len(ids), len(set(ids))
