"""The flagship parse → enrich → route pipeline over the pages table.

This is the end-to-end slice the north rule grades (BASELINE.json):
extract text from html (byte-identical), parse url structure, enrich
with geoip/useragent/translate broadcast lookups, fingerprint, and
fan-out route to lang-based + trust-based sinks with a dead-letter
branch — the Spark re-expression of Logstash's benchmark `apache` case
(tools/benchmark-cli/.../cases/ApacheLogsComplex.java: grok + date +
geoip + useragent), adapted to the web-pages payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import TLDS, USER_AGENTS, gen_domain_dict, gen_geo_ranges, gen_ua_rules
from .pipeline import Pipeline

SINK_SELECT = [
    "url", "event_ts", "domain", "tld", "path", "lang", "text",
    "ip", "geo", "ua", "dominfo", "fingerprint", "tags",
]


_DIM_CACHE: dict[int, tuple] = {}


def _dims(spark: SparkSession):
    """Dimension fixtures built once per session (a real deployment
    loads geo/ua/dict dims once, not per micro-batch)."""
    key = id(spark)
    if key not in _DIM_CACHE:
        _DIM_CACHE.clear()
        _DIM_CACHE[key] = (
            gen_geo_ranges(spark, 500),
            gen_ua_rules(spark),
            gen_domain_dict(spark),
        )
    return _DIM_CACHE[key]


def flagship_pipeline(spark: SparkSession) -> Pipeline:
    geo, ua, ddict = _dims(spark)
    spec = {
        "id": "web_pages",
        "filters": [
            # html is huge — extract first, drop it before anything shuffles
            {"extract_text": {"source": "html", "target": "text", "drop_source": True}},
            {"parse_url": {}},
            {"tld": {"source": "url", "suffixes": TLDS}},
            {"synth_ip": {"source": "url"}},
            {"geoip": {"source": "ip", "ranges_df": geo}},
            {"useragent": {"source": "agent", "rules_df": ua}},
            {"translate": {"source": "domain", "target": "dominfo",
                           "dictionary_df": ddict, "tag_on_miss": "_translation_miss"}},
            {"fingerprint": {"source": ["url", "text"], "method": "SHA256",
                             "concatenate_sources": True,
                             "target": "fingerprint"}},
            {"mutate": {"copy": {"warc_ts": "event_ts"}}},
        ],
        "outputs": [
            {"name": "sink_en", "when": "[lang] == 'en'", "select": SINK_SELECT},
            {"name": "sink_i18n", "when": "[lang] != 'en' and [lang] != 'und'",
             "select": SINK_SELECT},
            {"name": "sink_highvalue", "when": "[dominfo][trust] > 0.8",
             "select": SINK_SELECT},
            {"name": "dead_letter", "dlq": True},
        ],
    }
    return Pipeline(spec)


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Input prep: drop the oracle text column (the engine recomputes it)
    and attach the deterministic synthetic agent string (crc32-derived,
    reproducible in the pandas reference)."""
    agent = F.element_at(
        F.array(*[F.lit(u) for u in USER_AGENTS]),
        (F.pmod(F.crc32(F.concat(F.col("url"), F.lit("#ua"))), F.lit(len(USER_AGENTS))) + 1
         ).cast("int"),
    )
    return pages.drop("text").withColumn("agent", agent)


def run_flagship(
    spark: SparkSession,
    pages: DataFrame,
    run_dir: str,
    n_buckets: int = 32,
    n_batches: int = 1,
    resume: bool = False,
    **kw,
):
    pipe = flagship_pipeline(spark)
    return pipe.run(
        prepare_pages(pages), run_dir,
        bucket_on="url", n_buckets=n_buckets, n_batches=n_batches, resume=resume, **kw,
    )


def flagship_df(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """The compiled chain without sinks (driver smoke entry)."""
    pipe = flagship_pipeline(spark)
    return pipe.compile(prepare_pages(pages))
