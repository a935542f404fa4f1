"""Deterministic synthetic fixtures (seed 42) — FIXTURES.md made real.

Reference counterpart: the ``generator`` input plugin
(logstash-input-generator:lib/logstash/inputs/generator.rb), which
Logstash's own benchmark CLI uses to synthesize load
(tools/benchmark-cli/.../cases/GeneratorToStdout.java). Here generation
is distributed: ``spark.range(n)`` + deterministic per-id hash
functions — no driver-side loops, no Python ``random`` state — so the
same (n, seed) always yields the same table at any parallelism, and a
bench-scale table (500k+ rows) generates in parallel.

Tables produced:
  pages(url, warc_ts, html binary, text, lang)       primary input
  geo_ranges(ip_start_int, ip_end_int, country, city, lat, lon)
  ua_rules(pattern, name, os, device, priority)
  domain_dict(key, category, trust)
  tld_suffixes(suffix)
  access_logs(message)                               grok parity corpus
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .extract import extract_text
from .session import local_frame

SEED = 42
N_DOMAINS = 1000
ZIPF_S = 1.2

LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt", "it", "nl", "und"]
# en-heavy skew per FIXTURES.md (en ≈ 55%)
LANG_WEIGHTS = np.array([0.55, 0.09, 0.07, 0.06, 0.05, 0.04, 0.04, 0.03, 0.03, 0.02, 0.02])
LANG_CUM = np.cumsum(LANG_WEIGHTS / LANG_WEIGHTS.sum())

TLDS = ["com", "org", "net", "io", "de", "fr", "co.uk", "jp", "ru", "edu"]

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega data page crawl web "
    "index search query result link anchor title body header footer section "
    "article fast slow large small open close read write north south east west"
).split()

CJK_SNIPPETS = ["数据处理引擎", "ウェブページの解析", "распределённые системы", "🚀 emoji ✨ row"]

USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0) Mobile/15E148 Safari/604.1",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "curl/8.4.0",
]


def _hash_u64(ids: np.ndarray, salt: int) -> np.ndarray:
    """Vectorized splitmix64-style mix — deterministic per (id, salt)."""
    k = (salt * 0x9E3779B97F4A7C15 + SEED) & 0xFFFFFFFFFFFFFFFF
    x = ids.astype(np.uint64) + np.uint64(k)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(31)
    return x


def _uniform(ids: np.ndarray, salt: int) -> np.ndarray:
    return _hash_u64(ids, salt).astype(np.float64) / float(2**64)


# Zipf(s=1.2) cumulative distribution over domain ranks 1..N_DOMAINS.
_ZIPF_W = 1.0 / np.power(np.arange(1, N_DOMAINS + 1, dtype=np.float64), ZIPF_S)
_ZIPF_CUM = np.cumsum(_ZIPF_W / _ZIPF_W.sum())


def _domain_name(rank: int) -> str:
    return f"site{rank:04d}.{TLDS[rank % len(TLDS)]}"


_HTML_TEMPLATES = [
    # (head_extra, body_fmt) — {title} {nav} {paras} {script} are filled in.
    "<!DOCTYPE html><html><head><title>{title}</title><style>body{{font:12px}}</style>"
    "</head><body><nav>{nav}</nav>{script}{paras}<footer>&copy; 2026 Example &amp; Co.</footer>"
    "</body></html>",
    "<html><head><title>{title}</title></head><body><header><h1>{title}</h1></header>"
    "{paras}<script>var x = 1 &amp;&amp; 2;</script><div>tail &#x27;quoted&#x27;</div></body></html>",
    "<html><body><!-- hidden comment -->{nav}<article><h2>{title}</h2>{paras}</article>"
    "<aside>side &lt;bar&gt;</aside></body></html>",
    "<html><head><script src='a.js'>ignore()</script><title>{title}</title></head>"
    "<body>{paras}<table><tr><td>cell A</td><td>cell &amp; B</td></tr></table></body></html>",
    "<html><body><main><p><b>{title}</b> inline <i>markup</i> glue</p>{paras}</main>"
    "<noscript>enable js</noscript></body></html>",
]


def _render_html(i: int, para_scale: int = 1) -> bytes:
    h = int(_hash_u64(np.array([i]), 7)[0])
    tpl = _HTML_TEMPLATES[h % len(_HTML_TEMPLATES)]
    n_paras = (2 + (h >> 8) % 5) * para_scale
    paras = []
    for p in range(n_paras):
        ph = int(_hash_u64(np.array([i * 31 + p]), 11)[0])
        words = [WORDS[(ph >> (4 * k)) % len(WORDS)] for k in range(8)]
        paras.append("<p>" + " ".join(words) + f" #{(ph % 997)}</p>")
    if h % 7 == 0:
        paras.append("<p>" + CJK_SNIPPETS[(h >> 16) % len(CJK_SNIPPETS)] + "</p>")
    title = f"Page {i} — {WORDS[h % len(WORDS)]}"
    nav = "<ul><li>home</li><li>about</li></ul>"
    script = "<script>track(1 < 2);</script>" if h % 3 == 0 else ""
    return tpl.format(title=title, nav=nav, paras="".join(paras), script=script).encode("utf-8")


def gen_pages(
    spark: SparkSession, n: int, partitions: int | None = None, para_scale: int = 1
) -> DataFrame:
    """Distributed deterministic pages table (url, warc_ts, html, text, lang).

    ``text`` is the reference column: the oracle extractor applied to
    ``html`` at generation time (FIXTURES.md §1) — the engine must
    reproduce it byte-for-byte. ``para_scale`` multiplies paragraph
    count (1 → ~0.6 KB toy pages for unit tests; ~40 → ~20 KB
    Common-Crawl-realistic pages for benchmarks). Default 1 keeps every
    existing fixture byte-identical.
    """
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, 1, partitions)

    schema = "id long, url string, warc_ts timestamp, html binary, text string, lang string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            dom_rank = np.searchsorted(_ZIPF_CUM, _uniform(ids, 1), side="right")
            lang_idx = np.searchsorted(LANG_CUM, _uniform(ids, 2), side="right")
            lang_idx = np.clip(lang_idx, 0, len(LANGS) - 1)
            path_h = _hash_u64(ids, 3)
            urls = [
                f"https://{_domain_name(int(r))}/{WORDS[int(p) % len(WORDS)]}/"
                f"{WORDS[(int(p) >> 8) % len(WORDS)]}-{int(i)}"
                for r, p, i in zip(dom_rank, path_h, ids)
            ]
            ts = pd.Timestamp("2026-01-01T00:00:00Z").tz_localize(None) + pd.to_timedelta(
                ids, unit="s"
            )
            htmls = [_render_html(int(i), para_scale) for i in ids]
            texts = [extract_text(hb) for hb in htmls]
            yield pd.DataFrame(
                {
                    "id": ids,
                    "url": urls,
                    "warc_ts": ts,
                    "html": htmls,
                    "text": texts,
                    "lang": [LANGS[int(k)] for k in lang_idx],
                }
            )

    return base.mapInPandas(gen, schema=schema).drop("id")


def gen_geo_ranges(spark: SparkSession, n: int = 500) -> DataFrame:
    """Non-overlapping ip ranges covering [0, 2^32) in n contiguous slabs."""
    countries = ["US", "DE", "FR", "CN", "RU", "JP", "BR", "IN", "GB", "NL"]
    cities = ["Springfield", "Berlin", "Paris", "Beijing", "Moscow", "Tokyo",
              "Sao Paulo", "Mumbai", "London", "Amsterdam"]
    width = 2**32 // n
    rows = []
    for k in range(n):
        h = int(_hash_u64(np.array([k]), 21)[0])
        c = h % len(countries)
        rows.append(
            (
                k * width,
                (k + 1) * width - 1,
                countries[c],
                cities[c],
                round(-60 + (h % 12000) / 100.0, 2),
                round(-180 + ((h >> 16) % 36000) / 100.0, 2),
            )
        )
    return local_frame(
        spark, rows, "ip_start_int long, ip_end_int long, country string, city string, lat double, lon double"
    )


def gen_ua_rules(spark: SparkSession) -> DataFrame:
    """Deterministic useragent classification rules (regex dim, priority order)."""
    rules = [
        (r"Googlebot", "Googlebot", "Other", "Spider", 0),
        (r"curl/", "curl", "Other", "Other", 1),
        (r"iPhone", "Mobile Safari", "iOS", "iPhone", 2),
        (r"Chrome/", "Chrome", "Windows", "Other", 3),
        (r"Firefox/", "Firefox", "Linux", "Other", 4),
        (r"Safari/", "Safari", "Mac OS X", "Other", 5),
    ]
    return local_frame(
        spark, rules, "pattern string, name string, os string, device string, priority int"
    )


def gen_domain_dict(spark: SparkSession, n: int = N_DOMAINS) -> DataFrame:
    """translate-style dictionary: domain → (category, trust). ~10% misses."""
    cats = ["news", "blog", "shop", "docs", "social", "forum"]
    rows = []
    for r in range(n):
        h = int(_hash_u64(np.array([r]), 33)[0])
        if h % 10 == 0:
            continue  # deliberate dictionary misses → fallback path
        rows.append((_domain_name(r), cats[h % len(cats)], round((h % 1000) / 1000.0, 3)))
    return local_frame(spark, rows, "key string, category string, trust double")


def gen_tld_suffixes(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [(t,) for t in TLDS], "suffix string")


def gen_access_logs(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Apache combined-format lines + ~3% malformed rows (grok corpus)."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, 1, partitions)
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
              "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    methods = ["GET", "POST", "PUT", "DELETE", "HEAD"]
    statuses = [200, 200, 200, 301, 304, 404, 500]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = []
            for i in ids:
                h = int(_hash_u64(np.array([int(i)]), 51)[0])
                if h % 33 == 0:  # ~3% malformed
                    out.append(f"!!corrupt line {int(i)} without structure")
                    continue
                ip = f"{(h >> 0) % 223 + 1}.{(h >> 8) % 256}.{(h >> 16) % 256}.{(h >> 24) % 254 + 1}"
                day = (h >> 3) % 28 + 1
                mon = months[(h >> 9) % 12]
                hh, mm, ss = (h >> 13) % 24, (h >> 18) % 60, (h >> 24) % 60
                method = methods[(h >> 30) % len(methods)]
                path = f"/{WORDS[(h >> 34) % len(WORDS)]}/{WORDS[(h >> 40) % len(WORDS)]}.html"
                status = statuses[(h >> 46) % len(statuses)]
                size = (h >> 50) % 50000
                ua = USER_AGENTS[(h >> 55) % len(USER_AGENTS)]
                out.append(
                    f'{ip} - frank [{day:02d}/{mon}/2026:{hh:02d}:{mm:02d}:{ss:02d} +0000] '
                    f'"{method} {path} HTTP/1.1" {status} {size} "http://referrer.example/" "{ua}"'
                )
            yield pd.DataFrame({"message": out})

    return base.mapInPandas(gen, schema="message string")
