"""Seeded input generators for the benchmark workloads.

The engine's own fixtures (``logstash_spark.datagen``) take no seed, so
the benchmark owns its generators: every id is offset by the workload
seed, and every random choice is a splitmix64 hash of (id, salt), so the
same seed always yields byte-identical inputs. Generation is pure
numpy + pyarrow in the benchmark process: it never touches the Spark JVM,
so staging can neither warm the engine up nor slow it down.

Pages carry their own ``text`` oracle column, built from the same parts
as the html rather than by running the engine's extractor over it.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logstash_spark.datagen import (
    LANG_CUM, LANGS, N_DOMAINS, USER_AGENTS, WORDS, _ZIPF_CUM, _domain_name,
    _hash_u64, _uniform,
)

ID_STRIDE = 10_000_000  # ids of seed s are s * ID_STRIDE + [0, n)
PARA_POOL = 4096
CACHE_ENTRIES = 12  # staged inputs kept (most recently used): ten seeds of each workload
STAGE_WORKERS = 4  # forked processes that write staged files


def seed_ids(seed: int, start: int, n: int) -> np.ndarray:
    return np.arange(start, start + n, dtype=np.int64) + np.int64(seed) * ID_STRIDE


# ---- pages ------------------------------------------------------------------

_CJK = ["数据处理引擎", "ウェブページの解析", "распределённые системы"]
_HEAD = ("<!DOCTYPE html><html><head><title>Page {id}</title>"
         "<style>body{{font:12px}}</style><script>track(1 < 2);</script>"
         "</head><body><nav><ul><li>home</li><li>about</li></ul></nav>"
         "<!-- generated -->")
_FOOT = "<footer>&copy; 2026 Example &amp; Co.</footer></body></html>"
_HEAD_TEXT = "Page {id}\nhome\nabout"
_FOOT_TEXT = "© 2026 Example & Co."


def paragraph_pool(seed: int) -> tuple[list[str], list[str]]:
    """(html, text) pairs for PARA_POOL paragraphs of 16-23 words. Inline
    markup and entities exercise the extractor; the text side is what a
    correct extractor must produce for the html side."""
    ids = seed_ids(seed, 0, PARA_POOL)
    h = _hash_u64(ids, 11)
    html, text = [], []
    for k in range(PARA_POOL):
        hk = int(h[k])
        n = 16 + hk % 8
        words = [WORDS[int(w) % len(WORDS)]
                 for w in _hash_u64(np.arange(n, dtype=np.int64) + int(ids[k]) * 32, 12)]
        t_words = list(words)
        if hk % 5 == 0:
            words[1] = f"<b>{words[1]}</b>"
        if hk % 7 == 0:
            words[2] = "&amp;"
            t_words[2] = "&"
        if hk % 11 == 0:
            words[3] = t_words[3] = _CJK[hk % len(_CJK)]
        html.append("<p>" + " ".join(words) + "</p>")
        text.append(" ".join(t_words))
    return html, text


def pages_table(seed: int, start: int, n: int, para_scale: int,
                pool: tuple[list[str], list[str]]) -> pa.Table:
    """Rows ``start .. start+n`` of the seeded pages corpus:
    (url, warc_ts, html, text, lang) — the ``datagen.gen_pages`` shape."""
    ids = seed_ids(seed, start, n)
    rank = np.minimum(np.searchsorted(_ZIPF_CUM, _uniform(ids, 1), side="right"),
                      N_DOMAINS - 1)
    lang = np.minimum(np.searchsorted(LANG_CUM, _uniform(ids, 2), side="right"),
                      len(LANGS) - 1)
    path_h = _hash_u64(ids, 3)
    n_paras = (2 + _hash_u64(ids, 4) % np.uint64(5)).astype(np.int64) * para_scale
    p_html, p_text = pool
    urls, htmls, texts = [], [], []
    for j in range(n):
        i = int(ids[j])
        ph = int(path_h[j])
        urls.append(f"https://{_domain_name(int(rank[j]))}/{WORDS[ph % len(WORDS)]}/"
                    f"{WORDS[(ph >> 8) % len(WORDS)]}-{i}")
        picks = (_hash_u64(np.arange(n_paras[j], dtype=np.int64) + i * 512, 5)
                 % np.uint64(PARA_POOL)).tolist()
        htmls.append((_HEAD.format(id=i) + "".join([p_html[p] for p in picks])
                       + _FOOT).encode())
        texts.append("\n".join([_HEAD_TEXT.format(id=i)] + [p_text[p] for p in picks]
                               + [_FOOT_TEXT]))
    ts = (np.datetime64("2026-01-01T00:00:00", "us")
          + (ids - ids[0] + start).astype("timedelta64[s]"))
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(k)] for k in lang], pa.string()),
    })


# ---- Apache access logs -----------------------------------------------------

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
_STATUSES = [200, 200, 200, 301, 304, 404, 500]
STATUS_RE = re.compile(r'^\S+ \S+ \S+ \[[^\]]+\] "[^"]*" ([1-5])\d\d ')


def log_lines(seed: int, start: int, n: int) -> list[str]:
    """Apache combined-format lines, ~3% malformed (the
    ``datagen.gen_access_logs`` shape)."""
    ids = seed_ids(seed, start, n)
    out = []
    for i, h in zip(ids.tolist(), _hash_u64(ids, 51).tolist()):
        if h % 33 == 0:
            out.append(f"!!corrupt line {i} without structure")
            continue
        ip = f"{h % 223 + 1}.{(h >> 8) % 256}.{(h >> 16) % 256}.{(h >> 24) % 254 + 1}"
        mon = _MONTHS[(h >> 9) % 12]
        path = f"/{WORDS[(h >> 34) % len(WORDS)]}/{WORDS[(h >> 40) % len(WORDS)]}.html"
        out.append(
            f'{ip} - frank [{(h >> 3) % 28 + 1:02d}/{mon}/2026:{(h >> 13) % 24:02d}:'
            f'{(h >> 18) % 60:02d}:{(h >> 24) % 60:02d} +0000] '
            f'"{_METHODS[(h >> 30) % len(_METHODS)]} {path} HTTP/1.1" '
            f'{_STATUSES[(h >> 46) % len(_STATUSES)]} {(h >> 50) % 50000} '
            f'"http://referrer.example/" "{USER_AGENTS[(h >> 55) % len(USER_AGENTS)]}"')
    return out


def status_class(line: str) -> str | None:
    """Oracle: '2xx' .. '5xx' by regex over the raw line, None if malformed."""
    m = STATUS_RE.match(line)
    return f"{m.group(1)}xx" if m else None


# ---- staging ----------------------------------------------------------------

def stage(root: str, key: str, n_files: int, make_file) -> str:
    """Write ``n_files`` parquet files from ``make_file(k) -> pa.Table``
    under ``root/key`` once. The directory is renamed into place only
    after every file is written, so a killed run never leaves a
    half-staged input that a later run would trust."""
    final = os.path.join(root, key)
    if os.path.isdir(final):
        os.utime(final)
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _forked(n_files, lambda k: pq.write_table(
            make_file(k), os.path.join(tmp, f"part-{k:05d}.parquet"), compression="snappy"))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    with open(os.path.join(tmp, "_STAGED.json"), "w") as f:
        json.dump({"key": key, "files": n_files}, f)
    os.rename(tmp, final)
    _evict(root)
    return final


def _forked(n: int, fn) -> None:
    """Run ``fn(0) .. fn(n-1)`` spread over up to STAGE_WORKERS forked
    children. The generated strings live and die in the children, so the
    benchmark process's memory, part of ``peak_rss_mb``, does not depend
    on whether the staging cache hit."""
    ctx = multiprocessing.get_context("fork")
    workers = max(1, min(STAGE_WORKERS, n))
    procs = [ctx.Process(target=lambda w=w: [fn(k) for k in range(w, n, workers)])
             for w in range(workers)]
    for proc in procs:
        proc.start()
    for proc in procs:
        proc.join()
    failed = [proc.exitcode for proc in procs if proc.exitcode]
    if failed:
        raise RuntimeError(f"staging: {len(failed)} generator process(es) failed: {failed}")


def _evict(root: str) -> None:
    """Drop all but the CACHE_ENTRIES most recently used staged inputs."""
    staged = [os.path.join(root, n) for n in os.listdir(root)
              if os.path.isfile(os.path.join(root, n, "_STAGED.json"))]
    staged.sort(key=os.path.getmtime, reverse=True)
    for path in staged[CACHE_ENTRIES:]:
        shutil.rmtree(path, ignore_errors=True)
