"""URL-level corpus filtering (FineWeb / C4-style): domain blocklists
with subdomain-suffix semantics plus banned-term URL scanning — the
stage a web-corpus pipeline runs BEFORE fetching or parsing a byte of
html, so it must be the cheapest op in the DAG.

Two strategies, picked by how the blocklist is passed (a list or a
DataFrame); both run in the JVM and give the same answers:

- **literal** (≤ ``LITERAL_CAP`` domains): the blocklist ships as ONE
  plan-literal array and matching is ``arrays_overlap`` over the
  host's label-suffix chain — a pure map, zero shuffle, whole-stage
  codegen. Right for curated lists (spam/SEO seeds, a few thousand).
- **join** (larger, e.g. UT1-class multi-million-domain lists): the
  host suffix chain explodes (≤ ``max_labels`` rows per url) into a
  broadcast hash semi-join against the blocklist DataFrame; blocked
  urls come back as one distinct set and the corpus anti-joins on
  url. Costs one shuffle on url — which the flagship's url-hash
  bucketing already co-locates, so at 10^12 docs the anti-join rides
  the existing partitioning instead of adding an exchange.

Suffix semantics: blocking ``bad.example`` also blocks every
subdomain (``www.bad.example``, ``a.b.bad.example``) but NOT
``notbad.example`` — matching is on whole dot-separated label
suffixes, never substrings. Hosts are lowercased; ports and
userinfo never reach the host (``try_parse_url HOST`` strips them).

Banned terms (C4's "bad words in url" rule) compile to a single
case-insensitive regex alternation over the full url — one automaton
pass regardless of term count.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LITERAL_CAP = 10_000
MAX_LABELS = 6


def host_suffix_chain(url: Column, max_labels: int = MAX_LABELS) -> Column:
    """array of the host's dot-joined label suffixes, shortest first:
    ``a.b.example.org`` → [org, example.org, b.example.org,
    a.b.example.org] (capped at ``max_labels`` labels; a blocklist entry with more
    labels than the cap can never match — raise the cap if you block
    deeper than 6 levels). Null/unparseable url → empty array."""
    # strip leading/trailing dots: 'example.org.' (an absolute DNS
    # name, accepted by every crawler/client as the same host) must
    # not bypass a blocklist entry 'example.org' (review finding)
    host = F.regexp_replace(
        F.lower(F.try_parse_url(url, F.lit("HOST"))), r"^\.+|\.+$", "")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    idx = F.sequence(F.lit(1), F.least(n, F.lit(max_labels)))
    chain = F.transform(
        idx, lambda i: F.array_join(F.slice(labels, n - i + 1, i), "."))
    return F.when(host.isNull() | (host == ""), F.array().cast(
        "array<string>")).otherwise(chain)


def banned_terms_pred(url: Column, terms: list[str]) -> Column:
    """True when any banned term appears anywhere in the url
    (case-insensitive, literal — terms are regex-escaped and fused
    into one alternation so n terms still cost one automaton pass)."""
    if not terms:
        return F.lit(False)
    pat = "(?i)(" + "|".join(
        re.escape(t) for t in sorted(terms, key=len, reverse=True)) + ")"
    return F.coalesce(url.rlike(pat), F.lit(False))


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    blocked_domains: list[str] | DataFrame | None = None,
    banned_terms: list[str] | None = None,
    mode: str = "flag",
    max_labels: int = MAX_LABELS,
) -> DataFrame:
    """Flag (``url_blocked`` boolean + ``url_block_reason``) or drop
    (``mode='drop'``) documents whose url hits the domain blocklist
    (suffix semantics) or contains a banned term.

    ``blocked_domains`` — a python list (literal strategy under
    LITERAL_CAP entries, loud error above it: pass a DataFrame
    instead) or a single-string-column DataFrame (join strategy).
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    url = F.col(url_col)
    chain = host_suffix_chain(url, max_labels)
    term_hit = banned_terms_pred(url, banned_terms or [])

    if blocked_domains is None:
        dom_hit = F.lit(False)
    elif isinstance(blocked_domains, DataFrame):
        bl_cols = blocked_domains.columns
        if len(bl_cols) != 1:
            raise ValueError(
                "blocked_domains DataFrame must have exactly one "
                f"string column, got {bl_cols}")
        # SAME normalization as the literal strategy (lowercase +
        # strip dots): '.bad.example' / 'bad.example.' are common in
        # hosts-format blocklist files and must match in both modes
        bl = (
            blocked_domains.select(
                F.regexp_replace(
                    F.lower(F.col(bl_cols[0])), r"^\.+|\.+$", ""
                ).alias("__bl_domain"))
            .filter(F.col("__bl_domain") != "")
            .distinct()
        )
        hits = (
            df.select(url.alias("__u"), F.explode(chain).alias("__sfx"))
            .join(F.broadcast(bl), F.col("__sfx") == F.col("__bl_domain"),
                  "left_semi")
            .select(F.col("__u").alias("__blocked_url"))
            .distinct()
        )
        df = df.join(
            hits, url == F.col("__blocked_url"), "left")
        dom_hit = F.col("__blocked_url").isNotNull()
    else:
        doms = sorted({d.lower().strip(".") for d in blocked_domains if d})
        if len(doms) > LITERAL_CAP:
            raise ValueError(
                f"{len(doms)} blocked domains exceeds the literal-"
                f"strategy cap ({LITERAL_CAP}); pass a DataFrame for "
                "the broadcast-join strategy")
        dom_hit = (F.arrays_overlap(chain, F.lit(doms))
                   if doms else F.lit(False))

    reason = (F.when(dom_hit, F.lit("domain_blocklist"))
              .when(term_hit, F.lit("banned_term")))
    df = df.withColumn("url_blocked", dom_hit | term_hit).withColumn(
        "url_block_reason", reason)
    if isinstance(blocked_domains, DataFrame):
        df = df.drop("__blocked_url")
    if mode == "drop":
        return df.filter(~F.col("url_blocked")).drop(
            "url_blocked", "url_block_reason")
    return df
