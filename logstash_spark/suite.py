"""Driver-contract query suite: engine queries + DuckDB oracle SQL.

Every entry exercises one operator family from SURVEY.md §2 through the
REAL engine code path (stage classes / datapipe functions), over the
driver's parquet tables (region nation customer supplier part orders
lineitem events documents embeddings). For each query there is an
ANSI-SQL oracle that DuckDB runs on the same tables; the driver compares
row counts, schemas and order-insensitive value hashes.

Float discipline (so hashes match bit-for-bit):
* money/metrics sums are computed in integer cents/micros on BOTH sides
  (``round(x*100)::long`` / ``floor(x*1e6)::long``) — no FP-summation
  order dependence;
* ratios divide exact ints (identical IEEE doubles on both engines);
* cosine similarity replicates the engine's left-fold summation order
  in SQL (list_reduce with a prepended 0.0) and rounds to 6;
* query vectors use only binary-exact literals (1.0 / 0.5 / -0.25).

Queries with no SQL-expressible oracle (seeded LSH/IVF/minhash/simhash,
crc32-based fingerprints) are registered without an oracle entry — the
driver records a rows-only check for them, per the contract.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .conditions import compile_condition
from .datapipe.dedup import exact_dedup, minhash_dedup, ngram_jaccard_pairs, simhash_dedup
from .datapipe.similarity import ann_ivf_topk, ann_lsh_topk, cosine_topk
from .datapipe.textstats import EN_STOPWORDS, LANG_MARKERS
from . import suite_expected as _expected
from .session import local_frame
from .stages.base import apply_stage, build_stage

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Queries whose oracle is a precomputed literal VALUES table
# (scripts/gen_datapipe_oracles.py) tied to the driver's correctness
# scale. oracle_sql() is static SQL by contract, so at any OTHER
# sf_dir these oracles describe a different corpus and must mismatch —
# scripts/selfcheck.py reports them as pinned rather than failed there.
LITERAL_PINNED_SF = "sf0.01"
LITERAL_PINNED = frozenset({
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_neardup",
    "similarity_topk_battery",
})


def _q(name: str, sql: str | None = None):
    def deco(fn: QueryFn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_msg(spark, sf_dir, expr) -> DataFrame:
    return _t(spark, sf_dir, "events").withColumn("message", expr)


# ---------------------------------------------------------------------------
# Parse family (SURVEY §2.4: grok, dissect, kv, json, csv, date)
# ---------------------------------------------------------------------------

@_q(
    "grok_multi_capture",
    """
    SELECT event_id, event_type AS etype, user_id AS uid, event_id AS nid
    FROM events
    """,
)
def grok_multi_capture(spark, sf_dir):
    """grok with a PATTERN LIST (first-match-wins: one rlike per
    pattern picks the first match, then one native pass extracts its
    groups), WITH %{INT:field:int} typed conversions (grok.rb's third
    ref part)."""
    ev = _events_msg(
        spark, sf_dir,
        F.concat(F.col("event_type"), F.lit(" id="), F.col("user_id").cast("string"),
                 F.lit(" n="), F.col("event_id").cast("string")),
    )
    out = apply_stage(
        ev,
        {"grok": {"match": {"message": [
            "%{WORD:etype} id=%{INT:uid:int} extra=%{INT:xtra}",  # never matches
            "%{WORD:etype} id=%{INT:uid:int} n=%{INT:nid:int}",
        ]}}},
    )
    return out.select("event_id", "etype", "uid", "nid")


@_q(
    "dissect_tokens",
    """
    SELECT event_id, event_type AS etype, CAST(user_id AS VARCHAR) AS uid,
           CAST(event_id AS VARCHAR) AS eid
    FROM events
    """,
)
def dissect_tokens(spark, sf_dir):
    ev = _events_msg(
        spark, sf_dir,
        F.concat_ws(
            "|", F.col("event_type"), F.col("user_id").cast("string"),
            F.col("event_id").cast("string"),
        ),
    )
    out = apply_stage(ev, {"dissect": {"mapping": {"message": "%{etype}|%{uid}|%{eid}"}}})
    return out.select("event_id", "etype", "uid", "eid")


@_q(
    "kv_pairs",
    """
    SELECT event_id, event_type AS ktype, CAST(user_id AS VARCHAR) AS kuid
    FROM events
    """,
)
def kv_pairs(spark, sf_dir):
    ev = _events_msg(
        spark, sf_dir,
        F.concat(
            F.lit("type="), F.col("event_type"),
            F.lit(" uid="), F.col("user_id").cast("string"),
        ),
    )
    out = apply_stage(ev, {"kv": {"source": "message"}})
    return out.select(
        "event_id",
        F.col("attrs")["type"].alias("ktype"),
        F.col("attrs")["uid"].alias("kuid"),
    )


@_q(
    "json_parse",
    "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events",
)
def json_parse(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = apply_stage(ev, {"json": {"source": "props", "schema": "k int", "target": "pp"}})
    return out.select("event_id", F.col("pp.k").alias("k"))


@_q(
    "csv_parse",
    """
    SELECT event_id, event_type AS etype, user_id AS uid FROM events
    """,
)
def csv_parse(spark, sf_dir):
    ev = _events_msg(
        spark, sf_dir,
        F.concat_ws(",", F.col("event_type"), F.col("user_id").cast("string")),
    )
    out = apply_stage(
        ev,
        {"csv": {"source": "message", "columns": ["etype", "uid"],
                 "convert": {"uid": "long"}}},
    )
    return out.select("event_id", "etype", "uid")


@_q(
    "date_multiformat",
    """
    WITH d AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0
                  THEN strftime(ts, '%Y/%m/%d %H:%M:%S')
                  ELSE strftime(ts, '%d-%m-%Y %H:%M:%S') END AS datestr
      FROM events
    )
    SELECT event_id,
           COALESCE(try_strptime(datestr, '%Y/%m/%d %H:%M:%S'),
                    try_strptime(datestr, '%d-%m-%Y %H:%M:%S')) AS event_ts
    FROM d
    """,
)
def date_multiformat(spark, sf_dir):
    """date filter: per-format fallback coalesce (date.rb semantics)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "datestr",
        F.when(
            F.pmod(F.col("event_id"), F.lit(2)) == 0,
            F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
        ).otherwise(F.date_format("ts", "dd-MM-yyyy HH:mm:ss")),
    )
    out = apply_stage(
        ev,
        {"date": {"match": ["datestr", "yyyy/MM/dd HH:mm:ss", "dd-MM-yyyy HH:mm:ss"],
                  "target": "event_ts"}},
    )
    return out.select("event_id", "event_ts")


@_q(
    "xml_parse",
    """
    SELECT event_id, event_type AS t, user_id AS u FROM events
    """,
)
def xml_parse(spark, sf_dir):
    ev = _events_msg(
        spark, sf_dir,
        F.concat(
            F.lit("<e><t>"), F.col("event_type"), F.lit("</t><u>"),
            F.col("user_id").cast("string"), F.lit("</u></e>"),
        ),
    )
    out = apply_stage(
        ev, {"xml": {"source": "message", "schema": "t string, u long", "target": "x"}}
    )
    return out.select("event_id", F.col("x.t").alias("t"), F.col("x.u").alias("u"))


# ---------------------------------------------------------------------------
# Mutate family
# ---------------------------------------------------------------------------

@_q(
    "mutate_chain",
    """
    SELECT event_id,
           upper(replace(event_type, 'i', '1')) AS etype,
           upper(replace(event_type, 'i', '1')) AS etype2,
           CAST(user_id AS VARCHAR) AS user_id,
           upper(replace(event_type, 'i', '1')) || '-' || CAST(user_id AS VARCHAR)
             AS summary
    FROM events
    """,
)
def mutate_chain(spark, sf_dir):
    """mutate op-order parity (rename → convert → gsub → uppercase →
    copy) + the add_field common option with %{field} sprintf
    interpolation (applied AFTER the ops, per mutate.rb order — it sees
    the renamed/gsubbed etype)."""
    ev = _t(spark, sf_dir, "events")
    out = apply_stage(
        ev,
        {"mutate": {
            "rename": {"event_type": "etype"},
            "convert": {"user_id": "string"},
            "gsub": ["etype", "i", "1"],
            "uppercase": ["etype"],
            "copy": {"etype": "etype2"},
            "add_field": {"summary": "%{etype}-%{user_id}"},
        }},
    )
    return out.select("event_id", "etype", "etype2", "user_id", "summary")


def _hmac_case_expr() -> str:
    """CASE mapping event_type → HMAC-SHA256 digest, computed by
    Python's stdlib hmac — an independent RFC-2104 implementation, a
    stronger oracle than a SQL re-derivation (DuckDB's sha256 is
    VARCHAR-only, so it cannot express keyed hashing anyway)."""
    import hashlib
    import hmac as _hmac

    whens = "\n".join(
        f"             WHEN '{t}' THEN "
        f"'{_hmac.new(b's3cr3t', t.encode(), hashlib.sha256).hexdigest()}'"
        for t in ("click", "error", "purchase", "signup", "view")
    )
    return f"CASE event_type\n{whens}\n           END"


@_q(
    "fingerprint_hashes",
    f"""
    SELECT event_id,
           sha256('|event_type|' || coalesce(event_type, '') ||
                  '|user_id|' || coalesce(CAST(user_id AS VARCHAR), '') ||
                  '|') AS fp_sha,
           md5(coalesce(CAST(user_id AS VARCHAR), event_type)) AS fp_md5,
           {_hmac_case_expr()} AS fp_hmac
    FROM events
    """,
)
def fingerprint_hashes(spark, sf_dir):
    """fingerprint filter: concatenate_sources ⇒ fingerprint.rb's
    '|name|value|…|' form (field names included, sorted sources);
    non-concatenated multi-source ⇒ last present source wins (here
    user_id); keyed fingerprint ⇒ TRUE RFC-2104 HMAC-SHA256
    (OpenSSL::HMAC parity; oracle digests precomputed by stdlib
    hmac)."""
    ev = _t(spark, sf_dir, "events")
    out = apply_stage(
        ev, {"fingerprint": {"source": ["event_type", "user_id"],
                             "concatenate_sources": True,
                             "method": "SHA256", "target": "fp_sha"}}
    )
    out = apply_stage(
        out, {"fingerprint": {"source": ["event_type", "user_id"],
                              "method": "MD5", "target": "fp_md5"}}
    )
    out = apply_stage(
        out, {"fingerprint": {"source": "event_type", "method": "SHA256",
                              "key": "s3cr3t", "target": "fp_hmac"}}
    )
    return out.select("event_id", "fp_sha", "fp_md5", "fp_hmac")


@_q(
    "mutate_field_hygiene",
    """
    WITH h AS (SELECT event_id, sha256(CAST(event_id AS VARCHAR)) AS hx FROM events)
    SELECT e.event_id,
           e.event_type || ' ' || CAST(e.user_id AS VARCHAR) AS message,
           e.event_type AS user_agent_os,
           substring(hx,1,8) || '-' || substring(hx,9,4) || '-' ||
           substring(hx,13,4) || '-' || substring(hx,17,4) || '-' ||
           substring(hx,21,12) AS uuid
    FROM events e JOIN h ON h.event_id = e.event_id
    """,
)
def mutate_field_hygiene(spark, sf_dir):
    """Field-hygiene chain: urldecode (%20 → space) → de_dot (dotted
    field name flattened) → uuid (deterministic_from) → prune
    whitelist (the prune stage produces the final 4-column schema, so
    the whitelist is load-bearing, not decorative)."""
    ev = _events_msg(
        spark, sf_dir,
        F.concat(F.col("event_type"), F.lit("%20"), F.col("user_id").cast("string")),
    ).withColumn("user_agent.os", F.col("event_type"))
    out = apply_stage(ev, {"urldecode": {"field": "message"}})
    out = apply_stage(out, {"de_dot": {}})
    out = apply_stage(out, {"uuid": {"deterministic_from": "event_id"}})
    return apply_stage(
        out,
        {"prune": {"whitelist_names":
                   ["^event_id$", "^message$", "^user_agent_os$", "^uuid$"]}},
    )


@_q(
    "truncate_bytes",
    """
    SELECT doc_id,
           CASE WHEN length(text) > 50 THEN substring(text, 1, 50) ELSE text END AS text
    FROM documents
    """,
)
def truncate_bytes(spark, sf_dir):
    # documents text is all-ASCII in the fixture → byte-truncation ≡ chars
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = apply_stage(docs, {"truncate": {"length_bytes": 50, "fields": ["text"]}})
    return out.select("doc_id", "text")


@_q(
    "syslog_pri_decode",
    """
    SELECT event_id,
           CAST(user_id % 192 AS INT) AS pri,
           CAST((user_id % 192) // 8 AS INT) AS syslog_facility_code,
           CAST((user_id % 192) % 8 AS INT) AS syslog_severity_code,
           (['kernel','user-level','mail','daemon','security/authorization',
             'syslogd','line printer','network news','uucp','clock',
             'security/authorization','ftp','ntp','log audit','log alert',
             'clock','local0','local1','local2','local3','local4','local5',
             'local6','local7'])[CAST((user_id % 192) // 8 AS INT) + 1]
             AS syslog_facility,
           (['emergency','alert','critical','error','warning','notice',
             'informational','debug'])[CAST((user_id % 192) % 8 AS INT) + 1]
             AS syslog_severity
    FROM events
    """,
)
def syslog_pri_decode(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "syslog_pri", F.pmod(F.col("user_id"), F.lit(192)).cast("int")
    )
    out = apply_stage(ev, {"syslog_pri": {}})
    return out.select(
        "event_id",
        F.col("syslog_pri").alias("pri"),
        "syslog_facility_code", "syslog_severity_code",
        "syslog_facility", "syslog_severity",
    )


@_q(
    "ruby_vectorized_udf",
    """
    SELECT event_id,
           CAST(length(event_type) AS BIGINT) * user_id AS score
    FROM events
    """,
)
def ruby_vectorized_udf(spark, sf_dir):
    """ruby filter ≙ user-supplied VECTORIZED fn (pd.Series → pd.Series)."""
    ev = _t(spark, sf_dir, "events")

    def score(t, u):  # two pd.Series in, one out — fully vectorized
        return (t.str.len() * u).astype("int64")

    out = apply_stage(
        ev, {"ruby": {"code": score, "source": ["event_type", "user_id"],
                      "target": "score", "returns": "long"}}
    )
    return out.select("event_id", "score")


# ---------------------------------------------------------------------------
# Enrich family (broadcast lookups / range joins)
# ---------------------------------------------------------------------------

_IP_MULT = 2654435761  # Knuth multiplicative hash → deterministic synthetic ip


def _with_synth_ip(ev: DataFrame) -> DataFrame:
    ip_int = F.pmod(F.col("user_id") * F.lit(_IP_MULT), F.lit(4294967296))
    octets = [
        F.pmod(F.shiftright(ip_int, 24), F.lit(256)),
        F.pmod(F.shiftright(ip_int, 16), F.lit(256)),
        F.pmod(F.shiftright(ip_int, 8), F.lit(256)),
        F.pmod(ip_int, F.lit(256)),
    ]
    return ev.withColumn("ip", F.concat_ws(".", *[o.cast("string") for o in octets]))


def _geo_slabs(spark: SparkSession, bits: int) -> DataFrame:
    """``2**bits`` equal slabs over the IPv4 space, each tagged by its
    first octet, so every slab count gives the same answers."""
    rows = []
    for k in range(2**bits):
        o = k >> (bits - 8)
        rows.append((k << (32 - bits), ((k + 1) << (32 - bits)) - 1,
                     f"C{o}", f"city{o}", float(o), float(-o)))
    return local_frame(
        spark, rows,
        "ip_start_int long, ip_end_int long, country string, city string, "
        "lat double, lon double",
    )


_GEO_BOTH_ORACLE = f"""
    WITH ip AS (
      SELECT event_id, (user_id * {_IP_MULT}) % 4294967296 AS ip_int FROM events
    )
    SELECT event_id, 'C' || CAST(ip_int // 16777216 AS VARCHAR) AS country,
           s.strategy
    FROM ip, (VALUES ('broadcast_range'), ('binary_search')) AS s(strategy)
"""


@_q("geoip_two_strategies", _GEO_BOTH_ORACLE)
def geoip_two_strategies(spark, sf_dir):
    """geoip over two dims that give the same answers: 256 /8 slabs and
    65,536 /16 slabs (the legs keep the names of the two strategies
    the stage once had, on either side of its old 2000-range switch).
    One binned broadcast hash join serves both; each leg is tagged and
    unioned, so a dim size that changes an answer fails the row."""
    ev = _with_synth_ip(_t(spark, sf_dir, "events"))
    parts = []
    for strategy, bits in (("broadcast_range", 8), ("binary_search", 16)):
        out = apply_stage(
            ev, {"geoip": {"source": "ip", "ranges_df": _geo_slabs(spark, bits)}}
        )
        parts.append(
            out.select("event_id", F.col("geo.country").alias("country"),
                       F.lit(strategy).alias("strategy"))
        )
    return parts[0].unionByName(parts[1])


@_q(
    "cidr_match",
    f"""
    WITH ip AS (
      SELECT event_id, (user_id * {_IP_MULT}) % 4294967296 AS ip_int FROM events
    )
    SELECT event_id,
           (ip_int BETWEEN {10 * 2**24} AND {11 * 2**24 - 1})
           OR (ip_int BETWEEN {8 * 2**28} AND {9 * 2**28 - 1}) AS in_network
    FROM ip
    """,
)
def cidr_match(spark, sf_dir):
    ev = _with_synth_ip(_t(spark, sf_dir, "events"))
    out, matched = build_stage(
        {"cidr": {"address": "ip", "network": ["10.0.0.0/8", "128.0.0.0/4"]}}
    ).transform(ev)
    return out.select("event_id", F.col("__matched").alias("in_network"))


# ---------------------------------------------------------------------------
# Flow family (drop/clone/split/throttle/aggregate/metrics/multiline)
# ---------------------------------------------------------------------------

@_q(
    "drop_and_clone",
    """
    SELECT event_id, CAST(NULL AS VARCHAR) AS type FROM events WHERE NOT (value < 50)
    UNION ALL
    SELECT event_id, 'replica' AS type FROM events WHERE NOT (value < 50)
    """,
)
def drop_and_clone(spark, sf_dir):
    """drop → clone chained: conditional drop removes the low-value
    rows, then clone duplicates each survivor with type='replica' —
    the clone count proves the drop happened BEFORE the clone (the
    reference pipeline's filter-order contract)."""
    ev = _t(spark, sf_dir, "events")
    out = apply_stage(ev, {"drop": {"when": "[value] < 50"}})
    out = apply_stage(out, {"clone": {"clones": ["replica"]}})
    return out.select("event_id", "type")


@_q(
    "split_words",
    "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents",
)
def split_words(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = apply_stage(
        docs, {"split": {"field": "text", "terminator": " ", "target": "word"}}
    )
    return out.select("doc_id", "word")


@_q(
    "throttle_rate",
    """
    SELECT event_id,
           row_number() OVER (
             PARTITION BY event_type, time_bucket(INTERVAL '3600 seconds', ts)
             ORDER BY ts
           ) > 5 AS throttled
    FROM events
    """,
)
def throttle_rate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out, matched = build_stage(
        {"throttle": {"key": "event_type", "period": 3600, "after_count": 5,
                      "timestamp_field": "ts"}}
    ).transform(ev)
    return out.select("event_id", F.col("__matched").alias("throttled"))


# EWMA constants for flush_interval=3600 (must byte-match the stage's
# float math — see MetricsStage: a = 2/(60/interval + 1), b = 1-a)
_EWMA_A = 2.0 / (60.0 / 3600 + 1.0)
_EWMA_B = 1.0 - _EWMA_A

@_q(
    "metrics_meter",
    f"""
    WITH counts AS (
      SELECT CAST(event_type AS VARCHAR) AS meter,
             time_bucket(INTERVAL '3600 seconds', ts) AS ws,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), rated AS (
      SELECT meter, ws, cnt, cnt / 3600.0 AS rate FROM counts
    ), packed AS (
      SELECT meter,
             list(ws ORDER BY ws) AS wss,
             list(cnt ORDER BY ws) AS cnts,
             list(rate ORDER BY ws) AS rates
      FROM rated GROUP BY meter
    )
    SELECT meter,
           unnest(wss) AS window_start,
           unnest(cnts) AS count,
           unnest(rates) AS rate,
           unnest(list_transform(generate_series(1, len(rates)),
                  i -> round(list_reduce(list_slice(rates, 1, i),
                       (acc, r) -> CAST({_EWMA_A!r} AS DOUBLE) * r
                                 + CAST({_EWMA_B!r} AS DOUBLE) * acc), 6)))
             AS rate_1m
    FROM packed
    """,
)
def metrics_meter(spark, sf_dir):
    """metrics filter incl. the recursive EWMA rate — the oracle
    replicates the same left-fold (list_reduce seeds with the first
    element, f(acc, r) = a·r + b·acc); both sides round to 6 decimals
    (DuckDB's fold fuses the multiply-add, ~1e-18 apart from numpy)."""
    ev = _t(spark, sf_dir, "events")
    out, _ = build_stage(
        {"metrics": {"meter": "event_type", "flush_interval": 3600,
                     "timestamp_field": "ts"}}
    ).transform(ev)
    return out.select("meter", "window_start", "count", "rate",
                      F.round("rate_1m", 6).alias("rate_1m"))


@_q(
    "multiline_merge",
    """
    WITH lines AS (
      SELECT user_id % 5 AS stream, event_id AS eid,
             CASE WHEN value < 50 THEN ' ' || event_type ELSE event_type END AS message
      FROM events
    ), g AS (
      SELECT stream, eid, message,
             SUM(CASE WHEN regexp_matches(message, '^\\s') THEN 0 ELSE 1 END)
               OVER (PARTITION BY stream ORDER BY eid) AS grp
      FROM lines
    )
    SELECT stream, min(eid) AS eid,
           array_to_string(list(message ORDER BY eid), chr(10)) AS message,
           count(*) AS n_lines
    FROM g GROUP BY stream, grp
    """,
)
def multiline_merge(spark, sf_dir):
    """multiline codec → sessionization (running-sum group ids + ordered merge)."""
    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(5)).alias("stream"),
        F.col("event_id").alias("eid"),
        F.when(F.col("value") < 50, F.concat(F.lit(" "), F.col("event_type")))
        .otherwise(F.col("event_type")).alias("message"),
    )
    out = apply_stage(
        ev,
        {"multiline": {"pattern": r"^\s", "what": "previous", "source": "message",
                       "group_by": "stream", "order_by": "eid"}},
    )
    # the merged event carries no helper columns (reference parity) —
    # the merge grain is still asserted by recomputing the line count
    return out.select(
        "stream", "eid", "message",
        F.size(F.split(F.col("message"), "\n")).cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Conditions & routing
# ---------------------------------------------------------------------------

@_q(
    "conditions_surface",
    """
    WITH t AS (
      SELECT event_id, event_type, value,
             CASE WHEN value < 50 THEN NULL ELSE event_type END AS maybe,
             CASE WHEN value > 400 THEN NULL ELSE value > 250 END AS flag
      FROM events
    )
    SELECT event_id,
           event_type = 'error' AS c_eq,
           value > 250 AS c_gt,
           regexp_matches(event_type, '^e') AS c_regex,
           event_type IN ('click', 'view') AS c_in,
           event_type NOT IN ('click', 'view') AS c_not_in,
           (value > 250 AND event_type = 'click') OR value <= 10 AS c_bool,
           (value > 250) != (event_type = 'click') AS c_xor,
           maybe IS NOT NULL AS t_field,
           flag IS NOT NULL AND flag AS t_bool,
           NOT (maybe IS NOT NULL) AS t_not
    FROM t
    """,
)
def conditions_surface(spark, sf_dir):
    """One column per EventCondition operator class (SURVEY §2.1),
    including bare `if [f]` truthiness (existence for non-boolean
    fields, existence AND true for booleans) and `![f]` negation
    (EventCondition 'truthy' branch)."""
    ev = _t(spark, sf_dir, "events").withColumns({
        "maybe": F.when(F.col("value") < 50, F.lit(None)).otherwise(F.col("event_type")),
        "flag": F.when(F.col("value") > 400, F.lit(None)).otherwise(F.col("value") > 250),
    })
    conds = {
        "c_eq": "[event_type] == 'error'",
        "c_gt": "[value] > 250",
        "c_regex": "[event_type] =~ /^e/",
        "c_in": "[event_type] in ['click', 'view']",
        "c_not_in": "[event_type] not in ['click', 'view']",
        "c_bool": "([value] > 250 and [event_type] == 'click') or [value] <= 10",
        "c_xor": "[value] > 250 xor [event_type] == 'click'",
        "t_field": "[maybe]",
        "t_bool": "[flag]",
        "t_not": "![maybe]",
    }
    for name, expr in conds.items():
        ev = ev.withColumn(name, compile_condition(expr, ev))
    return ev.select("event_id", *conds)


@_q(
    "route_sink_counts",
    """
    SELECT 'sink_errors' AS sink, count(*) AS n FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT 'sink_highvalue' AS sink, count(*) AS n FROM events WHERE value > 400
    UNION ALL
    SELECT 'sink_rest' AS sink, count(*) AS n FROM events
    WHERE NOT (event_type = 'error') AND value <= 400
    """,
)
def route_sink_counts(spark, sf_dir):
    """Fan-out router branch predicates → per-sink aggregate counts (the
    north rule's per-sink counts, minus the writes)."""
    ev = _t(spark, sf_dir, "events")
    branches = {
        "sink_errors": "[event_type] == 'error'",
        "sink_highvalue": "[value] > 400",
        "sink_rest": "!([event_type] == 'error') and [value] <= 400",
    }
    parts = [
        ev.filter(compile_condition(cond, ev))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(name).alias("sink"), "n")
        for name, cond in branches.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


# ---------------------------------------------------------------------------
# Relational rollups (SURVEY §2.6: free-with-Spark surface, exercised
# against TPC-H-ish tables; integer-cents math for exact hashes)
# ---------------------------------------------------------------------------

@_q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_base_cents,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS sum_disc_cents,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_cents"),
        F.sum(F.round(F.col("l_discount") * 100).cast("long")).alias("sum_disc_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "top_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2, 3
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 10
    """,
)
def top_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey"))
        .limit(10)
    )


@_q(
    "events_rollup_hierarchy",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros
    FROM events GROUP BY ROLLUP(event_type, day)
    """,
)
def events_rollup_hierarchy(spark, sf_dir):
    """GROUP BY ROLLUP (SURVEY §2.6 'free with Spark' row exercised):
    the (type, day) daily grain PLUS per-type subtotals and the grand
    total in one pass — the daily-rollup query and the hierarchy query
    in a single partial-aggregatable plan."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup(
        "event_type", F.date_trunc("DAY", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("value_micros"),
    )


@_q(
    "semi_anti_joins",
    """
    SELECT 'with_orders' AS kind, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS kind, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_anti_joins(spark, sf_dir):
    """left_semi / left_anti joins (§2.6: set-membership between event
    streams — beyond the reference's lookup-only join surface)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_orders").alias("kind"), "n")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_orders").alias("kind"), "n")
    return semi.unionByName(anti)


@_q(
    "window_function_battery",
    """
    SELECT event_id,
           lag(event_id) OVER w AS prev_id,
           lead(event_id) OVER w AS next_id,
           rank() OVER (PARTITION BY event_type ORDER BY CAST(FLOOR(value * 1000000) AS BIGINT) DESC, event_id) AS value_rank,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT))
                OVER (PARTITION BY event_type ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_micros
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
    """,
)
def window_function_battery(spark, sf_dir):
    """lag/lead/rank/running-sum over partitions (§2.6 window surface;
    integer-micros discipline for the running sum)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    micros = F.floor(F.col("value") * 1000000).cast("long")
    wrank = Window.partitionBy("event_type").orderBy(F.col("__m").desc(), F.col("event_id"))
    return (
        ev.withColumn("__m", micros)
        .select(
            "event_id",
            F.lag("event_id").over(w).alias("prev_id"),
            F.lead("event_id").over(w).alias("next_id"),
            F.rank().over(wrank).alias("value_rank"),
            F.sum("__m").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("running_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

@_q(
    "dedup_exact",
    """
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id")


# Literal VALUES oracles for the seeded (xxhash64 / hyperplane / numpy)
# queries DuckDB cannot express: expected outputs precomputed by the
# INDEPENDENT pure-Python reimplementation in
# scripts/gen_datapipe_oracles.py (pure-Python XXH64 + plain loops, no
# pyspark — the stdlib-hmac technique, scaled up). Tied to the driver's
# sf0.01 correctness fixtures. This differential oracle caught a real
# recall bug (the minhash default-arg-lambda permutation collapse).
def _ids_values(ids, col: str) -> str:
    rows = ", ".join(f"({i})" for i in ids)
    return f"SELECT {col} FROM (VALUES {rows}) AS t({col})"


@_q("dedup_minhash_lsh", _ids_values(_expected.MINHASH_KEPT, "doc_id"))
def dedup_minhash_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(docs, threshold=0.8).select("doc_id")


@_q("dedup_simhash", _ids_values(_expected.SIMHASH_KEPT, "doc_id"))
def dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup(docs, max_hamming=3).select("doc_id")


@_q(
    "ngram_jaccard_pairs",
    """
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(ws) - 2),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                  ELSE [array_to_string(ws, ' ')] END AS sh
      FROM w
    ), inv AS (
      SELECT doc_id, unnest(sh) AS shingle FROM sh
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
    ), j AS (
      SELECT a, b,
             len(list_intersect(sa.sh, sb.sh))
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jaccard
      FROM cand JOIN sh sa ON sa.doc_id = cand.a JOIN sh sb ON sb.doc_id = cand.b
    )
    SELECT a, b, round(jaccard, 4) AS jaccard FROM j WHERE jaccard >= 0.5
    """,
)
def ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5)
    return pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


@_q(
    "dedup_connected_components",
    """
    WITH RECURSIVE w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(ws) - 2),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                  ELSE [array_to_string(ws, ' ')] END AS sh
      FROM w
    ), inv AS (
      SELECT doc_id, unnest(sh) AS shingle FROM sh
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
    ), pairs AS (
      SELECT a, b
      FROM cand JOIN sh sa ON sa.doc_id = cand.a JOIN sh sb ON sb.doc_id = cand.b
      WHERE len(list_intersect(sa.sh, sb.sh))
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
    ), edges AS (
      SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
    ), reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), comp AS (
      SELECT s AS id, least(s, min(d)) AS comp FROM reach GROUP BY s
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != comp)
    """,
)
def dedup_cc(spark, sf_dir):
    """Connected-component dedup: transitive closure over the verified
    near-dup pair graph (A~B, B~C ⇒ one group even when A≁C), exactly
    one survivor (min id) per component — checkpointed min-label
    propagation on the Spark side, a recursive reachability CTE on the
    DuckDB side (two genuinely different graph algorithms agreeing)."""
    from .datapipe.dedup import dedup_connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5).select("a", "b")
    return dedup_connected_components(docs, pairs).select("doc_id")


# binary-exact query-vector literals (1.0 / 0.5 / -0.25 cycle over 64 dims)
_QVEC = [(1.0, 0.5, -0.25)[i % 3] for i in range(64)]
_QVEC_SQL = "[" + ", ".join(repr(x) for x in _QVEC) + "]"


def _topk_values(rows) -> str:
    return ", ".join(f"({v}, {c!r})" for v, c in rows)


@_q(
    "similarity_topk_battery",
    f"""
    WITH q AS (SELECT CAST({_QVEC_SQL} AS DOUBLE[]) AS qv), sims AS (
      SELECT vec_id,
             round(
               list_reduce(list_prepend(0.0, list_transform(
                 generate_series(1, 64),
                 i -> CAST(embedding[i] AS DOUBLE) * qv[i])), (a, b) -> a + b)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(
                    generate_series(1, 64),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
                    (a, b) -> a + b))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(
                    generate_series(1, 64), i -> qv[i] * qv[i])), (a, b) -> a + b))),
               6) AS cosine
      FROM embeddings, q
    )
    SELECT 'brute' AS method, vec_id, cosine
    FROM (SELECT vec_id, cosine FROM sims ORDER BY cosine DESC, vec_id LIMIT 10)
    UNION ALL
    SELECT 'lsh' AS method, v AS vec_id, CAST(c AS DOUBLE) AS cosine
    FROM (VALUES {_topk_values(_expected.ANN_LSH_TOP10)}) AS t(v, c)
    UNION ALL
    SELECT 'ivf' AS method, v AS vec_id, CAST(c AS DOUBLE) AS cosine
    FROM (VALUES {_topk_values(_expected.ANN_IVF_TOP10)}) AS t(v, c)
    """,
)
def similarity_topk_battery(spark, sf_dir):
    """All three similarity tiers in one driver row: brute-force exact
    cosine top-k (the correctness baseline — SQL oracle replicates the
    fold order), hyperplane-LSH multiprobe ANN, and IVF ANN with
    hash-sampled centroids. The LSH/IVF expected rows are literal
    oracles from the independent reimplementation (the seeded
    hyperplane/centroid math is not SQL-expressible in DuckDB)."""
    emb = _t(spark, sf_dir, "embeddings")
    parts = [
        cosine_topk(emb, _QVEC, k=10).withColumn("method", F.lit("brute")),
        ann_lsh_topk(emb, _QVEC, k=10, n_planes=8, multiprobe=2)
        .withColumn("method", F.lit("lsh")),
        ann_ivf_topk(emb, _QVEC, k=10, n_centroids=16, nprobe=4, order_col="vec_id")
        .withColumn("method", F.lit("ivf")),
    ]
    return reduce(lambda a, b: a.unionByName(b), parts).select(
        "method", "vec_id", "cosine"
    )


def _sql_marker_count(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(ws, x -> x IN ({markers})))"


_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

_TEXTSTATS_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS ws,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> length(x) > 0) AS wsf
      FROM documents
    ), gram_tbl AS (
      SELECT doc_id,
             unnest(CASE WHEN len(wsf) >= 2 THEN
               list_transform(generate_series(1, len(wsf) - 1),
                              i -> wsf[i] || ' ' || wsf[i + 1])
             ELSE [] END) AS g
      FROM base
    ), gram_stats AS (
      SELECT doc_id,
             max(cnt * length(g)) AS best,
             sum(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dup,
             sum(cnt * length(g)) AS tot
      FROM (SELECT doc_id, g, count(*) AS cnt FROM gram_tbl GROUP BY doc_id, g)
      GROUP BY doc_id
    ), hits AS (
      SELECT doc_id, text, ws,
             CASE WHEN len(wsf) > 0 THEN
               1.0 - len(list_distinct(wsf)) / len(wsf) ELSE 0.0 END AS dwf,
             {_sql_marker_count('en')} AS c_en,
             {_sql_marker_count('de')} AS c_de,
             {_sql_marker_count('fr')} AS c_fr,
             {_sql_marker_count('es')} AS c_es,
             {_sql_marker_count('it')} AS c_it,
             CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_tokens,
             CASE WHEN len(ws) > 0 THEN
               list_reduce(list_prepend(0.0,
                 list_transform(ws, x -> CAST(length(x) AS DOUBLE))), (a,b) -> a+b)
               / len(ws) ELSE 0.0 END AS mwl,
             CASE WHEN length(text) > 0 THEN
               length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))
               / length(text) ELSE 0.0 END AS pr,
             CASE WHEN len(ws) > 0 THEN
               len(list_filter(ws, x -> x IN ({_STOP_SQL}))) / len(ws)
               ELSE 0.0 END AS sr,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(ws,
                   t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT))),
               (acc, h) -> (acc * 31 + h) % 2147483648
             ) AS fingerprint_rolling
      FROM base
    )
    SELECT doc_id, n_tokens, n_bpe_tokens, fingerprint_rolling,
           CASE WHEN greatest(c_en, c_de, c_fr, c_es, c_it) < 1 THEN 'und'
                WHEN c_en = greatest(c_en, c_de, c_fr, c_es, c_it) THEN 'en'
                WHEN c_de = greatest(c_en, c_de, c_fr, c_es, c_it) THEN 'de'
                WHEN c_fr = greatest(c_en, c_de, c_fr, c_es, c_it) THEN 'fr'
                WHEN c_es = greatest(c_en, c_de, c_fr, c_es, c_it) THEN 'es'
                ELSE 'it' END AS lang_detected,
           CAST(round((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4
                       WHEN n_tokens > 0 THEN 0.1 ELSE 0.0 END)
                 + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END)
                 + (CASE WHEN sr > 0.0 THEN 0.1 ELSE 0.0 END), 2) AS DOUBLE) AS quality,
           CAST(round(dwf, 6) AS DOUBLE) AS dup_word_frac,
           CAST(round(CASE WHEN coalesce(gs.tot, 0) > 0
                      THEN gs.best / gs.tot ELSE 0.0 END, 6) AS DOUBLE)
             AS top_2gram_char_frac,
           CAST(round(CASE WHEN coalesce(gs.tot, 0) > 0
                      THEN gs.dup / gs.tot ELSE 0.0 END, 6) AS DOUBLE)
             AS dup_2gram_char_frac
    FROM hits LEFT JOIN gram_stats gs USING (doc_id)
"""


@_q("textstats_quality", _TEXTSTATS_ORACLE)
def textstats_quality(spark, sf_dir):
    """language-ID + quality scoring + token counts + order-sensitive
    rolling document fingerprint — all native, ONE word-array traversal
    per row for the stats vector (fused behind an explode barrier; see
    PLANS.md round 3). The fingerprint's per-token hash is an
    md5-prefix (token_hash32) precisely so the oracle exists: both
    engines compute the identical 32-bit token hash and the same
    mod-2^31 left fold (consolidated from the former separate
    textstats_fingerprint row — same table, same grain — to free a
    driver slot for cef_dns_jdbc_battery). Round 5 folds in the
    Gopher-style repetition signals at the same grain (dup-word
    fraction, top/duplicate 2-gram character fractions) — engine side
    is a row-local sorted-run scan, oracle side counts via
    unnest + GROUP BY; single long/long divisions rounded to 6 land on
    bit-identical doubles."""
    from .datapipe.textstats import repetition_stats, text_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(text_stats(docs), spread=False).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "fingerprint_rolling",
        "lang_detected", "quality", "dup_word_frac",
        "top_2gram_char_frac", "dup_2gram_char_frac"
    )


@_q(
    "salted_skew_aggregate",
    "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
)
def salted_skew_aggregate(spark, sf_dir):
    """Two-phase salted applyInPandas over the Zipf-skewed lang key —
    the hot key ('en' ≈ 55%) reduces across 8 salt sub-groups first."""
    from .datapipe.skew import salted_group_count

    docs = _t(spark, sf_dir, "documents")
    return salted_group_count(docs, ["lang"], salt_on="text", n_salt=8)


def _media_values() -> str:
    from . import suite_expected_media as _m

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return f"'{v}'"
        return str(v)

    return ", ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in _m.MEDIA_FEATURES
    )


@_q(
    "multimodal_features",
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, kind, "
    "CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, "
    "CAST(channels AS INTEGER) AS channels, "
    "CAST(pixel_checksum AS BIGINT) AS pixel_checksum, "
    "CAST(sample_rate AS INTEGER) AS sample_rate, "
    "CAST(n_samples AS BIGINT) AS n_samples, "
    "CAST(pcm_checksum AS BIGINT) AS pcm_checksum, "
    "CAST(n_frames AS BIGINT) AS n_frames, decoder FROM (VALUES "
    + _media_values()
    + ") AS t(doc_id, kind, width, height, channels, pixel_checksum, "
    "sample_rate, n_samples, pcm_checksum, n_frames, decoder)",
)
def multimodal_features(spark, sf_dir):
    """Multimodal battery: real BMP image decode (dims + exact pixel
    checksum), real 16-bit PCM WAV decode (rate / sample count / exact
    int16² energy checksum) and video frame-sampling counts, unioned
    into one exact-integer row per media doc. The oracle is a literal
    VALUES table generated by scripts/gen_multimodal_oracle.py from the
    PRE-ENCODING arrays plus an independent stdlib-``wave`` decode — so
    this row differentially tests the engine's encode→Spark→decode
    round trip end-to-end (reference parity: multimodal columns as
    first-class pipeline citizens, builder brief)."""
    from .datapipe.multimodal import gen_media, media_features

    media = gen_media(spark, 96, seed=42)
    return media_features(media)


# (textstats_fingerprint was consolidated INTO textstats_quality — same
# table, same per-doc grain — freeing a driver-cap slot; see that row.)


# ---------------------------------------------------------------------------
# Round-2 coverage: useragent / tld / truthiness / DLQ / resume / syslog
# grok / translate file+regex dicts / HMAC / aggregate timeout events
# ---------------------------------------------------------------------------

_UA_STRINGS = [
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/102.0",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X) Version/16.0 Safari/605.1",
    "acmebot/2.1 (+http://acme.example/bot)",
]
# (pattern, name, os, device, priority) — priority order IS the matching
# contract (uap-core: first rule wins), which is why Chrome outranks
# Safari despite both substrings appearing in Chrome UAs.
_UA_RULES = [
    ("bot", "AcmeBot", "Other", "Spider", 0),
    ("Firefox/", "Firefox", "Linux", "Other", 1),
    ("Chrome/", "Chrome", "Windows", "Other", 2),
    ("Safari", "Safari", "Mac OS X", "Other", 3),
]
# wurfl leg (round 5): the same four UAs through a WURFL-style device
# hierarchy — chrome_win_nt10 carries NO capabilities of its own (pure
# fall_back inheritance) and its longer pattern must beat chrome_win's
# (longest-prefix contract), so the leg exercises both mechanisms while
# producing the exact regex-CASE values the oracle already states.
_WURFL_SNAPSHOT = [
    {"device_id": "generic", "user_agent": None, "fall_back": None,
     "capabilities": {"device": "Other"}},
    {"device_id": "firefox_linux", "user_agent": "Mozilla/5.0 (X11",
     "fall_back": "generic",
     "capabilities": {"name": "Firefox", "os": "Linux"}},
    {"device_id": "chrome_win", "user_agent": "Mozilla/5.0 (Windows",
     "fall_back": "generic",
     "capabilities": {"name": "Chrome", "os": "Windows"}},
    {"device_id": "chrome_win_nt10", "fall_back": "chrome_win",
     "user_agent": "Mozilla/5.0 (Windows NT 10.0) AppleWebKit",
     "capabilities": {}},
    {"device_id": "safari_mac", "user_agent": "Mozilla/5.0 (Macintosh",
     "fall_back": "generic",
     "capabilities": {"name": "Safari", "os": "Mac OS X"}},
    {"device_id": "acme_bot", "user_agent": "acmebot/",
     "fall_back": "generic",
     "capabilities": {"name": "AcmeBot", "os": "Other",
                      "device": "Spider"}},
]


@_q(
    "useragent_two_strategies",
    f"""
    WITH ua AS (
      SELECT event_id,
             (['{_UA_STRINGS[0]}', '{_UA_STRINGS[1]}',
               '{_UA_STRINGS[2]}', '{_UA_STRINGS[3]}'])[CAST(user_id % 4 AS INT) + 1]
               AS agent
      FROM events
    )
    SELECT event_id,
           CASE WHEN regexp_matches(agent, 'bot') THEN 'AcmeBot'
                WHEN regexp_matches(agent, 'Firefox/') THEN 'Firefox'
                WHEN regexp_matches(agent, 'Chrome/') THEN 'Chrome'
                WHEN regexp_matches(agent, 'Safari') THEN 'Safari' END AS ua_name,
           CASE WHEN regexp_matches(agent, 'bot') THEN 'Other'
                WHEN regexp_matches(agent, 'Firefox/') THEN 'Linux'
                WHEN regexp_matches(agent, 'Chrome/') THEN 'Windows'
                WHEN regexp_matches(agent, 'Safari') THEN 'Mac OS X' END AS ua_os,
           CASE WHEN regexp_matches(agent, 'bot') THEN 'Spider'
                ELSE 'Other' END AS ua_device,
           s.strategy
    FROM ua, (VALUES ('native'), ('pandas'), ('wurfl')) AS s(strategy)
    """,
)
def useragent_two_strategies(spark, sf_dir):
    """Device detection battery, three legs in one driver row: the
    useragent filter's priority-ordered when/rlike chain (uap-core
    first-match contract, in Java) over the 4 rules (``native``) and
    over the same rules padded to 100 with lower-priority rules that
    never match (``pandas``, past the 64-rule point where the stage
    once switched to a Python matcher), and the wurfl_device_detection
    filter (round 5: snapshot hierarchy, longest-prefix match +
    fall_back capability inheritance) driven to the same regex-CASE
    truth. Each tagged and unioned."""
    parts = [
        _useragent_query(spark, sf_dir, s).withColumn("strategy", F.lit(s))
        for s in ("native", "pandas", "wurfl")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _useragent_query(spark, sf_dir, strategy):
    ev = _t(spark, sf_dir, "events").withColumn(
        "agent",
        F.element_at(
            F.array(*[F.lit(u) for u in _UA_STRINGS]),
            F.pmod(F.col("user_id"), F.lit(4)).cast("int") + 1,
        ),
    )
    if strategy == "wurfl":
        out = apply_stage(
            ev, {"wurfl_device_detection": {
                "source": "agent", "devices": _WURFL_SNAPSHOT,
                "capabilities": ["name", "os", "device"]}}
        )
        return out.select(
            "event_id",
            F.col("wurfl.name").alias("ua_name"),
            F.col("wurfl.os").alias("ua_os"),
            F.col("wurfl.device").alias("ua_device"),
        )
    rules = _UA_RULES
    if strategy == "pandas":
        rules = rules + [(f"^never-{i}/", f"pad{i}", "Other", "Other", len(rules) + i)
                         for i in range(100 - len(rules))]
    rules_df = local_frame(
        spark, rules, "pattern string, name string, os string, device string, priority int"
    )
    out = apply_stage(ev, {"useragent": {"source": "agent", "rules_df": rules_df}})
    return out.select(
        "event_id",
        F.col("ua.name").alias("ua_name"),
        F.col("ua.os").alias("ua_os"),
        F.col("ua.device").alias("ua_device"),
    )


@_q(
    "tld_extract",
    """
    WITH u AS (
      SELECT event_id,
             'www.' || event_type ||
             (['.com', '.co.uk', '.org'])[CAST(user_id % 3 AS INT) + 1] AS host,
             CAST(user_id % 3 AS INT) AS k
      FROM events
    )
    SELECT event_id, host AS domain,
           (['com', 'co.uk', 'org'])[k + 1] AS tld
    FROM u
    """,
)
def tld_extract(spark, sf_dir):
    """tld filter: public-suffix longest-match when-chain ('co.uk' must
    win over 'uk') over try_parse_url host extraction."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "url",
        F.concat(
            F.lit("https://www."), F.col("event_type"),
            F.element_at(
                F.array(F.lit(".com"), F.lit(".co.uk"), F.lit(".org")),
                F.pmod(F.col("user_id"), F.lit(3)).cast("int") + 1,
            ),
            F.lit("/p"),
        ),
    )
    out = apply_stage(
        ev, {"tld": {"source": "url", "suffixes": ["com", "org", "uk", "co.uk"]}}
    )
    return out.select("event_id", "domain", "tld")


@_q(
    "dlq_route",
    """
    SELECT event_id,
           '_grokparsefailure' AS error_stage,
           '_grokparsefailure' AS error_reason
    FROM events WHERE value < 50
    """,
)
def dlq_route(spark, sf_dir):
    """Dead-letter queue projection: rows with failure tags → the DLQ
    schema (error_stage = first failure tag, error_reason = all tags,
    original payload struct) — DeadLetterQueueWriter/DLQEntry parity.

    Round-5 consolidation (VERDICT r4 #7): the failing rows now travel
    a TWO-HOP pipeline-to-pipeline address chain (PipelineBus parity —
    the real-world "forward DLQ entries to a downstream consumer
    pipeline" layout) before projection, so the p2p bus is covered by
    this driver correctness row, not only by pytest. The oracle is
    unchanged — equality proves the bus forwarded every failing row
    exactly once across both hops."""
    import shutil

    from .p2p import PipelineGraph
    from .router import dlq_projection, failure_tag_predicate

    ev = _events_msg(
        spark, sf_dir,
        F.when(F.col("value") < 50, F.lit("garbage line"))
        .otherwise(F.concat(F.lit("id="), F.col("user_id").cast("string"))),
    )
    parsed = apply_stage(ev, {"grok": {"match": {"message": "id=%{INT:uid}"}}})
    run_dir = f"/tmp/suite_dlq_p2p_{abs(hash(sf_dir)) % 10**8}"
    shutil.rmtree(run_dir, ignore_errors=True)
    graph = PipelineGraph([
        {"id": "producer",
         "outputs": [{"pipeline": {"send_to": "dlq_bus"},
                      "when": "'_grokparsefailure' in [tags]"}]},
        {"id": "relay",
         "input": {"pipeline": {"address": "dlq_bus"}},
         "outputs": [{"pipeline": {"send_to": "dlq_bus2"}}]},
        {"id": "consumer",
         "input": {"pipeline": {"address": "dlq_bus2"}},
         "outputs": [{"name": "dlq_out"}]},
    ])
    graph.run(spark, {"producer": parsed}, run_dir,
              bucket_on="event_id", n_buckets=8)
    forwarded = spark.read.parquet(f"{run_dir}/consumer/dlq_out")
    dlq = dlq_projection(forwarded.filter(failure_tag_predicate(forwarded)))
    return dlq.select(
        F.col("original.event_id").alias("event_id"), "error_stage", "error_reason"
    )


@_q(
    "checkpoint_resume",
    """
    SELECT 'sink_hi' AS sink, count(*) AS n FROM events WHERE value > 250
    UNION ALL
    SELECT 'sink_lo' AS sink, count(*) AS n FROM events WHERE NOT (value > 250)
    """,
)
def checkpoint_resume(spark, sf_dir):
    """END-TO-END resume: run a routed pipeline in 4 micro-batches,
    crash after batch 0 (simulated), resume from the checkpoint
    manifest, then count the rows actually SITTING IN the sink parquet.
    The oracle is the branch predicate — equality proves the crashual
    rerun neither lost nor duplicated any bucket's rows."""
    import shutil

    from .pipeline import Pipeline

    run_dir = f"/tmp/suite_ckpt_resume_{abs(hash(sf_dir)) % 10**8}"
    shutil.rmtree(run_dir, ignore_errors=True)
    ev = _t(spark, sf_dir, "events")
    spec = {
        "id": "resume_suite",
        "filters": [],
        "outputs": [
            {"name": "sink_hi", "when": "[value] > 250"},
            {"name": "sink_lo", "when": "!([value] > 250)"},
        ],
    }
    pipe = Pipeline(spec)
    try:
        pipe.run(ev, run_dir, bucket_on="event_id", n_buckets=8, n_batches=4,
                 _fail_after_batch=0)
    except RuntimeError:
        pass  # the simulated crash
    Pipeline(spec).run(ev, run_dir, bucket_on="event_id", n_buckets=8, n_batches=4,
                       resume=True)
    parts = [
        spark.read.parquet(f"{run_dir}/{name}")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(name).alias("sink"), "n")
        for name in ("sink_hi", "sink_lo")
    ]
    return parts[0].unionByName(parts[1])


@_q(
    "streaming_route_counts",
    """
    SELECT 'sink_hot' AS sink, count(*) AS n FROM events WHERE value > 300
    UNION ALL
    SELECT 'sink_cold' AS sink, count(*) AS n FROM events WHERE NOT (value > 300)
    """,
)
def streaming_route_counts(spark, sf_dir):
    """Structured-Streaming execution path end-to-end: the same compiled
    pipeline run via foreachBatch over a file stream in TWO micro-batches
    (maxFilesPerTrigger=1), sinks appended per batch — then the parquet
    actually on disk is counted against the branch-predicate oracle."""
    import shutil

    from .pipeline import Pipeline
    from .streaming import run_streaming, stream_from_directory

    tag = abs(hash(sf_dir)) % 10**8
    src = f"/tmp/suite_stream_src_{tag}"
    run_dir = f"/tmp/suite_stream_run_{tag}"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    ev = _t(spark, sf_dir, "events")
    ev.coalesce(2).write.parquet(src)
    spec = {
        "id": "stream_suite",
        "filters": [],
        "outputs": [
            {"name": "sink_hot", "when": "[value] > 300"},
            {"name": "sink_cold", "when": "!([value] > 300)"},
        ],
    }
    pipe = Pipeline(spec)
    stream = stream_from_directory(
        spark, src,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
        max_files_per_trigger=1,
    )
    run_streaming(pipe, stream, run_dir, bucket_on="event_id", n_buckets=4,
                  timeout_sec=600)
    parts = [
        spark.read.parquet(f"{run_dir}/{name}")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(name).alias("sink"), "n")
        for name in ("sink_hot", "sink_cold")
    ]
    return parts[0].unionByName(parts[1])


@_q(
    "grok_syslogline",
    """
    SELECT event_id,
           'Jan ' || CAST(user_id % 27 + 1 AS VARCHAR) || ' '
                  || strftime(ts, '%H:%M:%S') AS timestamp,
           'host' || CAST(user_id % 10 AS VARCHAR) AS logsource,
           event_type AS program,
           CAST(user_id % 5000 + 1 AS VARCHAR) AS pid,
           'done id=' || CAST(event_id AS VARCHAR) AS message
    FROM events
    """,
)
def grok_syslogline(spark, sf_dir):
    """SYSLOGLINE composite (linux-syslog family): timestamp + host +
    program[pid] + message captures from one pattern-library entry."""
    ev = _events_msg(
        spark, sf_dir,
        F.concat(
            F.lit("Jan "), (F.pmod(F.col("user_id"), F.lit(27)) + 1).cast("string"),
            F.lit(" "), F.date_format("ts", "HH:mm:ss"),
            F.lit(" host"), F.pmod(F.col("user_id"), F.lit(10)).cast("string"),
            F.lit(" "), F.col("event_type"),
            F.lit("["), (F.pmod(F.col("user_id"), F.lit(5000)) + 1).cast("string"),
            F.lit("]: done id="), F.col("event_id").cast("string"),
        ),
    )
    out = apply_stage(
        ev, {"grok": {"match": {"message": "%{SYSLOGLINE}"},
                      "overwrite": ["message"]}}
    )
    return out.select("event_id", "timestamp", "logsource", "program", "pid", "message")


@_q(
    "grok_longtail",
    f"""
    WITH ip AS (
      SELECT event_id, user_id,
             (user_id * {_IP_MULT}) % 4294967296 AS ip_int
      FROM events
    )
    SELECT event_id,
           CAST(1700000000 + event_id AS VARCHAR) AS ts_str,
           CAST(ip_int // 16777216 AS VARCHAR) || '.'
             || CAST((ip_int // 65536) % 256 AS VARCHAR) || '.'
             || CAST((ip_int // 256) % 256 AS VARCHAR) || '.'
             || CAST(ip_int % 256 AS VARCHAR) AS client_address,
           (['TCP_MISS', 'TCP_HIT'])[CAST(event_id % 2 AS INT) + 1] AS cache_result,
           (['200', '304'])[CAST(event_id % 2 AS INT) + 1] AS http_status,
           user_id AS bytes,
           (['GET', 'POST'])[CAST(user_id % 2 AS INT) + 1] AS request_method,
           'http://example.com/p' || CAST(event_id AS VARCHAR) AS url,
           'u' || CAST(user_id AS VARCHAR) AS squid_user
    FROM ip
    """,
)
def grok_longtail(spark, sf_dir):
    """Long-tail pattern-library coverage: the SQUID3 proxy access-log
    composite (squid family — one of the round-3 library additions
    alongside nagios/zeek/bacula/bind/rails/postfix and the
    firewalls/junos/cloudfront families; 323 named patterns total).
    12 captures incl. a typed %{INT:bytes:int} through the native
    multi-capture lowering (one rlike + one regexp_replace pass, zero
    Python)."""
    ev = _with_synth_ip(_t(spark, sf_dir, "events"))
    ev = ev.withColumn(
        "message",
        F.concat_ws(
            " ",
            (F.lit(1700000000) + F.col("event_id")).cast("string"),
            F.pmod(F.col("user_id"), F.lit(1000)).cast("string"),
            F.col("ip"),
            F.concat(
                F.element_at(F.array(F.lit("TCP_MISS"), F.lit("TCP_HIT")),
                             F.pmod(F.col("event_id"), F.lit(2)).cast("int") + 1),
                F.lit("/"),
                F.element_at(F.array(F.lit("200"), F.lit("304")),
                             F.pmod(F.col("event_id"), F.lit(2)).cast("int") + 1),
            ),
            F.col("user_id").cast("string"),
            F.element_at(F.array(F.lit("GET"), F.lit("POST")),
                         F.pmod(F.col("user_id"), F.lit(2)).cast("int") + 1),
            F.concat(F.lit("http://example.com/p"), F.col("event_id").cast("string")),
            F.concat(F.lit("u"), F.col("user_id").cast("string")),
            F.concat(F.lit("HIER_DIRECT/"), F.col("ip")),
            F.lit("text/html"),
        ),
    )
    out = apply_stage(ev, {"grok": {"match": {"message": "%{SQUID3}"}}})
    return out.select(
        "event_id",
        F.col("timestamp").alias("ts_str"),
        "client_address", "cache_result", "http_status", "bytes",
        "request_method", "url",
        F.col("user").alias("squid_user"),
    )


_TRANSLATE_ORACLE = """
    SELECT event_id,
           CASE event_type
             WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'revenue' ELSE 'other' END AS category
    FROM events
"""


@_q(
    "translate_dicts",
    """
    SELECT event_id,
           CASE event_type
             WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
             ELSE 'other' END AS category_inline,
           CASE event_type
             WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'revenue' ELSE 'other' END AS category_file,
           CASE WHEN regexp_matches(event_type, '^(click|view)$') THEN 'engagement'
                WHEN regexp_matches(event_type, 'chase') THEN 'revenue'
                ELSE 'other' END AS category_rx,
           CASE event_type WHEN 'click' THEN 'engagement'
                WHEN 'purchase' THEN 'revenue' END AS category_dim,
           CASE event_type WHEN 'click' THEN 10
                WHEN 'purchase' THEN 99 END AS weight
    FROM events
    """,
)
def translate_dicts(spark, sf_dir):
    """translate's four dictionary shapes chained in one pipeline:
    (1) an INLINE dictionary with a fallback (translate.rb dictionary
    => {...} + fallback — the default usage); (2) a FILE dictionary
    (translate.rb dictionary_path, loaded at plan time into a broadcast
    join dim); (3) REGEX keys (exact => false — ordered rlike
    when-chain, first matching key wins); (4) a MULTI-COLUMN DataFrame
    dimension whose value columns pack into one struct target (the
    jdbc_static shape the flagship's dominfo uses), struct fields
    selected as scalars for exact cross-engine comparison."""
    import json as _json

    path = "/tmp/suite_translate_dict.json"
    with open(path, "w") as f:
        _json.dump({"click": "engagement", "view": "engagement",
                    "purchase": "revenue"}, f)
    ev = _t(spark, sf_dir, "events")
    out = apply_stage(
        ev,
        {"translate": {"source": "event_type", "target": "category_inline",
                       "dictionary": {"click": "engagement", "view": "engagement",
                                      "purchase": "revenue", "signup": "growth"},
                       "fallback": "other"}},
    )
    out = apply_stage(
        out,
        {"translate": {"source": "event_type", "target": "category_file",
                       "dictionary_path": path, "fallback": "other"}},
    )
    out = apply_stage(
        out,
        {"translate": {"source": "event_type", "target": "category_rx",
                       "dictionary": {"^(click|view)$": "engagement",
                                      "chase": "revenue"},
                       "exact": False, "fallback": "other"}},
    )
    dim = spark.createDataFrame(
        [("click", "engagement", 10), ("purchase", "revenue", 99)],
        "etype string, category string, weight int",
    )
    out = apply_stage(
        out,
        {"translate": {"source": "event_type", "target": "info",
                       "dictionary_df": dim}},
    )
    return out.select(
        "event_id", "category_inline", "category_file", "category_rx",
        F.col("info.category").alias("category_dim"),
        F.col("info.weight").alias("weight"),
    )


@_q(
    "dedup_embedding_neardup",
    "SELECT a, b, CAST(c AS DOUBLE) AS cosine FROM (VALUES "
    + ", ".join(f"({a}, {b}, {c!r})" for a, b, c in _expected.NEARDUP_PAIRS)
    + ") AS t(a, b, c)",
)
def dedup_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: hyperplane-LSH bucket equi-join
    + exact cosine verify (the fifth dedup family). The fixture's random
    vectors have no natural near-dups (max pairwise cosine ≈ 0.4), so
    the corpus is augmented with deterministic SCALED COPIES of the
    first 25 vectors (cosine is scale-invariant ⇒ each copy pairs with
    its source at cosine 1.0) — the bucket join and the verify both do
    real work and the result is a stable row set."""
    from .datapipe.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    copies = (
        emb.filter(F.col("vec_id") < 25)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
            "label",
        )
    )
    corpus = emb.unionByName(copies)
    return embedding_neardup_pairs(corpus, threshold=0.95).select(
        "a", "b", F.round("cosine", 4).alias("cosine")
    )


@_q(
    "heartbeat_input",
    """
    SELECT 'ping' AS message,
           TIMESTAMP '2026-06-01 00:00:00' + INTERVAL (i * 30) SECOND AS event_ts,
           CAST(i AS BIGINT) AS sequence
    FROM generate_series(0, 4) AS t(i)
    """,
)
def heartbeat_input(spark, sf_dir):
    """heartbeat input: periodic marker events (range + interval)."""
    from .sources import resolve_input

    return resolve_input(
        spark, "heartbeat",
        {"count": 5, "interval": 30, "start_ts": "2026-06-01 00:00:00",
         "message": "ping"},
    )


@_q(
    "filters_longtail",
    r"""
    WITH m AS (
      SELECT event_id, event_type, value,
             'x' || CAST(user_id AS VARCHAR) || ' y' || CAST(event_id AS VARCHAR)
                 || ' z-42 w3.25' AS msg
      FROM events
    ), ex AS (
      SELECT event_id, event_type, value,
             list_transform(regexp_extract_all(msg, '[+-]?\d+(?:\.\d+)?'),
                            s -> CAST(s AS DOUBLE)) AS nums
      FROM m
    )
    SELECT event_id,
           'suite-env-value' AS deployment,
           CAST(len(nums) AS INT) AS n_numbers,
           nums[1] AS first_number,
           nums[len(nums)] AS last_number,
           value BETWEEN 100 AND 400 AS in_val_range,
           length(event_type) BETWEEN 1 AND 5 AS len_in_range
    FROM ex
    """,
)
def filters_longtail(spark, sf_dir):
    """Long-tail filter chain in one pipeline: environment (env vars →
    plan-time literal fields) → extractnumbers (every number in the
    string → array<double>, scalars selected for exact cross-engine
    comparison) → range (numeric value ranges + string-length
    ranges)."""
    import os

    os.environ["LS_SPARK_SUITE_ENV"] = "suite-env-value"
    ev = _events_msg(
        spark, sf_dir,
        F.concat(F.lit("x"), F.col("user_id").cast("string"),
                 F.lit(" y"), F.col("event_id").cast("string"),
                 F.lit(" z-42 w3.25")),
    )
    out = apply_stage(
        ev, {"environment": {"add_field_from_env": {"deployment": "LS_SPARK_SUITE_ENV"}}}
    )
    out = apply_stage(out, {"extractnumbers": {"source": "message"}})
    out, _ = build_stage({"range": {"ranges": [["value", 100, 400]]}}).transform(out)
    out = out.withColumnRenamed("__matched", "in_val_range")
    out, _ = build_stage({"range": {"ranges": [["event_type", 1, 5]]}}).transform(out)
    nums = F.col("extracted_numbers")
    return out.select(
        "event_id", "deployment",
        F.size(nums).alias("n_numbers"),
        F.get(nums, 0).alias("first_number"),
        F.get(nums, F.size(nums) - 1).alias("last_number"),
        "in_val_range",
        F.col("__matched").alias("len_in_range"),
    )


@_q("jdbc_static_enrich", _TRANSLATE_ORACLE)
def jdbc_static_enrich(spark, sf_dir):
    """jdbc_static filter (logstash-integration-jdbc): preload a DB
    table, enrich per event via a local lookup — here literally
    `spark.read.jdbc` → broadcast hash join. Runs against the Derby
    EMBEDDED driver that ships inside the Spark distribution, so the
    whole jdbc path (write dim → read dim → join) executes for real."""
    url = f"jdbc:derby:/tmp/suite_derby_{abs(hash(sf_dir)) % 10**8};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "etype string, category string",
    )
    dim.write.mode("overwrite").format("jdbc").options(
        url=url, dbtable="dim_categories", driver=driver
    ).save()
    from .sources import resolve_input

    jdbc_dim = resolve_input(
        spark, "jdbc",
        {"jdbc_connection_string": url, "dbtable": "dim_categories",
         "jdbc_driver_class": driver},
    )
    ev = _t(spark, sf_dir, "events")
    out = apply_stage(
        ev,
        {"translate": {"source": "event_type", "target": "category",
                       "dictionary_df": jdbc_dim, "fallback": "other"}},
    )
    return out.select("event_id", "category")


def _http_ti_transport(url: str):
    """Deterministic threat-intel fake for the battery's http leg —
    module-level in the shipped package so executors import it by
    reference. Partitions the event-type domain across the filter's
    three outcome paths: 2xx hit (click/view/purchase), non-2xx
    (signup → 404), transport error (everything else raises)."""
    etype = url.rsplit("/", 1)[-1]
    if etype in ("click", "view", "purchase"):
        return 200, {}, "ti:" + etype.upper()
    if etype == "signup":
        return 404, {}, "unknown indicator"
    raise OSError(f"ti service refused {etype}")


@_q(
    "cef_dns_jdbc_battery",
    """
    SELECT event_id,
           'acme' AS vendor,
           event_type AS class_id,
           CAST(user_id % 11 AS VARCHAR) AS severity,
           '10.0.0.' || CAST(user_id % 8 AS VARCHAR) AS src_ip,
           'k=' || CAST(event_id AS VARCHAR) AS msg_kv,
           CASE CAST(user_id % 8 AS INT)
             WHEN 0 THEN 'db.internal' WHEN 1 THEN 'web.internal'
             WHEN 2 THEN 'cache.internal' WHEN 3 THEN 'lb.internal'
             ELSE '10.0.0.' || CAST(user_id % 8 AS VARCHAR) END AS resolved_host,
           CASE event_type
             WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'revenue' ELSE 'other' END AS category,
           CASE WHEN event_type IN ('click', 'view', 'purchase')
                THEN 'ti:' || UPPER(event_type) END AS http_intel
    FROM events
    """,
)
def cef_dns_jdbc_battery(spark, sf_dir):
    """CEF codec decode → dns reverse-lookup enrich → jdbc_streaming
    parameterized lookup → http filter, chained over one synthesized
    security-event feed: logstash-codec-cef (native split +
    regexp_extract_all extension map, escaped ``\\=`` exercised in msg),
    logstash-filter-dns (broadcast snapshot, reverse+replace:
    unresolvable addresses stay in place per dns.rb), jdbc_streaming
    (per-DISTINCT-parameter execution over a real Derby connection ≙
    the LRU hit cache, default_hash on miss), and logstash-filter-http
    (round 5: distinct-URL dedup → DISTRIBUTED mapInPandas fetch
    through an injected transport → broadcast join back; 2xx / non-2xx
    / transport-error legs all land in the oracle via the event-type
    partition of ``_http_ti_transport``). The oracle reconstructs every
    output directly from the events table — the CEF line is
    deterministic in (event_id, user_id, event_type), so a correct
    parse is exactly the identity recovery."""
    ev = _events_msg(
        spark, sf_dir,
        F.concat(
            F.lit("CEF:0|acme|sensor|2.1|"), F.col("event_type"),
            F.lit("|threat detected|"),
            F.pmod(F.col("user_id"), F.lit(11)).cast("string"),
            F.lit("|src=10.0.0."),
            F.pmod(F.col("user_id"), F.lit(8)).cast("string"),
            F.lit(" msg=k\\="), F.col("event_id").cast("string"),
            F.lit(" act=blocked"),
        ),
    )
    url = f"jdbc:derby:/tmp/suite_derby_{abs(hash(sf_dir)) % 10**8};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "etype string, category string",
    )
    dim.write.mode("overwrite").format("jdbc").options(
        url=url, dbtable="dim_categories_cef", driver=driver,
        createTableColumnTypes="etype VARCHAR(32), category VARCHAR(32)",
    ).save()
    out = apply_stage(ev, {"cef": {}})
    out = out.withColumn("src_ip", F.col("cef.extensions").getItem("src"))
    out = apply_stage(
        out,
        {"dns": {"reverse": ["src_ip"], "action": "replace",
                 "hosts": {"db.internal": "10.0.0.0",
                           "web.internal": "10.0.0.1",
                           "cache.internal": "10.0.0.2",
                           "lb.internal": "10.0.0.3"}}},
    )
    out = apply_stage(
        out,
        {"jdbc_streaming": {
            "jdbc_connection_string": url, "jdbc_driver_class": driver,
            "statement": 'SELECT "category" FROM dim_categories_cef '
                         'WHERE "etype" = :t',
            "parameters": {"t": "[cef][device_event_class_id]"},
            "target": "cat_rows",
            "default_hash": {"category": "other"},
        }},
    )
    out = apply_stage(
        out,
        {"http": {"url": "http://ti.internal/v1/%{[cef][device_event_class_id]}",
                  "transport": _http_ti_transport,
                  "target_body": "http_intel"}},
    )
    return out.select(
        "event_id",
        F.col("cef.device_vendor").alias("vendor"),
        F.col("cef.device_event_class_id").alias("class_id"),
        F.col("cef.severity").alias("severity"),
        F.col("cef.extensions").getItem("src").alias("src_ip"),
        F.col("cef.extensions").getItem("msg").alias("msg_kv"),
        F.col("src_ip").alias("resolved_host"),
        F.element_at(F.col("cat_rows"), 1)["category"].alias("category"),
        F.col("http_intel"),
    )


@_q(
    "aggregate_timeout_flush",
    """
    SELECT user_id, false AS is_timeout_event, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS total_micros, event_id
    FROM events
    UNION ALL
    SELECT user_id, true AS is_timeout_event, count(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS total_micros,
           CAST(NULL AS BIGINT) AS event_id
    FROM events GROUP BY user_id
    """,
)
def aggregate_timeout_flush(spark, sf_dir):
    """aggregate filter: per-task_id custom-code reduce via
    applyInPandas (keys = the parallel unit, unlike the reference's
    workers=1 constraint) WITH push_map_as_event_on_timeout — originals
    flow through AND one flushed map event per task_id is appended
    (batch timeout = end-of-input; streaming path:
    streaming.aggregate_stream)."""
    import numpy as np
    import pandas as pd

    def reduce_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        micros = np.floor(pdf["value"].to_numpy() * 1e6).astype("int64")
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n": [len(pdf)],
             "total_micros": [int(micros.sum())]}
        )

    ev = _t(spark, sf_dir, "events")
    out = apply_stage(
        ev,
        {"aggregate": {"task_id": "user_id", "code": reduce_fn,
                       "schema": "user_id long, n long, total_micros long",
                       "push_map_as_event": True}},
    )
    return out.select("user_id", "is_timeout_event", "n", "total_micros", "event_id")


# ---------------------------------------------------------------------------
# Driver-window export ordering. The driver checks the FIRST 50 queries
# in registration order (round 2 proved 17 green operators can be
# invisible past the cap). The suite is consolidated to EXACTLY 50
# queries and re-exported here in operator-coverage priority — core
# dataflow first, then one row per §2 filter/enrich/flow family, then
# the free-with-Spark and datapipe batteries — so every family lands a
# driver row even if a future cap shrinks.
# ---------------------------------------------------------------------------

_EXPORT_ORDER = [
    # §2.1 core dataflow + routing + execution modes
    "conditions_surface", "route_sink_counts", "dlq_route",
    "checkpoint_resume", "streaming_route_counts", "metrics_meter",
    # §2.2 inputs
    "heartbeat_input", "jdbc_static_enrich",
    # §2.3/§2.4 parse family
    "grok_multi_capture", "grok_syslogline", "grok_longtail",
    "dissect_tokens", "kv_pairs", "json_parse", "csv_parse", "xml_parse",
    "date_multiformat", "multiline_merge",
    # §2.4 mutate family
    "mutate_chain", "translate_dicts",
    "fingerprint_hashes", "mutate_field_hygiene", "truncate_bytes",
    "syslog_pri_decode", "ruby_vectorized_udf", "filters_longtail",
    # §2.4 enrich family (+ cef codec / dns / jdbc_streaming battery)
    "geoip_two_strategies", "useragent_two_strategies", "cidr_match",
    "tld_extract", "cef_dns_jdbc_battery",
    # §2.4 flow family
    "drop_and_clone", "split_words", "throttle_rate",
    "aggregate_timeout_flush",
    # §2.6 free-with-Spark relational surface
    "pricing_summary", "top_customers", "events_rollup_hierarchy",
    "semi_anti_joins", "window_function_battery",
    # LLM-data-pipeline operators
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ngram_jaccard_pairs", "dedup_connected_components",
    "dedup_embedding_neardup", "similarity_topk_battery",
    "textstats_quality", "salted_skew_aggregate",
    "multimodal_features",
]

assert len(_EXPORT_ORDER) == 50, len(_EXPORT_ORDER)
assert set(_EXPORT_ORDER) == set(QUERIES), (
    set(_EXPORT_ORDER) ^ set(QUERIES)
)
QUERIES = {name: QUERIES[name] for name in _EXPORT_ORDER}
ORACLES = {name: ORACLES[name] for name in _EXPORT_ORDER if name in ORACLES}
