"""Enrich-family stages: lookup joins against broadcast dimension tables.

The reference does every enrichment as a per-event hash/tree lookup
with an in-process cache (translate/geoip/useragent/cidr). The Spark
re-expression is uniformly a **broadcast join** — the dimension ships
once per executor, the probe stays in whole-stage codegen, and no
shuffle touches the (huge) fact side. SURVEY §2.6 notes geoip is the
one *range* join in the reference's surface; it runs as an equi-join on
IP bins with the range test as the join condition (``geo_bins``).
translate, dns and memcached share one exact-key join (``lookup``).
Each stage has one lookup at every dim size, all in the JVM.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fieldref import field_col, field_name
from ..session import local_frame
from .base import Stage, add_tags, register, str_list


def ip_to_long(col: Column) -> Column:
    """Dotted-quad → int64, fully native (aggregate over split octets).

    ANSI-proof in two layers: try_cast nulls non-numeric octets, and a
    0..255 range gate nulls numeric-but-not-an-octet segments BEFORE the
    fold — ``"99999999999999999.1.1.1"`` must yield null (lookup miss →
    failure tag), not an ARITHMETIC_OVERFLOW abort under the ANSI-on
    default session. Exactly 4 octets required (a 5+-segment string
    would otherwise fold past 2^32 and, at 8+, overflow int64)."""
    octets = F.transform(
        F.split(col, r"\."),
        lambda x: F.when(x.try_cast("long").between(0, 255), x.try_cast("long")),
    )
    return F.when(
        F.size(octets) == 4,
        F.aggregate(octets, F.lit(0).cast("long"), lambda acc, x: acc * 256 + x),
    )


def load_dictionary_file(path: str) -> dict:
    """translate.rb's file-based dictionaries: YAML / JSON / CSV by
    extension. Loaded at plan time, once per compile (the reference
    polls the file every ``refresh_interval``; a batch engine naturally
    reloads per run — documented equivalence: one refresh per
    micro-batch run)."""
    import csv
    import json
    import os

    ext = os.path.splitext(path)[1].lower()
    if ext == ".json":
        with open(path) as f:
            return dict(json.load(f))
    if ext == ".csv":
        with open(path, newline="") as f:
            return {row[0]: row[1] for row in csv.reader(f) if len(row) >= 2}
    if ext in (".yml", ".yaml"):
        try:
            import yaml

            with open(path) as f:
                return dict(yaml.safe_load(f))
        except ImportError:
            # minimal flat "key: value" parser — enough for the
            # translate dictionary shape when PyYAML isn't installed
            out = {}
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("#") or ":" not in line:
                        continue
                    k, v = line.split(":", 1)
                    out[k.strip().strip("'\"")] = v.strip().strip("'\"")
            return out
    raise ValueError(f"unsupported dictionary file type: {path}")


def dict_frame(spark: SparkSession, table: dict) -> DataFrame:
    """A dict snapshot as a ``(key string, value)`` frame. Keys become
    strings: ``lookup`` compares the event side as a string too, so an
    int-keyed YAML/JSON dictionary never casts the event field (a cast
    that aborts on a dirty value under ANSI). The value type is the one
    Spark infers for the values; values of disagreeing types become
    strings."""
    from functools import reduce

    from pyspark.sql.types import (
        NullType, StringType, StructField, StructType, _infer_type, _merge_type,
    )

    rows = [(str(k), v) for k, v in table.items()]
    try:
        vtype = reduce(_merge_type, (_infer_type(v) for _, v in rows), NullType())
    except TypeError:
        vtype = NullType()
    if isinstance(vtype, NullType):
        vtype = StringType()
        rows = [(k, None if v is None else str(v)) for k, v in rows]
    return local_frame(spark, rows, StructType([
        StructField("key", StringType()), StructField("value", vtype)]))


def min_per_key(dim: DataFrame, key: Column, value: Column) -> DataFrame:
    """A DataFrame dim as a ``(key string, value)`` frame with one row
    per key: a duplicated key keeps ``min(value)``, a winner that is the
    same on every run and retry (``F.first`` over an unordered groupBy
    is not). The dim is small enough to broadcast, so it aggregates in
    one partition, with no shuffle."""
    return (dim.coalesce(1)
            .select(key.cast("string").alias("key"), value.alias("value"))
            .groupBy("key").agg(F.min("value").alias("value")))


def lookup(df: DataFrame, key: Column, dim: DataFrame, tmp: str) -> DataFrame:
    """The one exact-key lookup of translate, dns and memcached: a left
    broadcast hash join of ``df`` to ``dim`` (``dict_frame`` or
    ``min_per_key``, so one row per key and each event leaves as one
    row) on ``key`` compared as a string. The value lands in column
    ``tmp``, null on a miss; the fact side never shuffles."""
    dim = dim.toDF(tmp + "_k", tmp)
    return df.join(F.broadcast(dim), key.cast("string") == F.col(tmp + "_k"),
                   "left").drop(tmp + "_k")


@register("translate")
class TranslateStage(Stage):
    """logstash-filter-translate:lib/logstash/filters/translate.rb.

    conf: source, target, and one dictionary: ``dictionary`` (inline
    dict), ``dictionary_path`` (YAML/CSV/JSON file, ≙ translate.rb's
    file dictionaries) or ``dictionary_df`` (2+ column DataFrame, first
    column is the key; several value columns pack into one struct).
    ``fallback`` (F.coalesce); ``exact`` (False → dict keys are regexes,
    first match wins — a plan-time when-chain of rlike tests).
    Every exact lookup is one ``lookup`` join: an inline dict becomes
    its frame once per stage, a file is re-read on every compile (one
    refresh per micro-batch run), a DataFrame keeps ``min`` per key.
    Lookup-miss with no fallback leaves target null (reference leaves
    the field unset) and optionally tags ``tag_on_miss``.
    """

    def _dict(self) -> dict:
        if "dictionary" in self.conf:
            return self.conf["dictionary"]
        return load_dictionary_file(self.conf["dictionary_path"])

    def _dim(self, spark: SparkSession) -> DataFrame:
        if "dictionary" in self.conf:
            return self.resolve_once(spark.sparkContext, "dim",
                                     lambda: dict_frame(spark, self._dict()))
        if "dictionary_path" in self.conf:
            return dict_frame(spark, self._dict())
        dim: DataFrame = self.conf["dictionary_df"]
        key, *vals = dim.columns
        return min_per_key(dim, F.col(key), F.col(vals[0]) if len(vals) == 1
                           # multi-column dictionary → one struct (jdbc_static-style)
                           else F.struct(*vals))

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        target = self.conf.get("target", "translation")
        fallback = self.conf.get("fallback")
        src = field_col(self.conf["source"])
        tmp = "__translation"
        if self.conf.get("exact", True) or "dictionary_df" in self.conf:
            df = lookup(df, src, self._dim(df.sparkSession), tmp)
        else:
            # regex-key mode: ordered rlike when-chain (keys are few;
            # each is one codegen'd regexp test)
            chain = None
            for k, v in self._dict().items():
                cond = src.rlike(str(k))
                chain = (
                    F.when(cond, F.lit(v)) if chain is None else chain.when(cond, F.lit(v))
                )
            df = df.withColumn(tmp, chain if chain is not None else F.lit(None).cast("string"))
        # tag and pin the match before the target write: target may be
        # the source field itself
        hit = F.col(tmp).isNotNull()
        df = add_tags(df, str_list(self.conf.get("tag_on_miss")),
                      src.isNotNull() & ~hit)
        val = F.col(tmp) if fallback is None else F.coalesce(F.col(tmp), F.lit(fallback))
        df = df.withColumn("__matched", hit).withColumn(target, val).drop(tmp)
        return df, F.col("__matched")


_IP_MAX = 2**32 - 1


def geo_bins(spark: SparkSession, ranges: DataFrame) -> tuple[int, DataFrame]:
    """The geoip dim as a binned hash-join build side: ``(k, bins)``.

    The ranges are collected sorted by start and checked: an inverted
    range or two overlapping ones raise ValueError naming them (mmdb
    leaves never overlap, so each IP lies in at most one range). Bins
    are ``ip >> k`` with ``k`` sized so there are about as many bins as
    ranges; each range becomes one row per bin it touches, so the build
    side has fewer than 3 rows per range and an IP's bin holds every
    range that can contain it."""
    rows = (ranges.select("ip_start_int", "ip_end_int", "country", "city", "lat", "lon")
            .orderBy("ip_start_int").collect())
    prev = None
    for lo, hi, *_ in rows:
        if lo is None or hi is None or lo > hi:
            raise ValueError(f"geoip: range [{lo}, {hi}] is inverted or unbounded")
        if prev is not None and lo <= prev[1]:
            raise ValueError(
                f"geoip: ranges [{prev[0]}, {prev[1]}] and [{lo}, {hi}] overlap; "
                "each IP must lie in at most one range")
        prev = (lo, hi)
    k = max(0, 32 - (len(rows) - 1).bit_length())
    bins = [
        (b, lo, hi, tuple(geo))
        for lo, hi, *geo in rows
        for b in range(max(lo, 0) >> k, (min(hi, _IP_MAX) >> k) + 1)
    ]
    return k, local_frame(
        spark, bins,
        "__geo_bin long, __geo_lo long, __geo_hi long, "
        "__geo struct<country:string,city:string,lat:double,lon:double>")


@register("geoip")
class GeoipStage(Stage):
    """logstash-filter-geoip (MaxMind mmdb lookup in the reference).

    conf: source (ip string), target (default "geo"), ranges_df with
    (ip_start_int, ip_end_int, country, city, lat, lon) and
    non-overlapping ranges. The lookup is one left broadcast hash join
    on the IP's bin (``geo_bins``) with ``ip BETWEEN lo AND hi`` as its
    condition: O(1) per event at any dim size, no Python, and at most
    one range per event, so every event leaves as exactly one row.
    Miss → null struct + ``_geoip_lookup_failure`` tag (reference tag)
    when the source is set.

    The dim is collected, checked and binned when the stage is built
    (``register()`` parity), so overlapping ranges fail before a run
    writes anything, and later compiles reuse the bins and start no
    Spark job (``Stage.resolve_once``).
    """

    FAILURE_TAGS = ("_geoip_lookup_failure",)

    def __init__(self, conf: dict):
        super().__init__(conf)
        self._bins(self.conf["ranges_df"].sparkSession)

    def _bins(self, spark: SparkSession) -> tuple[int, DataFrame]:
        return self.resolve_once(spark.sparkContext, "bins",
                                 lambda: geo_bins(spark, self.conf["ranges_df"]))

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        target = self.conf.get("target", "geo")
        src_ip = field_col(self.conf["source"])
        k, bins = self._bins(df.sparkSession)
        ip = F.col("__geo_ip")
        df = (
            df.withColumn("__geo_ip", ip_to_long(src_ip))
            .join(F.broadcast(bins),
                  (F.shiftright(ip, k) == F.col("__geo_bin"))
                  & ip.between(F.col("__geo_lo"), F.col("__geo_hi")),
                  "left")
            .withColumn(target, F.col("__geo"))
            .drop("__geo_ip", "__geo_bin", "__geo_lo", "__geo_hi", "__geo")
        )
        matched = F.col(target).isNotNull()
        df = add_tags(df, self.failure_tags, src_ip.isNotNull() & ~matched)
        return df, matched


@register("useragent")
class UseragentStage(Stage):
    """logstash-filter-useragent (uap-java regex db in the reference).

    conf: source, target (default "ua"), rules_df with
    (pattern, name, os, device, priority). First match in priority
    order wins — exactly the uap-core matching contract — as one
    priority-ordered when/rlike chain building the struct, in Java at
    any rule count. Patterns are Java regex (``\\w`` is ASCII), the
    same stance as the grok lowering. Past a few hundred rules the
    generated code exceeds 64 KB and Spark runs the chain interpreted,
    which measured faster than the deleted pandas matcher at 300 and
    1000 rules (``AB_NATIVE_ENRICH.json``).

    The rule set is collected once per stage object (``register()``
    parity, ``Stage.resolve_once``).
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        target = self.conf.get("target", "ua")
        rules_df: DataFrame = self.conf["rules_df"]
        rules = self.resolve_once(df.sparkSession.sparkContext, "rules", lambda: [
            (r["pattern"], r["name"], r["os"], r["device"])
            for r in rules_df.orderBy("priority").collect()
        ])
        src = field_col(self.conf["source"])
        chain = None
        for pat, name, os_, dev in rules:
            hit = src.rlike(pat)
            val = F.struct(
                F.lit(name).alias("name"), F.lit(os_).alias("os"),
                F.lit(dev).alias("device"),
            )
            chain = F.when(hit, val) if chain is None else chain.when(hit, val)
        ua = chain if chain is not None else F.lit(None).cast(
            "struct<name:string,os:string,device:string>"
        )
        df = df.withColumn(target, ua)
        return df, F.col(f"{target}.name").isNotNull()


@register("cidr")
class CidrStage(Stage):
    """logstash-filter-cidr: ip ∈ any of N CIDR networks → matched
    (tags/fields via common options). Networks resolve to [lo, hi] at
    plan time; the test is a native OR-chain of BETWEENs."""

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        import ipaddress

        address = self.conf["address"]
        networks = str_list(self.conf["network"])
        ip_int = ip_to_long(field_col(address))
        cond = F.lit(False)
        for net in networks:
            n = ipaddress.ip_network(net)
            lo, hi = int(n.network_address), int(n.broadcast_address)
            cond = cond | ((ip_int >= F.lit(lo)) & (ip_int <= F.lit(hi)))
        return df.withColumn("__matched", cond), F.col("__matched")


def load_hosts_file(path: str) -> dict[str, str]:
    """/etc/hosts-format snapshot → {name: address}. First mapping per
    name wins (resolver semantics); aliases on the same line map to the
    same address. The file is read at plan time, once per compile — the
    broadcast snapshot is this engine's analog of dns.rb's
    ``hit_cache``."""
    out: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            parts = line.split()
            if len(parts) < 2:
                continue
            addr, *names = parts
            for n in names:
                out.setdefault(n.lower(), addr)
    return out


@register("dns")
class DnsStage(Stage):
    """logstash-filter-dns:lib/logstash/filters/dns.rb — resolve
    hostnames to addresses (A-record, ``resolve``) and addresses to
    hostnames (PTR, ``reverse``) in place.

    conf:
      resolve: [field, …] — values are hostnames, looked up → address
      reverse: [field, …] — values are addresses, looked up → hostname
      action: "append" (dns.rb default: field becomes an array with the
        resolved value appended) | "replace" (scalar swap in place)
      hosts: inline {name: address} dict  |  hosts_path: /etc/hosts-
        format file (plan-time load)  |  hosts_df: DataFrame whose first
        two columns are (name, address) → broadcast hash join
      tag_on_miss: optional tag when any requested lookup misses
        (engine extension; dns.rb's only failure tag is
        ``tag_on_timeout``, meaningless without a live resolver)

    Spark re-expression — and the one deliberate deviation: dns.rb
    queries a LIVE resolver per event behind an LRU ``hit_cache``. A
    live lookup inside a distributed job is non-deterministic,
    rate-limited, and a per-row blocking syscall, so this stage takes
    the resolution table as an explicit **broadcast snapshot** (the
    same pattern as translate/jdbc_static), and every lookup is one
    ``lookup`` join per field, no shuffle on the fact side. Each
    direction has its own ``(key, value)`` table: forward keys are
    lower-cased names (DNS names are case-insensitive), reverse keys are
    addresses verbatim. A dict's reverse table keeps the first name per
    address; a DataFrame keeps ``min`` per key in both directions. An
    inline dict becomes its tables once per stage; a hosts file is
    re-read on every compile, so the snapshot refreshes per micro-batch
    run, exactly like translate's ``refresh_interval`` equivalence. Per
    dns.rb, a failed lookup leaves the field unchanged and the filter
    only counts as matched (common options applied) when ALL requested
    lookups succeed.
    Typed-column note for ``append``: Spark columns are uniformly
    typed, so append mode casts the field to array<string> for every
    row — hit → [original, resolved], miss → [original] (the reference
    leaves misses scalar; documented deviation).
    """

    def _tables(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Direction → its snapshot table: "fwd" name → address, "rev"
        address → name."""
        if self.conf.get("hosts") is not None:
            fwd = {str(k).lower(): str(v) for k, v in self.conf["hosts"].items()}
        elif self.conf.get("hosts_path") is not None:
            fwd = load_hosts_file(self.conf["hosts_path"])
        else:
            hosts_df: DataFrame = self.conf["hosts_df"]
            name_c, addr_c = hosts_df.columns[:2]
            name, addr = F.lower(F.col(name_c)), F.col(addr_c)
            return {"fwd": min_per_key(hosts_df, name, addr),
                    "rev": min_per_key(hosts_df, addr, name)}
        rev = {v: k for k, v in reversed(list(fwd.items()))}
        return {"fwd": dict_frame(spark, fwd), "rev": dict_frame(spark, rev)}

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        resolve = list(self.conf.get("resolve", []))
        reverse = list(self.conf.get("reverse", []))
        action = self.conf.get("action", "append")
        if action not in ("append", "replace"):
            raise ValueError(f"dns: action must be append|replace, got {action!r}")
        if not resolve and not reverse:
            raise ValueError("dns: need at least one of resolve/reverse")
        if all(self.conf.get(k) is None for k in ("hosts", "hosts_path", "hosts_df")):
            raise ValueError(
                "dns: a resolution snapshot is required (hosts / hosts_path / "
                "hosts_df) — live resolvers are per-row blocking syscalls and "
                "non-deterministic across executors; snapshot-join instead"
            )
        spark = df.sparkSession
        tables = (self.resolve_once(spark.sparkContext, "tables",
                                    lambda: self._tables(spark))
                  if self.conf.get("hosts") is not None else self._tables(spark))

        all_hit = F.lit(True)
        any_requested_miss = F.lit(False)
        writes: list[tuple[str, Column]] = []
        drops: list[str] = []
        for i, (field, direction) in enumerate(
            [(f, "fwd") for f in resolve] + [(f, "rev") for f in reverse]
        ):
            src = field_col(field)
            tmp = f"__dns_{i}"
            df = lookup(df, F.lower(src) if direction == "fwd" else src,
                        tables[direction], tmp)
            drops.append(tmp)
            val = F.col(tmp)
            hit = val.isNotNull()
            all_hit = all_hit & (src.isNull() | hit)
            any_requested_miss = any_requested_miss | (src.isNotNull() & ~hit)
            if action == "replace":
                new = F.when(hit, val).otherwise(src)
            else:
                new = F.when(hit, F.array(src, val)).otherwise(F.array(src))
            writes.append((field_name(field), new))
        # materialize the predicates BEFORE the in-place overwrites:
        # `hit` references the source field, and replace mode rewrites
        # that very column — a lazily-kept expression would re-resolve
        # against the RESOLVED value (always a miss) after the write
        df = df.withColumn("__matched", all_hit).withColumn(
            "__dns_miss", any_requested_miss
        )
        for name, col in writes:
            df = df.withColumn(name, col)
        df = add_tags(df.drop(*drops), str_list(self.conf.get("tag_on_miss")),
                      F.col("__dns_miss"))
        return df.drop("__dns_miss"), F.col("__matched")


@register("tld")
class TldStage(Stage):
    """logstash-filter-tld-style domain/suffix extraction.

    conf: source (url column), suffixes (list of public suffixes;
    longest match wins — resolved at plan time into ONE when-chain
    ordered by label count, all JVM-side). Adds ``domain`` and ``tld``.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "url")
        suffixes: list[str] = self.conf["suffixes"]
        host = F.try_parse_url(field_col(source), F.lit("HOST"))
        df = df.withColumn("domain", host)
        expr = F.lit(None).cast("string")
        chain = None
        for suf in sorted(suffixes, key=lambda s: -s.count(".")):
            cond = host.endswith("." + suf)
            chain = F.when(cond, F.lit(suf)) if chain is None else chain.when(cond, F.lit(suf))
        expr = chain.otherwise(F.lit(None)) if chain is not None else expr
        df = df.withColumn("tld", expr)
        return df, F.col("tld").isNotNull()


# java.sql.Types code → Spark type for jdbc_streaming result columns.
# Resolved from PreparedStatement metadata BEFORE execution, so the
# target schema is deterministic even when every lookup returns 0 rows.
_JDBC_TYPE_MAP = {
    4: "long", -5: "long", 5: "long", -6: "long",          # INT/BIGINT/SMALL/TINY
    12: "string", 1: "string", -1: "string", -9: "string",  # VARCHAR/CHAR/LONG/N
    8: "double", 6: "double", 7: "double",                  # DOUBLE/FLOAT/REAL
    3: "double", 2: "double",                               # DECIMAL/NUMERIC (doc'd)
    16: "boolean",
    93: "string", 91: "string", 92: "string",               # TS/DATE/TIME → ISO str
}


@register("jdbc_streaming")
class JdbcStreamingStage(Stage):
    """logstash-integration-jdbc:lib/logstash/filters/jdbc_streaming.rb —
    per-event parameterized SQL lookup: ``statement`` with ``:name``
    placeholders bound from event fields via ``parameters``, result
    rows (array of row-structs) stored in ``target``.

    conf: jdbc_connection_string, jdbc_driver_class, statement,
    parameters ({param: field_ref}), target, default_hash (used when a
    lookup returns 0 rows; tags tag_on_default_use),
    tag_on_default_use (default ["_jdbcstreamingdefaultsused"]),
    max_distinct_params (guard, default 100_000).

    Spark re-expression of the per-event semantics: the reference runs
    the statement once per event behind an LRU ``cache_size`` hit
    cache — i.e. the real work is one execution per DISTINCT parameter
    tuple. This stage makes that exact: collect the micro-batch's
    distinct parameter tuples (the batch-wide equivalent of the LRU
    cache, guarded by ``max_distinct_params``), execute the UNMODIFIED
    parameterized statement once per tuple over a single driver-side
    JDBC connection (java.sql.PreparedStatement via the JVM gateway —
    arbitrary SQL, no statement parsing), and broadcast-join the
    result dim back on the tuple. Per-event results are identical to
    the reference for any statement that is a pure function of its
    parameters (the cache assumption the reference itself makes).
    When distinct-param cardinality exceeds the guard the stage
    DEGRADES GRACEFULLY to the jdbc_static-shaped plan: the statement's
    ``col = :param`` equality conjuncts are lifted out, the rewritten
    query is read ONCE through the distributed jdbc source, and the
    per-tuple dim is rebuilt with a distributed join against the
    batch's keys — identical enrichment (pytest-proven), no driver
    collect. Statements whose params are not plain top-level equality
    conjuncts (LIKE, expressions, nested SELECT, GROUP BY…) keep the
    loud error — that shape is genuinely unbounded; use jdbc_static.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        import re as _re

        spark = df.sparkSession
        statement: str = self.conf["statement"]
        parameters: dict[str, str] = self.conf.get("parameters", {})
        target = self.conf.get("target", "jdbc_result")
        url = self.conf["jdbc_connection_string"]
        driver = self.conf.get("jdbc_driver_class",
                               "org.apache.derby.jdbc.EmbeddedDriver")
        max_distinct = int(self.conf.get("max_distinct_params", 100_000))

        # :name placeholders → ordered ? placeholders (string literals in
        # the statement may not contain colons followed by word chars —
        # same tokenizer bar as the reference's Sequel binding)
        order: list[str] = []

        def _sub(m):
            order.append(m.group(1))
            return "?"

        sql = _re.sub(r":(\w+)", _sub, statement)
        unknown = [p for p in order if p not in parameters]
        if unknown:
            raise ValueError(f"jdbc_streaming: statement binds {unknown} "
                             f"but parameters only defines {list(parameters)}")

        # distinct parameter tuples from THIS batch ≙ the LRU hit cache
        key_cols = list(dict.fromkeys(order)) or list(parameters)
        if not key_cols:
            raise ValueError(
                "jdbc_streaming: the statement has no :param placeholders "
                "and `parameters` is empty — nothing binds the query to "
                "events. Use jdbc_static for a parameterless preload, or "
                "add a :param / parameters entry."
            )
        keys_df = df.select(
            *[field_col(parameters[p]).cast("string").alias(f"__p_{p}")
              for p in key_cols]
        ).distinct()
        distinct = keys_df.limit(max_distinct + 1).collect()
        if len(distinct) > max_distinct:
            # graceful degradation (round 5): above the guard, switch to
            # the jdbc_static-shaped plan — ONE spark.read of
            # (single-connection unless jdbc_read_options partitions it)
            # the statement with its param predicates lifted out, joined
            # back to the batch's keys distributed-side (no driver
            # collect, no per-tuple executions). Only statements whose
            # every :param sits in a top-level `col = :param` equality
            # conjunct qualify; anything else keeps the loud error.
            return self._transform_degraded(
                df, spark, statement, sql, order, parameters, key_cols,
                keys_df, target, url, driver, max_distinct)

        jvm = spark._jvm
        jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            ps = conn.prepareStatement(sql)
            meta = ps.getMetaData()
            ncols = meta.getColumnCount()
            names = [meta.getColumnLabel(i + 1).lower() for i in range(ncols)]
            types = [_JDBC_TYPE_MAP.get(meta.getColumnType(i + 1), "string")
                     for i in range(ncols)]
            # strict drivers (Derby) reject setString on numeric params —
            # coerce per ParameterMetaData
            try:
                pmeta = ps.getParameterMetaData()
                praw = [pmeta.getParameterType(i + 1) for i in range(len(order))]
            except Exception:
                praw = [12] * len(order)  # java.sql.Types.VARCHAR
            ptypes = [_JDBC_TYPE_MAP.get(c, "string") for c in praw]
            dim_rows = []
            for row in distinct:
                vals = {p: row[f"__p_{p}"] for p in key_cols}
                try:
                    for i, p in enumerate(order):
                        v = vals[p]
                        if v is None:
                            ps.setNull(i + 1, praw[i])
                        elif ptypes[i] == "long":
                            # float renderings ('3.0') bind fine; garbage
                            # strings against a numeric column are a
                            # per-tuple lookup MISS (reference behavior:
                            # the event just gets 0 rows / default_hash),
                            # never a stage abort
                            ps.setLong(i + 1, int(float(v)))
                        elif ptypes[i] == "double":
                            ps.setDouble(i + 1, float(v))
                        else:
                            ps.setString(i + 1, v)
                except (ValueError, OverflowError):
                    dim_rows.append(tuple(vals[p] for p in key_cols) + ([],))
                    continue
                rs = ps.executeQuery()
                hits = []
                while rs.next():
                    rec = []
                    for i in range(ncols):
                        v = rs.getObject(i + 1)
                        if v is not None and types[i] == "string":
                            v = str(v)
                        elif v is not None and types[i] == "long":
                            v = int(v)
                        elif v is not None and types[i] == "double":
                            v = float(v)
                        rec.append(v)
                    hits.append(tuple(rec))
                rs.close()
                # DETERMINISTIC multi-hit order (es-filter stance): a
                # statement without ORDER BY returns rows in arbitrary
                # scan order, which would differ across retries/replays
                # and from the degraded regime's sort_array. Same
                # ordering as sort_array: ascending, nulls first.
                hits.sort(key=lambda t: tuple((v is not None, v)
                                              for v in t))
                dim_rows.append(tuple(vals[p] for p in key_cols) + (hits,))
            ps.close()
        finally:
            conn.close()

        struct_t = ", ".join(f"{n}: {t}" for n, t in zip(names, types))
        schema = (
            ", ".join(f"__p_{p} string" for p in key_cols)
            + f", {target} array<struct<{struct_t}>>"
        )
        dim = local_frame(spark, dim_rows, schema)
        return self._join_dim(df, F.broadcast(dim), key_cols, parameters,
                              target, names, types)

    def _join_dim(self, df, dim, key_cols, parameters, target, names, types):
        """Shared tail of both regimes: left-join the per-tuple dim back
        onto the events, then apply default_hash/tag_on_default_use."""
        join_cond = None
        for p in key_cols:
            c = field_col(parameters[p]).cast("string").eqNullSafe(F.col(f"__p_{p}"))
            join_cond = c if join_cond is None else (join_cond & c)
        out = df.join(dim, join_cond, "left").drop(
            *[f"__p_{p}" for p in key_cols]
        )
        # materialize BEFORE the default_hash overwrite of `target` —
        # a lazy expression would re-resolve against the defaulted array
        out = out.withColumn("__matched", F.size(F.col(target)) > 0)
        default = self.conf.get("default_hash")
        if default is not None:
            default_struct = F.struct(*[
                F.lit(default.get(n)).cast(t).alias(n)
                for n, t in zip(names, types)
            ])
            out = out.withColumn(
                target,
                F.when(F.col("__matched"), F.col(target))
                .otherwise(F.array(default_struct)),
            )
            out = add_tags(
                out,
                str_list(self.conf.get("tag_on_default_use",
                                       ["_jdbcstreamingdefaultsused"])),
                ~F.col("__matched"),
            )
        return out, F.col("__matched")

    @staticmethod
    def _balanced(text: str) -> bool:
        depth = 0
        for c in text:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth < 0:
                    return False
        return depth == 0

    @staticmethod
    def _rewrite_param_conjuncts(statement: str,
                                 key_cols: list[str]) -> tuple[dict, str]:
        """Validate + rewrite for the degraded regime: each ``:param``
        must sit in a TOP-LEVEL AND CONJUNCT of the WHERE clause of the
        exact form ``col = :param`` (or reversed, optionally wrapped in
        redundant parens). Only then does replacing the conjunct with
        ``1=1`` and re-applying the equality as a join predicate give
        the same rows as the fast path's per-tuple execution — a param
        equality under OR/NOT (``code = :c OR vip = 1``) contributes
        rows NOT keyed by the param, which a join on the hoisted column
        would silently drop. Returns ({param: col_ident}, rewritten);
        raises ValueError(why) for non-qualifying shapes.

        The scan is quote-aware (``'...'`` strings with ``''`` escapes,
        ``"..."`` identifiers) and paren-depth-aware, so ``AND``/
        ``WHERE`` inside literals or subexpressions never split."""
        import re as _re

        n = len(statement)
        top = [False] * n  # top-level: depth 0, outside quotes
        depth, i, in_sq, in_dq = 0, 0, False, False
        while i < n:
            c = statement[i]
            if in_sq:
                if c == "'":
                    if i + 1 < n and statement[i + 1] == "'":
                        i += 2
                        continue
                    in_sq = False
            elif in_dq:
                if c == '"':
                    in_dq = False
            else:
                if c == "'":
                    in_sq = True
                elif c == '"':
                    in_dq = True
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                else:
                    top[i] = depth == 0
            i += 1

        def _top_matches(pat: str, start: int, end: int):
            return [m for m in _re.finditer(pat, statement[start:end],
                                            _re.I)
                    if all(top[start + j] for j in range(m.start(),
                                                         m.end()))]

        wheres = _top_matches(r"\bWHERE\b", 0, n)
        if len(wheres) != 1:
            raise ValueError(
                "params must bind in a single top-level WHERE clause")
        w_start = wheres[0].end()
        tails = _top_matches(
            r"\b(ORDER\s+BY|LIMIT|OFFSET|FETCH)\b", w_start, n)
        w_end = (w_start + tails[0].start()) if tails else n

        # conjunct spans: WHERE body split at top-level ANDs
        ands = _top_matches(r"\bAND\b", w_start, w_end)
        bounds = [w_start]
        for m in ands:
            bounds += [w_start + m.start(), w_start + m.end()]
        bounds.append(w_end)
        spans = [(bounds[i], bounds[i + 1])
                 for i in range(0, len(bounds), 2)]

        ident = r'(?:"[\w.]+"|[\w.]+)'
        idents: dict[str, str] = {}
        replace: dict[str, tuple[int, int]] = {}
        for p in key_cols:
            eq = _re.compile(
                rf"({ident})\s*=\s*:{p}\Z|:{p}\s*=\s*({ident})\Z")
            hits = []
            for a, b in spans:
                text = statement[a:b].strip()
                # unwrap redundant BALANCED outer parens: (a = :x)
                while (text.startswith("(") and text.endswith(")")
                       and JdbcStreamingStage._balanced(text[1:-1])):
                    text = text[1:-1].strip()
                m = eq.fullmatch(text)
                if m:
                    hits.append(((a, b), m.group(1) or m.group(2)))
            if len(hits) != 1:
                raise ValueError(
                    f":{p} must appear exactly once as a top-level "
                    f"`col = :{p}` AND-conjunct of the WHERE clause "
                    f"(found {len(hits)} qualifying conjuncts)")
            replace[p], idents[p] = hits[0]

        out, last = [], 0
        for a, b in sorted(replace.values()):
            out.append(statement[last:a])
            out.append(" 1=1 ")
            last = b
        out.append(statement[last:])
        return idents, "".join(out)

    def _transform_degraded(self, df, spark, statement, sql, order,
                            parameters, key_cols, keys_df, target,
                            url, driver, max_distinct):
        """High-cardinality regime: rewrite ``col = :param`` equality
        conjuncts to ``1=1``, hoist each ``col`` into the projection, read
        the whole rewritten statement ONCE via the distributed jdbc
        source, and rebuild the per-tuple dim by joining it to the
        batch's distinct keys (matching the fast path's exact bind
        semantics: long params truncate through float, garbage strings
        are per-tuple misses, NULL never equals). Statement shapes whose
        parameters are not plain top-level equality conjuncts keep the
        loud guard error — that case is genuinely unbounded.

        ORDER BY inside the statement is NOT preserved within each
        result array in this regime (a distributed join has no row
        order); arrays come back sorted by their full struct value
        instead — deterministic, documented deviation.
        """
        import re as _re

        def _unsupported(why: str):
            return ValueError(
                f"jdbc_streaming: >{max_distinct} distinct parameter "
                f"tuples in one batch and the statement does not qualify "
                f"for the degraded jdbc_static-shaped plan ({why}) — use "
                "jdbc_static (preload + join) for high-cardinality keys, "
                "or raise max_distinct_params"
            )

        up = statement.upper()
        for kw in (" GROUP BY ", " DISTINCT ", " UNION ", " HAVING "):
            if kw in f" {' '.join(up.split())} ":
                raise _unsupported(f"contains {kw.strip()}")
        if up.count("SELECT") != 1:
            raise _unsupported("nested SELECT")

        # locate each param's `col = :param` conjunct — TOP-LEVEL AND
        # conjuncts of the WHERE clause only (quote/paren-aware): a
        # param equality under OR/NOT contributes rows not keyed by the
        # param, which the join-back would silently drop
        try:
            idents, rewritten = self._rewrite_param_conjuncts(
                statement, key_cols)
        except ValueError as e:
            raise _unsupported(str(e)) from None
        if _re.search(r":\w+", rewritten):
            raise _unsupported("a :param is used outside an equality conjunct")

        # hoist the key columns in front of the original projection
        # double-quoted aliases: plain identifiers may not start with '_'
        # in some dialects (Derby), and quoting pins the label case
        key_sel = ", ".join(
            f'{idents[p]} AS "__pk_{j}"' for j, p in enumerate(key_cols)
        )
        rewritten, nsub = _re.subn(
            r"^\s*SELECT\s+", f"SELECT {key_sel}, ", rewritten,
            count=1, flags=_re.I,
        )
        proj = _re.split(r"\bFROM\b", rewritten, flags=_re.I)[0]
        if nsub != 1 or "*" in proj:
            raise _unsupported("projection must be an explicit column list")

        # result-column + param types from the ORIGINAL statement's
        # PreparedStatement metadata (one prepare, zero executions)
        jvm = spark._jvm
        jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            ps = conn.prepareStatement(sql)
            meta = ps.getMetaData()
            ncols = meta.getColumnCount()
            names = [meta.getColumnLabel(i + 1).lower() for i in range(ncols)]
            types = [_JDBC_TYPE_MAP.get(meta.getColumnType(i + 1), "string")
                     for i in range(ncols)]
            try:
                pmeta = ps.getParameterMetaData()
                praw = [pmeta.getParameterType(i + 1) for i in range(len(order))]
            except Exception:
                praw = [12] * len(order)
            ps.close()
        finally:
            conn.close()
        ptype_of = {
            p: _JDBC_TYPE_MAP.get(praw[order.index(p)], "string")
            for p in key_cols
        }

        # The rewritten statement is read through the distributed jdbc
        # source. By DEFAULT that is still ONE connection / ONE task
        # (Spark's jdbc source does not split a query without explicit
        # partitioning) — fine up to a few million dim rows, a
        # bottleneck beyond. `jdbc_read_options` passes Spark's standard
        # partitioning/fetch options straight through (partitionColumn /
        # lowerBound / upperBound / numPartitions, fetchsize, …) so the
        # scan parallelizes when the backing table warrants it; note
        # partitionColumn must name a column of the REWRITTEN query
        # (the hoisted keys are exposed as "__pk_0"…). Spark forbids
        # `query` together with `partitionColumn`, so the partitioned
        # form wraps the statement as a dbtable subquery instead.
        read_opts = dict(self.conf.get("jdbc_read_options", {}))
        read_opts.setdefault("fetchsize", "10000")
        if "partitionColumn" in read_opts:
            stmt_opt = {"dbtable": f"({rewritten}) spark_jdbc_q"}
        else:
            stmt_opt = {"query": rewritten}
        dim_raw = (
            spark.read.format("jdbc")
            .options(url=url, driver=driver, **stmt_opt, **read_opts)
            .load()
        )
        raw_cols = dim_raw.columns
        nk = len(key_cols)

        # keys_df (raw event strings) ⋈ dim_raw, reproducing the fast
        # path's bind coercions column-by-column
        cond = None
        for j, p in enumerate(key_cols):
            ev = F.col(f"__p_{p}")
            db = F.col(f"`{raw_cols[j]}`")
            t = ptype_of[p]
            if t == "long":
                # setLong(int(float(v))): parse as double, truncate to long
                c = ev.try_cast("double").try_cast("long") == db.try_cast("long")
            elif t == "double":
                c = ev.try_cast("double") == db.try_cast("double")
            else:
                c = ev == db.try_cast("string")
            cond = c if cond is None else (cond & c)
        hit = F.col(f"`{raw_cols[0]}`").isNotNull()
        struct_cols = F.struct(*[
            F.col(f"`{raw_cols[nk + i]}`").try_cast(t).alias(n)
            for i, (n, t) in enumerate(zip(names, types))
        ])
        struct_t = ", ".join(f"{n}: {t}" for n, t in zip(names, types))
        dim = (
            keys_df.join(dim_raw, cond, "left")
            .groupBy(*[F.col(f"__p_{p}") for p in key_cols])
            .agg(
                F.sort_array(
                    F.collect_list(F.when(hit, struct_cols))
                ).cast(f"array<struct<{struct_t}>>").alias(target)
            )
        )
        return self._join_dim(df, dim, key_cols, parameters,
                              target, names, types)


@register("elasticsearch")
class ElasticsearchStage(Stage):
    """logstash-filter-elasticsearch:lib/logstash/filters/elasticsearch.rb —
    per event: run a query against an index, copy fields of the best hit
    onto the event (``fields => {es_field => event_field}``, ``sort``).

    Spark re-expression: the index is a SNAPSHOT DataFrame — on a
    cluster that is literally ``spark.read.format("es")`` via the
    es-hadoop connector (or an exported index in parquet); the sandbox
    exercises the identical plan with a DataFrame fixture. The supported
    query subset is the dominant real-world usage, term-equality lookup:
    ``match: {index_col: event_field_ref}`` (the ``query_template``
    ``{"term": …}`` shape). ``sort: "col:desc"`` picks the best hit per
    key DIM-SIDE with native ``max_by``/``min_by`` aggregation BEFORE
    the broadcast join — the fact side never shuffles and never
    explodes (the reference copies from the single top hit the same
    way). Misses tag ``_elasticsearch_lookup_failure`` (reference
    ``tag_on_failure`` default).
    """

    FAILURE_TAGS = ("_elasticsearch_lookup_failure",)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        index_df: DataFrame = self.conf["index_df"]
        match: dict[str, str] = self.conf["match"]
        fields: dict[str, str] = self.conf.get("fields", {})
        if not match:
            raise ValueError("elasticsearch: match => {index_col: field} required")
        if not fields:
            raise ValueError("elasticsearch: fields => {es_field: target} required")
        sort = self.conf.get("sort")

        keys = list(match)
        payload = [c for c in fields if c not in keys]
        if not payload:
            # every requested field is a match key — the hit struct only
            # marks existence (F.struct() of nothing is not expressible)
            payload = ["__es_exists"]
            index_df = index_df.withColumn("__es_exists", F.lit(True))
        # best-hit pick via a dim-side window, fully deterministic:
        #  * rows whose sort column is null are returned LAST, not lost
        #    (ES "missing: _last" default — max_by over a nullable sort
        #    key would silently DROP a key whose every row has a null
        #    sort value);
        #  * a bare sort field defaults to ASC (the ES sort default);
        #  * without a sort, every column is a stable tiebreak (F.first
        #    over an unordered group would be retry/resume
        #    nondeterministic, breaking checkpoint replay).
        from pyspark.sql.window import Window

        q = lambda c: F.col(f"`{c}`")  # noqa: E731 — dotted ES names stay literal
        if sort:
            scol, _, direction = sort.partition(":")
            primary = (
                q(scol.strip()).desc_nulls_last()
                if direction.strip() == "desc"
                else q(scol.strip()).asc_nulls_last()
            )
            order = [primary]
        else:
            order = []
        # tiebreak only on ORDERABLE columns: a map-typed column (legal in
        # an ES export) cannot appear in an ORDER BY — Spark's rule is
        # map → never orderable; array/struct → orderable iff their
        # element/field types are.
        from pyspark.sql import types as T

        def _orderable(dt) -> bool:
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        tiebreak = [
            q(f.name)
            for f in index_df.schema.fields
            if not f.name.startswith("__es_") and _orderable(f.dataType)
        ]
        w = Window.partitionBy(*[q(k) for k in keys]).orderBy(*order, *tiebreak)
        hit_struct = F.struct(*[q(c).alias(c) for c in payload])
        dim = (
            index_df.withColumn("__es_rn", F.row_number().over(w))
            .filter(F.col("__es_rn") == 1)
            .select(
                *[q(k).alias(f"__es_k_{k}") for k in keys],
                hit_struct.alias("__es_hit"),
            )
        )
        cond = None
        for k, ref in match.items():
            c = field_col(ref) == F.col(f"__es_k_{k}")
            cond = c if cond is None else (cond & c)
        out = df.join(F.broadcast(dim), cond, "left").drop(
            *[f"__es_k_{k}" for k in keys]
        )
        out = out.withColumn("__matched", F.col("__es_hit").isNotNull())
        # snapshot probe values BEFORE any target write: a fields entry
        # may overwrite the very column a later match-key copy reads
        # (the dns/jdbc lazy-reevaluation lesson)
        probes = {k: f"__es_probe_{k}" for k in keys if k in fields}
        for k, tmp in probes.items():
            out = out.withColumn(tmp, field_col(match[k]))
        for es_field, target in fields.items():
            src = (
                F.col("__es_hit").getField(es_field) if es_field in payload
                # a match key copied as a field equals the probe value
                else F.when(F.col("__matched"), F.col(probes[es_field]))
            )
            out = out.withColumn(field_name(target), src)
        out = out.drop("__es_hit", *probes.values())
        out = add_tags(
            out,
            self.failure_tags,
            ~F.col("__matched"),
        )
        return out, F.col("__matched")


@register("memcached")
class MemcachedStage(Stage):
    """logstash-filter-memcached:lib/logstash/filters/memcached.rb —
    GET values from memcached into event fields:
    ``get => {"key-template" => "event_field"}`` where the key template
    supports ``%{field}`` sprintf interpolation; ``namespace`` prefixes
    every key with ``"<namespace>:"``; full-hit rows tag
    ``tag_on_success`` (reference default none), misses leave the
    field unset (``tag_on_miss`` is our diagnostic extension).

    Spark re-expression — same deliberate deviation as dns/translate:
    per-event network I/O against a live cache inside a distributed job
    is non-deterministic and a per-row blocking syscall, so the cache
    contents come in as an explicit **broadcast snapshot**: ``snapshot``
    (inline dict, its table built once per stage) or ``snapshot_df``
    ((key, value) DataFrame, ``min`` value per key). Each get is one
    ``lookup`` join, fact side unshuffled. The reference's ``set``
    direction is a side-effect WRITE into memcached — no batch analog;
    rejected loudly (route the field to a sink instead). Matched ⇔
    every requested get hit (mirrors the reference's
    filter_matched-on-full-success).
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        from ..fieldref import sprintf_col

        gets: dict[str, str] = self.conf.get("get", {})
        if self.conf.get("set"):
            raise ValueError(
                "memcached: `set` writes INTO memcached — a side effect "
                "with no batch-engine analog; route the field to a sink "
                "instead (documented deviation)"
            )
        if not gets:
            raise ValueError("memcached: `get` mapping is required")
        ns = self.conf.get("namespace")
        snap: dict | None = self.conf.get("snapshot")
        snap_df: DataFrame | None = self.conf.get("snapshot_df")
        if snap is None and snap_df is None:
            raise ValueError(
                "memcached: a cache snapshot is required (snapshot / "
                "snapshot_df) — live memcached I/O inside a distributed "
                "job is rejected by design (dns/translate precedent)"
            )
        spark = df.sparkSession
        if snap is not None:
            dim = self.resolve_once(spark.sparkContext, "dim", lambda: dict_frame(
                spark, {k: str(v) for k, v in snap.items()}))
        else:
            k_c, v_c = snap_df.columns[:2]
            dim = min_per_key(snap_df, F.col(k_c), F.col(v_c).cast("string"))
        all_hit = F.lit(True)
        writes: list[tuple[str, Column]] = []
        for i, (key_tmpl, target) in enumerate(gets.items()):
            key = sprintf_col(key_tmpl)
            if ns:
                key = F.concat(F.lit(f"{ns}:"), key)
            df = lookup(df, key, dim, f"__mc_{i}")
            val = F.col(f"__mc_{i}")
            writes.append((field_name(target), val))
            all_hit = all_hit & val.isNotNull()
        for name, val in writes:
            df = df.withColumn(name, val)
        df = df.withColumn("__matched", all_hit).drop(
            *[f"__mc_{i}" for i in range(len(gets))])
        df = add_tags(df, str_list(self.conf.get("tag_on_miss")), ~F.col("__matched"))
        # reference option: tag rows where EVERY get hit (default none)
        df = add_tags(df, str_list(self.conf.get("tag_on_success")), F.col("__matched"))
        return df, F.col("__matched")


@register("http")
class HttpStage(Stage):
    """logstash-filter-http:lib/logstash/filters/http.rb — enrich an
    event from an HTTP endpoint: ``url`` (sprintf-interpolated), GET
    the response, store the body under ``target_body`` (default
    ``[body]``) and the response headers under ``target_headers``
    (default ``[headers]``); request failures and non-2xx statuses tag
    ``tag_on_request_failure`` (default ``_httprequestfailure``).

    Spark re-expression — the jdbc_streaming pattern applied to HTTP:
    the reference fronts the endpoint with an LRU cache, i.e. it
    assumes the response is a pure function of the URL within a batch.
    So: distinct URLs of THIS batch (guarded by ``max_distinct_urls`` —
    beyond it, per-event HTTP is a denial-of-service on the endpoint
    and the lookup should be a preloaded snapshot) → fetch each URL
    ONCE, **distributed** over the executors via ``mapInPandas`` on the
    repartitioned distinct set → broadcast-join the response dim back.
    The fact side never shuffles; request count ≤ distinct URLs,
    exactly like the reference's cache.

    Transports (the kafka-contract stance — the sandbox has no
    network, so the transport is a seam, not a stub):

    - ``responses`` — inline ``{url: body}`` snapshot (status 200),
      plan-literal dim, zero I/O (memcached/translate precedent);
    - ``transport`` — a callable ``url -> (status, headers_dict,
      body_str)`` shipped to the executors (tests inject fakes here;
      a production deployment injects its authenticated client);
    - ``transport="urllib"`` — stdlib ``urllib.request`` with
      ``timeout``/``headers``, the live default outside the sandbox.

    Non-GET verbs are rejected loudly: POST/PUT inside a retried
    distributed task is a non-idempotent side effect (memcached-`set`
    precedent; route events to a sink instead).
    """

    # gated, the distinct fetch set would hold the URLs of rows the
    # config excluded: requests to an external endpoint for them
    row_local = False

    FAILURE_TAGS = ("_httprequestfailure",)
    FAILURE_TAG_OPTION = "tag_on_request_failure"
    DIM_SCHEMA = ("__http_url string, __http_status int, "
                  "__http_body string, __http_headers map<string,string>")

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        from ..fieldref import sprintf_col

        verb = str(self.conf.get("verb", "GET")).upper()
        if verb != "GET":
            raise ValueError(
                f"http filter: verb {verb} is a non-idempotent side "
                "effect inside a retried distributed task — rejected by "
                "design (GET only; route events to a sink for writes)"
            )
        target_body = field_name(self.conf.get("target_body", "body"))
        target_headers = self.conf.get("target_headers")
        max_urls = int(self.conf.get("max_distinct_urls", 100_000))
        url_col = sprintf_col(self.conf["url"])

        from ..http_transport import resolve_transport

        responses: dict[str, str] | None = self.conf.get("responses")
        # shared seam (http_transport.py) — validates up front even on
        # the snapshot path so misconfiguration fails at plan time
        transport_fn = resolve_transport(self.conf, err=ValueError,
                                         who="http filter")

        spark = df.sparkSession
        df = df.withColumn("__http_url", url_col)
        if responses is not None:
            dim = local_frame(
                spark,
                [(str(u), 200, str(b), {}) for u, b in responses.items()],
                self.DIM_SCHEMA,
            )
        else:
            urls = df.select("__http_url").where(
                F.col("__http_url").isNotNull()).distinct()
            n = urls.limit(max_urls + 1).count()
            if n > max_urls:
                raise ValueError(
                    f"http filter: >{max_urls} distinct URLs in one batch "
                    "— per-event HTTP at this cardinality is a DoS on the "
                    "endpoint; preload a `responses` snapshot or raise "
                    "max_distinct_urls deliberately"
                )

            def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    rows = []
                    for u in pdf["__http_url"]:
                        try:
                            status, hdrs, body = transport_fn(u)
                            rows.append((u, int(status),
                                         str(body), {str(k): str(v)
                                                     for k, v in hdrs.items()}))
                        except Exception:
                            rows.append((u, None, None, None))
                    yield pd.DataFrame(
                        rows, columns=["__http_url", "__http_status",
                                       "__http_body", "__http_headers"])

            # spread the fetch I/O across executors; each URL fetched once
            n_part = max(1, min(n, spark.sparkContext.defaultParallelism))
            dim = urls.repartition(n_part).mapInPandas(
                _fetch, schema=self.DIM_SCHEMA)

        df = df.join(F.broadcast(dim), on="__http_url", how="left")
        ok = F.col("__http_status").isNotNull() & \
            F.col("__http_status").between(200, 299)
        df = df.withColumn(
            target_body, F.when(ok, F.col("__http_body")))
        if target_headers:
            df = df.withColumn(
                field_name(target_headers), F.when(ok, F.col("__http_headers")))
        df = add_tags(df, self.failure_tags, ~ok)
        df = df.withColumn("__matched", ok).drop(
            "__http_url", "__http_status", "__http_body", "__http_headers")
        return df, F.col("__matched")


def _load_wurfl_devices(path: str) -> list[dict]:
    """Load a device snapshot from the reference's own wire formats:
    ``wurfl.xml`` (the WURFL database layout —
    ``<device id user_agent fall_back><group><capability name value>``)
    or a ``.json`` list of device dicts. Plan-time, dim-sized."""
    if path.endswith(".json"):
        import json as _json

        with open(path) as f:
            return _json.load(f)
    import xml.etree.ElementTree as ET

    root = ET.parse(path).getroot()
    out = []
    for dev in root.iter("device"):
        caps = {
            c.get("name"): c.get("value")
            for grp in dev.findall("group")
            for c in grp.findall("capability")
        }
        out.append({
            "device_id": dev.get("id"),
            "user_agent": dev.get("user_agent") or None,
            "fall_back": dev.get("fall_back"),
            "capabilities": caps,
        })
    if not out:
        raise ValueError(f"wurfl: no <device> entries in {path!r}")
    return out


def wurfl_match_series(s: pd.Series, p2i: dict[str, str],
                       lengths: list[int]) -> pd.Series:
    """Vectorized exact/longest-prefix match: UAs → device_id (or None).
    ``lengths`` = distinct pattern lengths, DESCENDING — the first hit
    over descending lengths is by construction the longest matching
    prefix (``str[:ln]`` of a shorter UA is the UA itself, which makes
    the over-length probes exact-match probes). Pure pandas, fuzzed
    against a naive per-row reference in tests."""
    ss = s.astype("string")
    ids = pd.Series(None, index=s.index, dtype="object")
    todo = ss.notna()
    for ln in lengths:
        if not todo.any():
            break
        hit = ss[todo].str[:ln].map(p2i)
        got = hit.dropna()
        ids.loc[got.index] = got
        todo.loc[got.index] = False
    # misses are true None (an object Series filled with a scalar None
    # materializes NaN; Arrow nulls either, the pure contract is None)
    return ids.where(ids.notna(), other=None)


@register("wurfl_device_detection")
class WurflStage(Stage):
    """logstash-filter-wurfl_device_detection — match the event's
    user-agent against a WURFL-style device hierarchy and write the
    requested device capabilities into the event.

    Reference semantics (public plugin docs + WURFL data model):
    devices form a tree — ``(device_id, user_agent, fall_back,
    capabilities)`` — where a device inherits every capability it does
    not define from its ``fall_back`` ancestor chain; a UA matches the
    device with the exact or longest-common-prefix ``user_agent``
    pattern.

    Spark re-expression (dns/memcached/http snapshot stance): the
    commercial live WURFL service is rejected by design — the device
    table comes in as an explicit snapshot (``devices`` inline list or
    ``devices_df``). All hierarchy work happens ONCE per stage object,
    on its first compile, on the dim (memoized fall_back closure,
    cycle/dangling detection; ``Stage.resolve_once``);
    matching ships as a broadcast dict and runs vectorized per Arrow
    batch: one exact/longest-prefix ``Series.map`` pass per DISTINCT
    pattern length (descending — first hit IS the longest prefix), over
    only still-unmatched rows. The fact side never shuffles and the
    output schema is fixed at plan time by the ``capabilities`` list
    (struct<device_id, cap…> — all strings, the WURFL wire convention).
    """

    @staticmethod
    def _resolve(devs: dict[str, tuple[str | None, dict]],
                 caps: list[str]) -> dict[str, list]:
        """device_id → [cap values] with fall_back inheritance."""
        memo: dict[str, dict] = {}

        def closure(did: str, seen: tuple = ()) -> dict:
            if did in memo:
                return memo[did]
            if did in seen:
                raise ValueError(
                    f"wurfl: fall_back cycle at {did!r} ({' -> '.join(seen)})")
            fb, own = devs[did]
            if fb is None:
                merged = dict(own)
            else:
                if fb not in devs:
                    raise ValueError(
                        f"wurfl: device {did!r} falls back to unknown {fb!r}")
                merged = {**closure(fb, seen + (did,)), **own}
            memo[did] = merged
            return merged

        return {
            did: [None if (v := closure(did).get(c)) is None else str(v)
                  for c in caps]
            for did in devs
        }

    def _lookup_tables(self, inline: list | None, dev_df: DataFrame | None,
                       caps: list[str]) -> tuple[dict, list, list]:
        """The device snapshot → (pattern → device_id, distinct pattern
        lengths descending, one device_id → value dict per capability)."""
        if inline is None and dev_df is None:
            inline = _load_wurfl_devices(self.conf["devices_path"])
        if inline is None:
            inline = [
                {"device_id": r["device_id"], "user_agent": r["user_agent"],
                 "fall_back": r["fall_back"],
                 "capabilities": dict(r["capabilities"] or {})}
                for r in dev_df.collect()  # bounded dim (useragent rules precedent)
            ]
        devs = {
            str(d["device_id"]): (
                None if d.get("fall_back") in (None, "", "root")
                else str(d["fall_back"]),
                dict(d.get("capabilities") or {}),
            )
            for d in inline
        }
        cap_rows = self._resolve(devs, caps)
        # pattern → device_id; duplicate patterns pick min(device_id)
        # DETERMINISTICALLY (es-filter/memcached stance)
        pat2id: dict[str, str] = {}
        for d in inline:
            ua = d.get("user_agent")
            if not ua:
                continue
            did = str(d["device_id"])
            pat2id[ua] = min(pat2id.get(ua, did), did)
        lengths = sorted({len(p) for p in pat2id}, reverse=True)
        cap_dicts = [{did: row[j] for did, row in cap_rows.items()}
                     for j in range(len(caps))]
        return pat2id, lengths, cap_dicts

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "message")
        target = field_name(self.conf.get("target", "wurfl"))
        caps = list(self.conf.get("capabilities", []))
        if not caps:
            raise ValueError(
                "wurfl: `capabilities` list is required — it fixes the "
                "output struct schema at plan time")
        inline = self.conf.get("devices")
        dev_df: DataFrame | None = self.conf.get("devices_df")
        if inline is None and dev_df is None and not self.conf.get("devices_path"):
            raise ValueError(
                "wurfl: a device snapshot is required (devices / "
                "devices_df / devices_path wurfl.xml|.json) — the live "
                "commercial WURFL service is rejected by design "
                "(dns/memcached precedent)")
        sc = df.sparkSession.sparkContext
        bc = self.resolve_once(sc, "devices_bc", lambda: sc.broadcast(
            self._lookup_tables(inline, dev_df, caps)))
        out_schema = "device_id:string," + ",".join(
            f"`{c}`:string" for c in caps)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(f"struct<{out_schema}>")
        def _wurfl(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            p2i, lens, cdicts = bc.value
            for s in batches:
                ids = wurfl_match_series(s, p2i, lens)
                out = pd.DataFrame({"device_id": ids}, index=s.index)
                for cap_name, cd in zip(caps, cdicts):
                    out[cap_name] = ids.map(cd)
                yield out

        df = df.withColumn(target, _wurfl(field_col(source)))
        matched = F.col(target)["device_id"].isNotNull()
        df = df.withColumn(target, F.when(matched, F.col(target)))
        df = add_tags(df, str_list(self.conf.get("tag_on_miss")), ~matched)
        return df, matched


# Reference plugin short name (logstash-filter-wurfl_device_detection
# is also commonly configured as `wurfl`).
from .base import STAGE_REGISTRY as _REG  # noqa: E402

_REG["wurfl"] = WurflStage
