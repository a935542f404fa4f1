"""Parse-family stages: grok, dissect, kv, json, csv, date.

Each class docstring cites its reference plugin (SURVEY §2.4 rows).
All failure semantics mirror the reference: parse failure appends the
plugin's failure tag and leaves the row flowing (dead-letter routing is
the router's job, not the parser's).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dissect import DISSECT_FAILURE_TAG, compile_dissect
from ..fieldref import field_col, field_name, top_col
from ..grok import GROK_FAILURE_TAG, CompiledGrok, compile_grok, lower_multi_capture
from .base import Stage, add_tags, register, str_list

_MATCHED = "__matched"
# Ruby to_i: the integer prefix of the capture ('1.5' → 1, '12ab' → 12)
_INT_PREFIX = r"^\s*([+-]?\d+)"
# joins the groups of a multi-group pattern's one-pass extract (ASCII US)
_SEP = "\x1f"


def _java_lowering(spark, compiled: list[CompiledGrok], texts: list[str], who: str):
    """``lower_multi_capture`` with every Java pattern compiled in the
    JVM, so a pattern java.util.regex rejects fails at plan time and
    names the pattern it came from, not later inside a Spark job."""
    lowered, types = lower_multi_capture(compiled)
    compile_java = spark.sparkContext._jvm.java.util.regex.Pattern.compile
    for (java_pat, _groups), text in zip(lowered, texts):
        try:
            compile_java(java_pat)
        except IllegalArgumentException as e:
            raise ValueError(
                f"{who} pattern {text!r} is not valid java.util.regex: "
                f"{str(e).splitlines()[0]}") from None
    return lowered, types


def _write_captures(stage: Stage, df: DataFrame, source: str,
                    build: Callable[[], list[CompiledGrok]], texts: list[str],
                    keep_empty: bool, break_on_match: bool) -> DataFrame:
    """The capture writer grok and dissect share, all native.

    Three projections: the first pins which patterns match (one
    ``rlike`` each), the second extracts every capture group once, on
    the rows whose pattern supplies fields (one ``regexp_extract`` for a
    pattern with one group; one ``regexp_replace`` of the whole line
    into its groups plus a ``split`` for several, so the pattern runs
    once, not once per group), and the third derives the
    fields from those raw captures. A field fed by several groups joins
    the non-empty ones with a space; it is then emptied to null (unless
    ``keep_empty``) and typed (``:int`` is the integer prefix, Ruby
    ``to_i``; ``:float`` a double). An existing column keeps its value
    unless listed in ``overwrite`` (grok.rb), and ``target`` takes a
    struct of the fields instead."""
    lowered, types = stage.resolve_once(
        df.sparkSession.sparkContext, "captures",
        lambda: _java_lowering(df.sparkSession, build(), texts, stage.plugin_name))
    src = field_col(source)
    pats = [pat for pat, _groups in lowered]
    if break_on_match:
        # the first matching pattern supplies every field
        pick = F.when(src.rlike(pats[0]), 0)
        for i, pat in enumerate(pats[1:], 1):
            pick = pick.when(src.rlike(pat), i)
        pinned = {"__cap_pick": pick}
        hits = [F.col("__cap_pick") == i for i in range(len(pats))]
        matched = F.col("__cap_pick").isNotNull()
    else:
        # every pattern runs; a field takes the earliest non-null value
        pinned = {f"__cap_hit{i}": src.isNotNull() & src.rlike(pat)
                  for i, pat in enumerate(pats)}
        hits = [F.col(c) for c in pinned]
        matched = reduce(lambda a, b: a | b, hits)
    raws: dict[str, Column] = {}
    cap: dict[tuple[int, int], Column] = {}  # (pattern, group) → its raw capture
    for i, ((pat, groups), hit) in enumerate(zip(lowered, hits)):
        idx = sorted({g for gs in groups.values() for g in gs})
        if len(idx) == 1:
            raws[f"__cap{i}"] = F.when(hit, F.regexp_extract(src, pat, idx[0]))
            cap[i, idx[0]] = F.col(f"__cap{i}")
        elif idx:
            # one regex run for every group: rewrite the line into its
            # groups joined by _SEP, then split; a line that holds _SEP
            # takes one regexp_extract per group instead
            joined = F.regexp_replace(src, rf"\A(?s:.*?)(?:{pat})(?s:.*)",
                                      _SEP.join(f"${g}" for g in idx))
            per_group = F.array(*[F.regexp_extract(src, pat, g) for g in idx])
            raws[f"__cap{i}"] = F.when(hit, F.when(src.contains(_SEP), per_group)
                                       .otherwise(F.split(joined, _SEP, -1)))
            cap.update({(i, g): F.col(f"__cap{i}")[k] for k, g in enumerate(idx)})
    df = df.withColumns(pinned).withColumns({_MATCHED: matched, **raws})

    values: dict[str, Column] = {}
    for fld, typ in types.items():
        per_pattern = []
        for i, (_pat, groups) in enumerate(lowered):
            if fld not in groups:
                continue
            cols = [cap[i, g] for g in groups[fld]]
            val = cols[0] if len(cols) == 1 else F.when(
                cols[0].isNotNull(),
                F.concat_ws(" ", *[F.nullif(c, F.lit("")) for c in cols]))
            per_pattern.append(val if keep_empty else F.nullif(val, F.lit("")))
        val = F.coalesce(*per_pattern)
        if typ == "int":
            val = F.regexp_extract(val, _INT_PREFIX, 1).try_cast("long")
        elif typ == "float":
            val = val.try_cast("double")
        values[fld] = val
    target = stage.conf.get("target")
    if target:
        out = {target: F.struct(*[v.alias(f) for f, v in values.items()])}
    else:
        overwrite = str_list(stage.conf.get("overwrite"))
        out = {f: F.coalesce(top_col(f), v) if f in df.columns and f not in overwrite else v
               for f, v in values.items()}
    df = df.withColumns(out).drop(*pinned, *raws)
    return add_tags(df, stage.failure_tags, ~F.col(_MATCHED))


@register("grok")
class GrokStage(Stage):
    """logstash-filter-grok:lib/logstash/filters/grok.rb.

    conf: match {source: pattern | [patterns]}, pattern_definitions,
    target, overwrite, tag_on_failure, keep_empty_captures,
    break_on_match (default true = the first matching pattern supplies
    the fields; false = every pattern runs and each field takes its
    value from the earliest matching pattern that has one; an empty
    capture is skipped unless kept, as grok.rb's ``handle`` does).

    Every spec lowers to native ``rlike`` + ``F.regexp_extract`` (or,
    for several groups, one ``F.regexp_replace`` pass; see
    ``_write_captures``): JVM only, no Python worker, java.util.regex's
    ASCII ``\\w``/``\\d``/``\\s``, and only ``\\n`` ends a line (UNIX_LINES,
    as in Ruby). A pattern Java rejects fails at plan time with a
    ValueError. Two corners follow
    from ``regexp_extract``, which returns ``""`` both for a group that
    captured nothing and for one that did not take part (Spark 4.1's
    ``regexp_instr`` ignores its group index, so participation cannot
    be read either):

    * under ``keep_empty_captures => true`` an optional group that did
      not take part reads ``""`` (grok.rb: nil), and under
      ``break_on_match => false`` that ``""`` keeps a later pattern
      from supplying the field;
    * a field fed by several groups (same-name alternation, dissect
      ``%{+name}``) joins the groups that captured text with one space,
      so a group that captured ``""`` adds no separator.
    """

    FAILURE_TAGS = (GROK_FAILURE_TAG,)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        match: dict = self.conf["match"]
        (source, patterns), *rest = match.items()
        if rest:
            raise ValueError("one source field per grok stage; chain stages for more")
        patterns = str_list(patterns)
        defs = self.conf.get("pattern_definitions")
        df = _write_captures(
            self, df, source, lambda: [compile_grok(p, defs) for p in patterns], patterns,
            keep_empty=self.conf.get("keep_empty_captures", False),
            break_on_match=self.conf.get("break_on_match", True))
        return df, F.col(_MATCHED)


@register("dissect")
class DissectStage(Stage):
    """logstash-filter-dissect (Java tokenizer).

    conf: mapping {source: dissect_spec}, target, overwrite,
    tag_on_failure. Runs on grok's native capture writer.
    """

    FAILURE_TAGS = (DISSECT_FAILURE_TAG,)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        mapping: dict = self.conf["mapping"]
        (source, spec), *rest = mapping.items()
        if rest:
            raise ValueError("one source field per dissect stage")
        df = _write_captures(self, df, source, lambda: [compile_dissect(spec)], [spec],
                             keep_empty=True, break_on_match=True)
        return df, F.col(_MATCHED)


@register("kv")
class KvStage(Stage):
    """logstash-filter-kv:lib/logstash/filters/kv.rb.

    conf: source (default message), field_split (char set, default " "),
    value_split (char set, default "="), target (default: merge into the
    ``attrs`` overflow map — SURVEY §1.2's schemaless residue column),
    include_keys, exclude_keys, prefix, trim_key, trim_value,
    include_brackets (default True: strip one layer of []/()/<> value
    wrappers — documented deviation: kv.rb also lets bracketed values
    contain the field separator, which a split-based parse cannot).
    Duplicate keys keep the LAST occurrence (MapType holds one value
    per key; kv.rb's allow_duplicate_values array-collect is a
    documented deviation). Fully native: ``str_to_map`` +
    ``map_filter``/``transform_keys``.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "message")
        field_split = self.conf.get("field_split", " ")
        value_split = self.conf.get("value_split", "=")
        target = self.conf.get("target", "attrs")

        def charset_regex(chars: str) -> str:
            return "[" + "".join("\\" + c if c in r"\^]-[" else c for c in chars) + "]"

        m = F.str_to_map(
            field_col(source), F.lit(charset_regex(field_split)), F.lit(charset_regex(value_split))
        )
        if self.conf.get("include_brackets", True):
            m = F.transform_values(
                m, lambda k, v: F.regexp_replace(v, r"^[\[\(<]|[\]\)>]$", "")
            )
        trim_k = self.conf.get("trim_key")
        trim_v = self.conf.get("trim_value")
        if trim_k:
            m = F.transform_keys(m, lambda k, v: F.regexp_replace(k, f"^{charset_regex(trim_k)}+|{charset_regex(trim_k)}+$", ""))
        if trim_v:
            m = F.transform_values(m, lambda k, v: F.regexp_replace(v, f"^{charset_regex(trim_v)}+|{charset_regex(trim_v)}+$", ""))
        include = self.conf.get("include_keys")
        exclude = self.conf.get("exclude_keys")
        if include:
            m = F.map_filter(m, lambda k, v: k.isin(*include))
        if exclude:
            m = F.map_filter(m, lambda k, v: ~k.isin(*exclude))
        prefix = self.conf.get("prefix")
        if prefix:
            m = F.transform_keys(m, lambda k, v: F.concat(F.lit(prefix), k))
        matched = field_col(source).isNotNull() & (F.size(F.map_keys(m)) > 0)
        if target in df.columns and dict(df.dtypes).get(target, "").startswith("map"):
            merged = F.map_concat(F.coalesce(F.col(target), F.create_map()), m)
            df = df.withColumn(target, F.when(matched, merged).otherwise(F.col(target)))
        else:
            df = df.withColumn(target, F.when(matched, m))
        return df, matched


@register("json")
class JsonStage(Stage):
    """logstash-filter-json:lib/logstash/filters/json.rb.

    conf: source, target, schema (DDL; omitted → map<string,string> into
    the overflow map, quarantining schemalessness per SURVEY §1.2),
    tag_on_failure default ``_jsonparsefailure`` — reference keeps the
    raw payload in the source field on failure; we do the same (source
    column is never destroyed).
    """

    FAILURE_TAGS = ("_jsonparsefailure",)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "message")
        schema = self.conf.get("schema")
        target = self.conf.get("target")
        src = field_col(source)
        if schema:
            parsed = F.from_json(src, schema)
            tgt = target or field_name(source) + "_parsed"
        else:
            parsed = F.from_json(src, "map<string,string>")
            tgt = target or "attrs"
        matched = src.isNull() | parsed.isNotNull()
        failure = src.isNotNull() & parsed.isNull()
        if tgt in df.columns and dict(df.dtypes).get(tgt, "").startswith("map") and not schema:
            merged = F.map_concat(F.coalesce(F.col(tgt), F.create_map()), parsed)
            df = df.withColumn(tgt, F.when(parsed.isNotNull(), merged).otherwise(F.col(tgt)))
        else:
            df = df.withColumn(tgt, parsed)
        df = add_tags(df, self.failure_tags, failure)
        return df, matched & src.isNotNull()


@register("csv")
class CsvStage(Stage):
    """logstash-filter-csv:lib/logstash/filters/csv.rb.

    conf: source, columns [names] or schema DDL, separator, quote_char,
    target. Native ``F.from_csv`` 1:1.
    """

    FAILURE_TAGS = ("_csvparsefailure",)

    @property
    def row_local(self) -> bool:
        # autodetect_column_names names the columns from the first row
        return not self.conf.get("autodetect_column_names")

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "message")
        src0 = field_col(source)
        if self.conf.get("autodetect_column_names"):
            # csv.rb autodetect_column_names: the FIRST event names the
            # columns and is consumed. Plan-time one-row action (the
            # reference reads it from the stream the same way).
            # Determinism contract: a DataFrame batch has no stream
            # order, so "first" means first row of the first input
            # split — stable for a given input layout, but callers with
            # heterogeneous row shapes should pin `header` explicitly.
            # The header filter below removes EVERY row equal to the
            # header line (assumes the header text occurs exactly once,
            # the overwhelmingly common shape; a data row that exactly
            # reproduces the full header line would also be dropped).
            sep = self.conf.get("separator", ",")
            quote = self.conf.get("quote_char", '"')
            if "header" in self.conf:
                header = self.conf["header"]
            else:
                first = df.select(src0.alias("__h")).filter(src0.isNotNull()).first()
                header = first["__h"] if first else ""
            cols = [c.strip().strip(quote) for c in header.split(sep)]
            convert = self.conf.get("convert", {})
            ddl = ", ".join(f"`{c}` {convert.get(c, 'string')}" for c in cols)
            df = df.filter(src0.isNull() | (src0 != F.lit(header)))
        elif "schema" in self.conf:
            ddl = self.conf["schema"]
        else:
            cols = self.conf["columns"]
            convert = self.conf.get("convert", {})
            ddl = ", ".join(f"`{c}` {convert.get(c, 'string')}" for c in cols)
        opts = {
            "sep": self.conf.get("separator", ","),
            "quote": self.conf.get("quote_char", '"'),
        }
        src = field_col(source)
        parsed = F.from_csv(src, ddl, opts)
        target = self.conf.get("target")
        matched = src.isNotNull() & parsed.isNotNull()
        if target:
            df = df.withColumn(target, parsed)
        else:
            tmp = "__csv"
            df = df.withColumn(tmp, parsed)
            for fld in [f.strip().split()[0].strip("`") for f in ddl.split(",")]:
                df = df.withColumn(fld, F.col(f"{tmp}.`{fld}`"))
            df = df.drop(tmp)
        df = add_tags(df, self.failure_tags,
                      src.isNotNull() & ~matched)
        return df, matched


_XML_CORRUPT = "__xml_corrupt_record"


@register("xml")
class XmlStage(Stage):
    """logstash-filter-xml: parse a string field as XML into target.

    conf: source, target, schema (DDL — the reference's ``xpath``
    extraction maps to selecting struct fields from the parsed value),
    tag_on_failure default ``_xmlparsefailure``. Native ``F.from_xml``
    (Spark 4) — JVM-side, no Python.
    """

    FAILURE_TAGS = ("_xmlparsefailure",)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "message")
        target = self.conf.get("target", "xml")
        src = field_col(source)
        # from_xml is PERMISSIVE: malformed input yields a struct of
        # nulls, not null. Its corrupt-record slot is what tells a
        # failed parse apart from a document without the fields.
        schema = f"{self.conf['schema']}, `{_XML_CORRUPT}` string"
        parsed = F.from_xml(src, schema, {"columnNameOfCorruptRecord": _XML_CORRUPT})
        df = df.withColumn(target, parsed.dropFields(_XML_CORRUPT))
        matched = src.isNotNull() & parsed.getField(_XML_CORRUPT).isNull()
        df = add_tags(df, self.failure_tags,
                      src.isNotNull() & ~matched)
        return df, matched


# Joda (reference) → java.time (Spark) pattern translation. The shared
# subset is identical; the table handles the known divergences.
def _fmt_to_java(fmt: str) -> str:
    # one shared Joda→java.time translator (fieldref) — date.rb match
    # patterns and %{+...} sprintf patterns are both Joda, and both hit
    # the same Y-vs-week-year / ZZ-vs-XXX traps
    from ..fieldref import _joda_to_java

    return _joda_to_java(fmt)


@register("date")
class DateStage(Stage):
    """logstash-filter-date:lib/logstash/filters/date.rb.

    conf: match [field, fmt1, fmt2, ...] (per-format fallback → one
    ``coalesce`` chain of ``try_to_timestamp``), target (default
    event_ts ≙ @timestamp), timezone, tag_on_failure default
    _dateparsefailure. Special formats: ISO8601, UNIX, UNIX_MS
    (date.rb's special tokens).

    Every parse attempt is a ``try_`` variant: date.rb NEVER aborts on
    an unparsable value (it tags ``_dateparsefailure``), so each format
    attempt must yield null for the coalesce chain regardless of the
    session's ``spark.sql.ansi.enabled`` — the driver gate runs ANSI-on
    (Spark 4 default) and a throwing ``to_timestamp`` hard-errored the
    whole query in round 1.
    """

    FAILURE_TAGS = ("_dateparsefailure",)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        match = self.conf["match"]
        source, fmts = match[0], match[1:]
        target = self.conf.get("target", "event_ts")
        tz = self.conf.get("timezone")
        src = field_col(source)
        attempts = []
        for fmt in fmts:
            if fmt == "ISO8601":
                attempts.append(F.try_to_timestamp(src))
            elif fmt == "UNIX":
                attempts.append(F.timestamp_seconds(src.try_cast("double")))
            elif fmt == "UNIX_MS":
                attempts.append(F.timestamp_millis(src.try_cast("long")))
            else:
                parsed = F.try_to_timestamp(src, F.lit(_fmt_to_java(fmt)))
                if tz and not any(z in fmt for z in ("Z", "X", "z", "V")):
                    parsed = F.to_utc_timestamp(parsed, tz)
                attempts.append(parsed)
        parsed = F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]
        matched = parsed.isNotNull()
        if target in df.columns:
            df = df.withColumn(target, F.when(matched, parsed).otherwise(F.col(target)))
        else:
            df = df.withColumn(target, parsed)
        df = add_tags(df, self.failure_tags,
                      src.isNotNull() & ~matched)
        return df, matched


@register("cef")
class CefStage(Stage):
    """logstash-codec-cef:lib/logstash/codecs/cef.rb (decode side) as a
    filter stage — ArcSight Common Event Format:

      [syslog prefix ]CEF:v|Vendor|Product|Version|EventClassID|Name|Sev|ext

    conf: source (default "message"), target (default "cef").

    Header fields may contain escaped pipes (``\\|``); the extension is
    space-separated ``key=value`` where values may contain spaces (a
    value runs until the next ``key=`` token) and escape ``\\=`` ``\\n``
    ``\\\\``. Fully native lowering: split on unescaped ``|`` with
    limit 8 (the 8th slot is the raw extension, embedded pipes intact),
    extension → map<string,string> via two ``regexp_extract_all``
    passes over the same pair pattern + ``map_from_arrays``, escapes
    undone by one generic ``\\\\(.)`` → ``$1`` regexp_replace. Output
    struct: cef_version int, device_vendor/product/version,
    device_event_class_id, name, severity (string — CEF allows both
    0–10 and words), extensions map. Non-CEF rows → null target +
    ``_cefparsefailure`` tag.
    """

    FAILURE_TAGS = ("_cefparsefailure",)
    FAILURE_TAG_OPTION = None

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "message")
        target = self.conf.get("target", "cef")
        src = field_col(source)

        # the CEF body starts at "CEF:" (anything before is a syslog prefix)
        body = F.regexp_extract(src, r"(CEF:.*)$", 1)
        ok = body != ""
        # Escape handling that survives arbitrary escape RUNS (a naive
        # (?<!\\)\| lookbehind mis-splits "…\\|…" — an escaped backslash
        # followed by a REAL separator): substitute the three escaped
        # forms with sentinel control chars first, split on now-
        # unambiguous bare pipes, restore sentinels per part at the end.
        S_BS, S_PIPE, S_EQ = "\x01", "\x02", "\x03"
        esc = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(body, r"\\\\", S_BS), r"\\\|", S_PIPE
            ),
            r"\\=", S_EQ,
        )
        parts = F.split(esc, r"\|", 8)

        def unesc(c: Column) -> Column:
            # CEF spec: \n / \r decode to real newlines; any other stray
            # backslash-escape degrades to its char; then sentinels back
            c = F.regexp_replace(c, r"\\n", "\n")
            c = F.regexp_replace(c, r"\\r", "\r")
            c = F.regexp_replace(c, r"\\(.)", "$1")
            return F.translate(c, S_BS + S_PIPE + S_EQ, "\\|=")

        hdr = [F.when(F.size(parts) > i, unesc(F.element_at(parts, i + 1)))
               for i in range(7)]
        ext_raw = F.when(F.size(parts) > 7, F.element_at(parts, 8))
        # key=value pairs; value runs to the lookahead of the next key= or
        # EOL (escaped = are sentinels here, so bare = is a true delimiter)
        pair = r"([\w.\[\]]+)=(.*?)(?=\s+[\w.\[\]]+=|\s*$)"
        keys = F.regexp_extract_all(ext_raw, F.lit(pair), F.lit(1))
        vals = F.transform(
            F.regexp_extract_all(ext_raw, F.lit(pair), F.lit(2)),
            lambda v: unesc(v),
        )
        ext = F.when(ext_raw.isNotNull(), F.map_from_arrays(keys, vals))
        ver = F.regexp_extract(hdr[0], r"CEF:(\d+)", 1).try_cast("int")
        struct = F.struct(
            ver.alias("cef_version"),
            hdr[1].alias("device_vendor"),
            hdr[2].alias("device_product"),
            hdr[3].alias("device_version"),
            hdr[4].alias("device_event_class_id"),
            hdr[5].alias("name"),
            hdr[6].alias("severity"),
            ext.alias("extensions"),
        )
        matched = ok & ver.isNotNull() & (F.size(parts) >= 7)
        df = df.withColumn(target, F.when(matched, struct))
        df = add_tags(df, self.failure_tags, src.isNotNull() & ~matched)
        return df, matched
