"""Parse-family stages: grok, dissect, kv, json, csv, date.

Each class docstring cites its reference plugin (SURVEY §2.4 rows).
All failure semantics mirror the reference: parse failure appends the
plugin's failure tag and leaves the row flowing (dead-letter routing is
the router's job, not the parser's).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dissect import DISSECT_FAILURE_TAG, compile_dissect
from ..fieldref import field_col, field_name
from ..grok import (
    GROK_FAILURE_TAG,
    grok_output_schema,
    grok_udf,
    lower_multi_capture,
)
from .base import Stage, add_tags, register

_MATCHED = "__matched"


def _struct_apply(
    df: DataFrame,
    source: str,
    udf_and_schema,
    target: str | None,
    overwrite: list[str],
) -> tuple[DataFrame, Column]:
    """Shared executor for grok/dissect: struct extraction + flatten."""
    udf, schema = udf_and_schema
    tmp = "__captures"
    df = df.withColumn(tmp, udf(field_col(source)))
    matched = F.col(f"{tmp}._matched")
    df = df.withColumn(_MATCHED, matched)
    capture_fields = [f.split("`")[1] for f in schema.split(", ") if "`" in f]
    capture_fields = [f for f in capture_fields if f != "_matched"]
    if target:
        df = df.withColumn(target, F.col(tmp).dropFields("_matched"))
    else:
        for fld in capture_fields:
            new = F.col(f"{tmp}.`{fld}`")
            if fld in df.columns and fld not in overwrite:
                # reference grok does NOT clobber existing fields unless
                # listed in `overwrite` (grok.rb `overwrite` option)
                df = df.withColumn(fld, F.coalesce(F.col(fld), new))
            else:
                df = df.withColumn(fld, new)
    df = df.drop(tmp)
    return df, F.col(_MATCHED)


@register("grok")
class GrokStage(Stage):
    """logstash-filter-grok:lib/logstash/filters/grok.rb.

    conf: match {source: pattern | [patterns]}, pattern_definitions,
    target, overwrite, tag_on_failure, keep_empty_captures,
    break_on_match (default true = first-match-wins across the pattern
    list; false = every pattern runs, captures accumulate).
    Single-capture patterns lower to native ``F.regexp_extract`` —
    whole-stage-codegen JVM path, no Python at all.
    """

    FAILURE_TAGS = (GROK_FAILURE_TAG,)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        match: dict = self.conf["match"]
        (source, patterns), *rest = match.items()
        if rest:
            raise ValueError("one source field per grok stage; chain stages for more")
        if isinstance(patterns, str):
            patterns = [patterns]
        defs = self.conf.get("pattern_definitions")
        target = self.conf.get("target")
        overwrite = self.conf.get("overwrite", [])
        tags = self.failure_tags

        lowered = lower_multi_capture(patterns[0], defs) if (
            len(patterns) == 1
            and not target
            and not self.conf.get("keep_empty_captures", False)
        ) else None
        if lowered is not None:
            # native lowering: one rlike + k regexp_extract, all JVM
            # codegen (measured ~2x the vectorized-Python pass even at
            # 12 captures; no Python workers at all)
            java_pat, plan = lowered
            src = field_col(source)
            df = df.withColumn(_MATCHED, src.isNotNull() & src.rlike(java_pat))
            for fld, gidx, typ in plan:
                extracted = F.regexp_extract(src, java_pat, gidx)
                val = F.when(F.col(_MATCHED) & (extracted != F.lit("")), extracted)
                if typ == "int":
                    # Ruby to_i parity with the pandas path: exact for
                    # integer strings, TRUNCATES float captures
                    # (%{NUMBER:x:int} on '1.5' → 1, not null)
                    val = F.coalesce(
                        val.try_cast("long"),
                        val.try_cast("double").try_cast("long"),
                    )
                elif typ == "float":
                    val = val.try_cast("double")
                if fld in df.columns and fld not in overwrite:
                    val = F.coalesce(F.col(fld), val)
                df = df.withColumn(fld, val)
        else:
            df, _ = _struct_apply(
                df,
                source,
                grok_udf(patterns, defs, self.conf.get("keep_empty_captures", False),
                         self.conf.get("break_on_match", True)),
                target,
                overwrite,
            )
        df = add_tags(df, tags, ~F.col(_MATCHED))
        return df, F.col(_MATCHED)


@register("dissect")
class DissectStage(Stage):
    """logstash-filter-dissect (Java tokenizer).

    conf: mapping {source: dissect_spec}, tag_on_failure.
    """

    FAILURE_TAGS = (DISSECT_FAILURE_TAG,)

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        mapping: dict = self.conf["mapping"]
        (source, spec), *rest = mapping.items()
        if rest:
            raise ValueError("one source field per dissect stage")
        compiled = compile_dissect(spec)
        from ..grok import struct_extract_udf

        df, _ = _struct_apply(
            df,
            source,
            struct_extract_udf([compiled], keep_empty_captures=True),
            self.conf.get("target"),
            self.conf.get("overwrite", []),
        )
        df = add_tags(df, self.failure_tags, ~F.col(_MATCHED))
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

    TAG = "_cefparsefailure"

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
        df = add_tags(df, [self.TAG], src.isNotNull() & ~matched)
        return df, matched
