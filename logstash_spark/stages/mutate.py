"""Mutate-family stages: field surgery, hashing, pruning, the UDF escape hatch.

Reference plugins cited per class (SURVEY §2.4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fieldref import (
    _canonical, field_col, field_name, is_index, parse_ref, sprintf_col,
    top_col,
)
from .base import (
    Stage, _drop_field_path, _struct_leaf_type, field_exists, register,
    set_field, str_list,
)


def _leaf_dtype(df: DataFrame, ref: str):
    """Schema DataType at ``ref`` (top-level column, struct leaf, or
    map value); None when the path has list-index segments (type is
    per-element)."""
    from pyspark.sql.types import MapType

    parts = _canonical(parse_ref(ref))
    t = df.schema[parts[0]].dataType
    if len(parts) == 1:
        return t
    if any(is_index(p) for p in parts[1:]):
        return None
    if isinstance(t, MapType):
        return t.valueType if len(parts) == 2 else None
    return _struct_leaf_type(t, parts[1:])



# logstash-filter-mutate documents a FIXED execution order for its ops
# (mutate.rb README "Mutate gsub ... are applied in this order"); the
# parity trap SURVEY §7 flags. Replicated verbatim:
MUTATE_ORDER = [
    "coerce", "rename", "update", "replace", "convert", "gsub",
    "uppercase", "capitalize", "lowercase", "strip", "split", "join",
    "merge", "copy",
]

_CONVERT_TYPES = {
    "integer": "long",
    "float": "double",
    "string": "string",
    "boolean": "boolean",
}


@register("mutate")
class MutateStage(Stage):
    """logstash-filter-mutate:lib/logstash/filters/mutate.rb.

    Every op is a native Column expression; the whole stage is one
    projection — zero Python at runtime.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        for op in MUTATE_ORDER:
            if op not in self.conf:
                continue
            arg = self.conf[op]
            df = getattr(self, f"_op_{op}")(df, arg)
        return df, None  # mutate "matches" every event it sees

    def _op_coerce(self, df, arg: dict):
        # set a default for fields that exist with null value
        for ref, default in arg.items():
            if not field_exists(df, ref):
                continue
            dt = _leaf_dtype(df, ref)
            if dt is None:
                # list-index path — same loud rejection set_field gives
                # every other op (a silent skip here would make the one
                # unsupported construct vanish or abort depending on
                # which op it appears in)
                raise ValueError(
                    f"coerce into a list index is not supported: {ref!r}")
            # map keys: per-row Event#include? — only a PRESENT key
            # with a null value takes the default; an absent key must
            # not be fabricated (only_if_present), matching mutate.rb's
            # `include?(field) && get(field).nil?`
            df = set_field(df, ref, F.coalesce(
                field_col(ref), F.lit(default).cast(dt)),
                only_if_present=True)
        return df

    @staticmethod
    def _map_key_parts(df, parts):
        """(top, key) when ``parts`` addresses a key of a map-typed top
        column, else None."""
        from pyspark.sql.types import MapType

        if (len(parts) == 2 and parts[0] in df.columns
                and isinstance(df.schema[parts[0]].dataType, MapType)):
            return parts[0], parts[1]
        return None

    def _op_rename(self, df, arg: dict):
        from .base import _map_set_key

        for old, new in arg.items():
            po = _canonical(parse_ref(old))
            pn = _canonical(parse_ref(new))
            if any(is_index(p) for p in po[1:] + pn[1:]):
                raise ValueError(
                    "rename with a list-index ref is not supported: "
                    f"{old!r} => {new!r}")
            src_mk = self._map_key_parts(df, po)
            if src_mk is not None:
                # map-key source: Event#include? is PER ROW — rows
                # lacking the key must keep their destination untouched
                # (review finding: the ungated write null-clobbered it)
                top, key = src_mk
                has = F.map_contains_key(F.col(top), F.lit(key))
                sv = field_col(old)
                dst_mk = self._map_key_parts(df, pn)
                if dst_mk is not None:
                    dtop, dkey = dst_mk
                    upsert = _map_set_key(
                        F.col(dtop), df.schema[dtop].dataType, dkey, sv)
                    df = df.withColumn(dtop, F.when(has, upsert)
                                       .otherwise(F.col(dtop)))
                else:
                    cur = (field_col(new) if field_exists(df, new)
                           else F.lit(None))
                    df = set_field(df, new, F.when(has, sv).otherwise(cur))
                if po != pn:
                    # removing an absent key is a per-row no-op, so the
                    # unconditional key-drop is already include?-gated
                    df = _drop_field_path(df, po)
                continue
            if len(po) == 1 and len(pn) == 1:
                if po[0] not in df.columns:
                    continue  # mutate.rb: missing source → skip
                if pn[0] in df.columns and pn[0] != po[0]:
                    # mutate.rb overwrites the destination (event.set);
                    # withColumnRenamed onto an existing name would
                    # create a duplicate column instead
                    df = df.drop(pn[0])
                df = df.withColumnRenamed(po[0], pn[0])
                continue
            if not field_exists(df, old):
                continue
            df = set_field(df, new, field_col(old))
            # overlapping refs: when one path is a prefix of the other,
            # the set_field rewrite already replaced the old slot —
            # dropping it afterwards would destroy the value just
            # written (rename a => [a][b] writes struct<b> INTO a)
            if po == pn[: len(po)] or pn == po[: len(pn)]:
                continue
            df = df.drop(po[0]) if len(po) == 1 else _drop_field_path(df, po)
        return df

    def _op_update(self, df, arg: dict):
        # update only if field exists (reference: skip otherwise)
        from pyspark.sql.types import MapType

        for ref, template in arg.items():
            if not field_exists(df, ref):
                continue
            cur = field_col(ref)
            parts = _canonical(parse_ref(ref))
            if len(parts) == 2 and isinstance(
                    df.schema[parts[0]].dataType, MapType):
                # map keys have REAL per-row presence: Event#include?
                # is true for a present-but-nil key, so update SETS it
                # (only_if_present supplies the include? gate); the
                # isNotNull wrapper below is only the struct/top-column
                # proxy where null encodes absence
                val = sprintf_col(template)
            else:
                val = F.when(
                    cur.isNotNull(), sprintf_col(template)).otherwise(cur)
            df = set_field(df, ref, val, only_if_present=True)
        return df

    def _op_replace(self, df, arg: dict):
        for ref, template in arg.items():
            df = set_field(df, ref, sprintf_col(template))
        return df

    def _op_convert(self, df, arg: dict):
        for ref, typ in arg.items():
            if not field_exists(df, ref):
                continue  # mutate.rb: convert on a missing field is a no-op
            spark_t = _CONVERT_TYPES.get(typ, typ)
            col = field_col(ref)
            if typ == "boolean":
                # mutate.rb convert: "true"/"t"/"yes"/"y"/"1" → true, etc.
                # Unconvertible → null: mutate.rb keeps the ORIGINAL
                # value, but a Spark column has one static type — null
                # is the same documented deviation every other convert
                # type takes via try_cast (dirty value → null, flow on).
                col = F.when(F.lower(col.cast("string")).isin("true", "t", "yes", "y", "1"), F.lit(True)) \
                    .when(F.lower(col.cast("string")).isin("false", "f", "no", "n", "0"), F.lit(False))
            else:
                # try_cast: a dirty value yields null (mutate.rb logs and
                # keeps flowing) instead of throwing under ANSI sessions
                col = col.try_cast(spark_t)
            df = set_field(df, ref, col, only_if_present=True)
        return df

    @staticmethod
    def _ruby_repl_to_java(repl: str) -> str:
        """mutate.rb gsub replacements are RUBY syntax: ``\\1`` group
        backrefs, ``\\k<name>`` named refs, ``$`` literal. Java's
        replaceAll (regexp_replace) spells those ``$1`` / ``${name}``
        and treats a bare ``$`` as a group sigil — passing the Ruby
        string through silently emits literal '1' for ``\\1`` and
        THROWS on a literal '$'. Translate token-by-token."""
        out: list[str] = []
        i, n = 0, len(repl)
        while i < n:
            c = repl[i]
            if c == "\\" and i + 1 < n:
                nxt = repl[i + 1]
                if nxt.isdigit():
                    out.append("$" + nxt)
                    i += 2
                    continue
                if nxt == "k" and repl[i + 2: i + 3] == "<" and ">" in repl[i + 3:]:
                    j = repl.index(">", i + 3)
                    out.append("${" + repl[i + 3: j] + "}")
                    i = j + 1
                    continue
                if nxt == "&":  # Ruby whole-match backref → Java $0
                    out.append("$0")
                    i += 2
                    continue
                if nxt in "`'+":
                    # Ruby pre-match/post-match/last-group refs have no
                    # Java replaceAll spelling — reject loudly rather
                    # than silently emitting a corrupted literal
                    raise ValueError(
                        f"gsub replacement uses Ruby \\{nxt} which has no "
                        f"Java regexp_replace equivalent: {repl!r}")
                out.append("\\" + nxt)  # \\ and other escapes: same in Java
                i += 2
                continue
            if c == "$":
                out.append("\\$")
                i += 1
                continue
            out.append(c)
            i += 1
        return "".join(out)

    def _op_gsub(self, df, arg: list):
        # flat triples [field, pattern, replacement, ...]
        for i in range(0, len(arg), 3):
            ref, pat, repl = arg[i : i + 3]
            if not field_exists(df, ref):
                continue  # mutate.rb: nil field → skip
            df = set_field(df, ref, F.regexp_replace(
                field_col(ref), pat, self._ruby_repl_to_java(repl)),
                only_if_present=True)
        return df

    def _op_uppercase(self, df, refs: list):
        for ref in refs:
            if field_exists(df, ref):
                df = set_field(df, ref, F.upper(field_col(ref)),
                               only_if_present=True)
        return df

    def _op_capitalize(self, df, refs: list):
        for ref in refs:
            if not field_exists(df, ref):
                continue
            cur = field_col(ref)
            df = set_field(df, ref, F.concat(
                F.upper(cur.substr(1, 1)),
                F.lower(cur.substr(F.lit(2), F.length(cur)))),
                only_if_present=True)
        return df

    def _op_lowercase(self, df, refs: list):
        for ref in refs:
            if field_exists(df, ref):
                df = set_field(df, ref, F.lower(field_col(ref)),
                               only_if_present=True)
        return df

    def _op_strip(self, df, refs: list):
        for ref in refs:
            if field_exists(df, ref):
                df = set_field(df, ref, F.trim(field_col(ref)),
                               only_if_present=True)
        return df

    def _op_split(self, df, arg: dict):
        for ref, sep in arg.items():
            import re as _re

            if field_exists(df, ref):
                df = set_field(df, ref, F.split(
                    field_col(ref), _re.escape(sep)),
                    only_if_present=True)
        return df

    def _op_join(self, df, arg: dict):
        for ref, sep in arg.items():
            if field_exists(df, ref):
                df = set_field(df, ref, F.array_join(field_col(ref), sep),
                               only_if_present=True)
        return df

    @staticmethod
    def _merge_array_side(col, dt) -> Column:
        """``Array(value)`` per mutate.rb: nil → [], array → itself,
        scalar → one-element array. ``array_compact`` turns a wrapped
        per-row-null scalar into [] so the concat never nulls out."""
        from pyspark.sql.types import ArrayType

        if isinstance(dt, ArrayType):
            return F.coalesce(col, F.array().cast(dt.simpleString()))
        return F.array_compact(F.array(col))

    def _op_merge(self, df, arg: dict):
        # mutate.rb merge (mutate.rb `merge` method), per event:
        #   Hash?(dest) ^ Hash?(src)  → error log, event unchanged
        #   Hash?(dest)               → dest.update(src) (src wins)
        #   else → Array(dest).concat(Array(src))  [Array(nil)=[]]
        # Hash ≙ map- OR struct-typed here (this engine's nested hashes
        # are predominantly structs). The XOR error is schema-static
        # when the TYPES mismatch → plan-time warning + no-op; per-row
        # nil on either side of a non-hash merge wraps to [] via
        # array_compact so a null never erases the other side (the
        # round-5 review's data-loss finding). Documented deviation: a
        # per-row-null value in a HASH-typed column stays unchanged
        # (Ruby would produce an array there, which a typed map/struct
        # column cannot also hold).
        import warnings

        from pyspark.sql.types import MapType, StructType

        def _hashy(dt) -> bool:
            return isinstance(dt, (MapType, StructType))

        for dest, src in arg.items():
            src_exists = field_exists(df, src)
            dest_exists = field_exists(df, dest)
            st = _leaf_dtype(df, src) if src_exists else None
            dt = _leaf_dtype(df, dest) if dest_exists else None
            sv = field_col(src) if src_exists else None
            dv = field_col(dest) if dest_exists else None
            if not src_exists and not dest_exists:
                # Array(nil).concat(Array(nil)) = [] — event.set(dest, [])
                df = set_field(df, dest, F.array().cast("array<string>"))
                continue
            if (_hashy(dt) and not (src_exists and _hashy(st))) or (
                    _hashy(st) and not (dest_exists and _hashy(dt))):
                warnings.warn(
                    f"mutate merge {dest!r} <= {src!r}: cannot merge "
                    f"{st.simpleString() if st else 'nil'} into "
                    f"{dt.simpleString() if dt else 'nil'} (reference "
                    "Hash-XOR guard) — no-op")
                continue
            if not src_exists:
                # nil src, non-hash dest: Array(dest).concat([]) — a
                # scalar dest becomes a one-element array, null → []
                df = set_field(df, dest, self._merge_array_side(dv, dt))
                continue
            if not dest_exists:
                # nil dest, non-hash src: Array(nil).concat(Array(src))
                df = set_field(df, dest, self._merge_array_side(sv, st))
                continue
            if _hashy(dt):
                df = set_field(
                    df, dest, self._merge_hash(dv, dt, sv, st, dest, src))
            else:
                # Catalyst's array type coercion picks the common
                # element type; a genuinely incompatible pair fails
                # analysis LOUDLY (the typed-column equivalent of
                # Ruby's anything-goes arrays)
                df = set_field(df, dest, F.concat(
                    self._merge_array_side(dv, dt),
                    self._merge_array_side(sv, st)))
        return df

    @staticmethod
    def _merge_hash(dv, dt, sv, st, dest: str, src: str) -> Column:
        """``dest.update(src)`` (Hash#update: src wins on key overlap)
        lowered per type pair. Per-row nil src → XOR → dest unchanged;
        per-row nil dest → XOR → stays null (map_concat/struct of null
        propagates)."""
        from pyspark.sql.types import MapType, StructType

        if isinstance(dt, MapType):
            if isinstance(st, MapType):
                src_keys = F.map_keys(sv)
                kept = F.map_filter(
                    dv, lambda k, _: ~F.array_contains(src_keys, k))
                # map_concat alone THROWS on duplicate keys under the
                # default mapKeyDedupPolicy=EXCEPTION — filter first
                merged = F.map_concat(kept, sv.try_cast(dt.simpleString()))
            else:  # struct src → static keys become map entries
                names = [f.name for f in st.fields]
                entries = [x for n in names for x in (
                    F.lit(n).cast(dt.keyType),
                    sv[n].try_cast(dt.valueType))]
                kept = F.map_filter(dv, lambda k, _: ~k.isin(*names))
                merged = F.map_concat(kept, F.create_map(*entries))
            return F.when(sv.isNull(), dv).otherwise(merged)
        # struct dest
        if isinstance(st, MapType):
            raise ValueError(
                f"mutate merge {dest!r} <= {src!r}: cannot merge a map "
                "(per-row dynamic keys) into a struct-typed destination "
                "— a typed struct cannot grow per-row keys; make the "
                "destination a map or merge the other direction")
        dest_only = [f for f in dt.fields
                     if f.name not in {g.name for g in st.fields}]
        # union shape, src wins: dest-only fields keep their values,
        # every src field comes from src (overlapping names take the
        # src VALUE and, typed-column necessity, the src TYPE)
        merged = F.struct(
            *[dv[f.name].alias(f.name) for f in dest_only],
            *[sv[g.name].alias(g.name) for g in st.fields])
        dest_names = {f.name for f in dt.fields}
        aligned = F.struct(
            *[dv[f.name].alias(f.name) for f in dest_only],
            *[(dv[g.name].try_cast(g.dataType) if g.name in dest_names
               else F.lit(None).cast(g.dataType)).alias(g.name)
              for g in st.fields])
        union_t = StructType(list(dest_only) + list(st.fields))
        return (F.when(dv.isNull(), F.lit(None).cast(union_t))
                .when(sv.isNull(), aligned).otherwise(merged))

    def _op_copy(self, df, arg: dict):
        for src, dest in arg.items():
            df = set_field(df, dest, field_col(src))
        return df


@register("prune")
class PruneStage(Stage):
    """logstash-filter-prune: whitelist/blacklist field names (regex).

    Resolved entirely at plan time — it's a ``select``. Map-column
    residue pruned via ``map_filter``.
    """

    row_local = False  # keeps columns by pattern, the gate's own among them

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        import re

        wl = self.conf.get("whitelist_names")
        bl = self.conf.get("blacklist_names")
        keep = df.columns
        if wl:
            pats = [re.compile(p) for p in wl]
            keep = [c for c in keep if any(p.search(c) for p in pats)]
        if bl:
            pats = [re.compile(p) for p in bl]
            keep = [c for c in keep if not any(p.search(c) for p in pats)]
        return df.select(*map(top_col, keep)), None


@register("de_dot")
class DeDotStage(Stage):
    """logstash-filter-de_dot: '.' in column names → '_' (plan-time rename)."""

    row_local = False  # renames every dotted name, inside the gate's backups too

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        sep = self.conf.get("separator", "_")
        for c in df.columns:
            if "." in c:
                df = df.withColumnRenamed(c, c.replace(".", sep))
        return df, None


@register("urldecode")
class UrlDecodeStage(Stage):
    """logstash-filter-urldecode → native F.try_url_decode: a broken
    %-escape yields null, never an ANSI throw (urldecode.rb likewise
    never aborts — it tags the event and keeps flowing)."""

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        ref = self.conf.get("field", "message")
        name = field_name(ref)
        df = df.withColumn(name, F.try_url_decode(field_col(ref)))
        return df, None


@register("truncate")
class TruncateStage(Stage):
    """logstash-filter-truncate: cap string fields at length_bytes.

    Byte-true semantics via binary substring then decode. The cut point
    backs up (≤3 bytes) to a UTF-8 character boundary before decoding:
    under an ANSI-on session ``decode`` throws MALFORMED_CHARACTER_CODING
    on a mid-codepoint split, and the reference never emits broken
    UTF-8 either (truncate.rb cuts the Ruby string, which is
    codepoint-aware). All native: byte probing via hex/conv — no UDF.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        n = int(self.conf["length_bytes"])
        fields = str_list(self.conf.get("fields", ["message"]))

        def byte_at(bin_col: Column, pos: Column) -> Column:
            # 1-indexed byte value; 0 past end (conv('',16,10) = '0')
            return F.conv(F.hex(F.substring(bin_col, pos, 1)), 16, 10).cast("int")

        def is_cont(bin_col: Column, pos: Column) -> Column:
            b = byte_at(bin_col, pos)
            return (b >= 128) & (b < 192)

        for ref in fields:
            name = field_name(ref)
            col = F.col(name)
            raw = F.encode(col, "UTF-8")
            # largest cut ≤ n such that byte(cut+1) is not a continuation
            # byte — i.e. the prefix ends on a character boundary
            cut = (
                F.when(~is_cont(raw, F.lit(n + 1)), F.lit(n))
                .when(~is_cont(raw, F.lit(n)), F.lit(n - 1))
                .when(~is_cont(raw, F.lit(n - 1)), F.lit(n - 2))
                .otherwise(F.lit(n - 3))
            )
            truncated = F.decode(F.substring(raw, F.lit(1), cut), "UTF-8")
            df = df.withColumn(
                name, F.when(F.octet_length(col) > n, truncated).otherwise(col)
            )
        return df, None


_SYSLOG_FACILITIES = [
    "kernel", "user-level", "mail", "daemon", "security/authorization",
    "syslogd", "line printer", "network news", "uucp", "clock",
    "security/authorization", "ftp", "ntp", "log audit", "log alert",
    "clock", "local0", "local1", "local2", "local3", "local4", "local5",
    "local6", "local7",
]
_SYSLOG_SEVERITIES = [
    "emergency", "alert", "critical", "error", "warning", "notice",
    "informational", "debug",
]


@register("syslog_pri")
class SyslogPriStage(Stage):
    """logstash-filter-syslog_pri: <PRI> → facility/severity (arithmetic
    + small literal create_map lookups; all JVM-side)."""

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        ref = self.conf.get("syslog_pri_field_name", "syslog_pri")
        pri = field_col(ref).try_cast("int")  # dirty PRI → null, never a throw
        fac_map = F.create_map(
            *[x for i, name in enumerate(_SYSLOG_FACILITIES) for x in (F.lit(i), F.lit(name))]
        )
        sev_map = F.create_map(
            *[x for i, name in enumerate(_SYSLOG_SEVERITIES) for x in (F.lit(i), F.lit(name))]
        )
        df = (
            df.withColumn("syslog_facility_code", (pri / 8).cast("int"))
            .withColumn("syslog_severity_code", pri % 8)
            .withColumn("syslog_facility", fac_map[F.col("syslog_facility_code")])
            .withColumn("syslog_severity", sev_map[F.col("syslog_severity_code")])
        )
        return df, pri.isNotNull()


_DIGEST_FN = {
    "MD5": F.md5,
    "SHA1": F.sha1,
    "SHA256": lambda c: F.sha2(c, 256),
    "SHA384": lambda c: F.sha2(c, 384),
    "SHA512": lambda c: F.sha2(c, 512),
}


def hmac_col(src: Column, key: str, method: str = "SHA256") -> Column:
    """True RFC-2104 HMAC, fully native: the key-derived ipad/opad blocks
    are plan-time byte literals; per row it's two digest calls plus
    binary concat — all JVM-side, no UDF. Verified against Python's
    ``hmac`` in tests (the parity a reference deployment would check).
    """
    import hashlib

    block = 128 if method in ("SHA512", "SHA384") else 64
    kb = key.encode("utf-8")
    if len(kb) > block:
        kb = hashlib.new(method.lower(), kb).digest()
    kb = kb.ljust(block, b"\x00")
    ipad = bytes(b ^ 0x36 for b in kb)
    opad = bytes(b ^ 0x5C for b in kb)
    digest = _DIGEST_FN[method]
    inner_hex = digest(F.concat(F.lit(ipad), F.encode(src, "UTF-8")))
    return digest(F.concat(F.lit(opad), F.unhex(inner_hex)))


@register("fingerprint")
class FingerprintStage(Stage):
    """logstash-filter-fingerprint: hash field(s) → fingerprint column.

    methods: MD5|SHA1|SHA256|SHA512|MURMUR3|XX64 (extension);
    ``key`` set → true HMAC-<method> (fingerprint.rb's OpenSSL::HMAC),
    so fingerprints are comparable with a reference deployment.

    Multi-source semantics are fingerprint.rb's EXACTLY (cross-system
    dedup keys break on any divergence): sources are SORTED; with
    ``concatenate_sources => true`` the hashed string is
    ``|name|value|name|value…|`` (field NAMES included, nil renders
    empty); without it each existing source sets the target in sorted
    order — the LAST present source wins.
    All native hash/concat expressions — JVM codegen path.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        # fingerprint.rb: @source.sort
        sources = sorted(str_list(self.conf.get("source", ["message"])))
        method = self.conf.get("method", "SHA256").upper()
        target = self.conf.get("target", "fingerprint")
        key = self.conf.get("key")
        if key and method not in _DIGEST_FN:
            raise ValueError(f"HMAC not supported for method {method}")
        fn = (lambda c: hmac_col(c, key, method)) if key else {
            "MURMUR3": lambda c: F.hash(c).cast("string"),
            "XX64": lambda c: F.xxhash64(c).cast("string"),
            **_DIGEST_FN,
        }[method]
        # fingerprint.rb applies the '|name|value|' form whenever
        # concatenate_sources is set, REGARDLESS of source count — a
        # single-source concatenated fingerprint must stay comparable
        # with a reference deployment's
        if self.conf.get("concatenate_sources", False):
            # '|k1|v1|k2|v2|' — "#{nil}" is the empty string in Ruby
            src = F.concat(
                *[F.concat(F.lit(f"|{s}|"),
                           F.coalesce(field_col(s).cast("string"), F.lit("")))
                  for s in sources],
                F.lit("|"),
            )
            return df.withColumn(target, fn(src)), None
        if len(sources) == 1:
            return df.withColumn(
                target, fn(field_col(sources[0]).cast("string"))), None
        # non-concatenated multi-source: each PRESENT source overwrites
        # the target in sorted order → last present source wins
        return df.withColumn(
            target,
            F.coalesce(*[
                F.when(field_col(s).isNotNull(),
                       fn(field_col(s).cast("string")))
                for s in reversed(sources)
            ]),
        ), None


@register("anonymize")
class AnonymizeStage(Stage):
    """logstash-filter-anonymize (deprecated upstream in favor of
    fingerprint; kept so ported configs run unchanged): replace each
    field in ``fields`` IN PLACE with its anonymized form.

    ``algorithm`` (default SHA1): MD5/SHA1/SHA256/SHA384/SHA512 are
    HMAC-keyed with ``key`` (anonymize.rb's OpenSSL::HMAC — same
    ``hmac_col`` native lowering as fingerprint, so values are
    comparable with a reference deployment); MURMUR3 ignores the key
    (reference behavior); IPV4_NETWORK keeps the network portion of an
    IPv4 — ``key`` is the prefix length, host bits zeroed. All-native
    expressions; nulls pass through untouched.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        fields = self.conf.get("fields")
        if not fields:
            raise ValueError("anonymize: `fields` is required")
        fields = str_list(fields)
        algo = self.conf.get("algorithm", "SHA1").upper()
        key = self.conf.get("key")
        if algo not in ("MURMUR3",) and key is None:
            raise ValueError("anonymize: `key` is required")
        for f in fields:
            name = field_name(f)
            src = field_col(f).cast("string")
            if algo == "MURMUR3":
                val = F.when(src.isNotNull(), F.hash(src).cast("string"))
            elif algo == "IPV4_NETWORK":
                prefix = int(key)
                if not 0 <= prefix <= 32:
                    raise ValueError(
                        f"anonymize: IPV4_NETWORK key must be a prefix "
                        f"length 0-32, got {key!r}")
                from .enrich import ip_to_long

                mask = (0xFFFFFFFF << (32 - prefix)) & 0xFFFFFFFF if prefix \
                    else 0
                n = ip_to_long(src).bitwiseAND(F.lit(mask))
                val = F.concat_ws(
                    ".",
                    F.shiftright(n, 24).bitwiseAND(F.lit(255)).cast("string"),
                    F.shiftright(n, 16).bitwiseAND(F.lit(255)).cast("string"),
                    F.shiftright(n, 8).bitwiseAND(F.lit(255)).cast("string"),
                    n.bitwiseAND(F.lit(255)).cast("string"),
                )
                # concat_ws skips nulls (would yield "") — gate on the
                # parsed int so null/unparseable IPs stay null
                val = F.when(n.isNotNull(), val)
            elif algo in _DIGEST_FN:
                val = hmac_col(src, str(key), algo)
            else:
                raise ValueError(f"anonymize: unsupported algorithm {algo!r}")
            df = df.withColumn(name, val)
        return df, None


@register("uuid")
class UuidStage(Stage):
    """logstash-filter-uuid. Deterministic test mode: hash-derived UUID
    from a seed field (SURVEY §7 determinism note)."""

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        target = self.conf.get("target", "uuid")
        seed_field = self.conf.get("deterministic_from")
        if seed_field:
            h = F.sha2(field_col(seed_field).cast("string"), 256)
            uuid = F.concat_ws(
                "-",
                F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
                F.substring(h, 17, 4), F.substring(h, 21, 12),
            )
        else:
            uuid = F.expr("uuid()")
        return df.withColumn(target, uuid), None


@register("extractnumbers")
class ExtractNumbersStage(Stage):
    """logstash-filter-extractnumbers: pull every number out of a string
    field. Deviation (documented): the reference creates dynamic
    ``int0``/``float1``… fields per event; a schema-first engine puts
    them in ONE ``array<double>`` column (+ ``ints``/``floats`` splits
    available via array ops). Fully native regexp_extract_all."""

    _NUM_RE = r"[+-]?\d+(?:\.\d+)?"

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        source = self.conf.get("source", "message")
        target = self.conf.get("target", "extracted_numbers")
        nums = F.transform(
            F.regexp_extract_all(field_col(source), F.lit(self._NUM_RE), F.lit(0)),
            lambda s: s.try_cast("double"),
        )
        df = df.withColumn(target, nums)
        return df, F.size(F.col(target)) > 0


@register("range")
class RangeStage(Stage):
    """logstash-filter-range: check numeric values / string lengths
    against [min, max]; matched rows get the common options
    (add_tag/add_field) or are dropped. conf: ranges = list of
    [field, min, max] triples (numeric fields compare by value, string
    fields by length — range.rb semantics), negate, action
    ("tag" default — common options fire on match; "drop" removes
    matching rows)."""

    @property
    def row_local(self) -> bool:
        return self.conf.get("action", "tag") != "drop"  # drop removes rows

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        ranges: list = self.conf["ranges"]
        negate = bool(self.conf.get("negate", False))
        cond = F.lit(False)
        for ref, lo, hi in ranges:
            col = field_col(ref)
            dt = dict(df.dtypes).get(field_name(ref), "")
            probe = F.length(col) if dt == "string" else col
            cond = cond | ((probe >= F.lit(lo)) & (probe <= F.lit(hi)))
        if negate:
            cond = ~cond
        if self.conf.get("action", "tag") == "drop":
            return df.filter(~F.coalesce(cond, F.lit(False))), None
        return df.withColumn("__matched", cond), F.col("__matched")


@register("environment")
class EnvironmentStage(Stage):
    """logstash-filter-environment: expose environment variables as
    fields. Resolved at PLAN time into literal columns (the reference
    reads the env once at filter init too). conf:
    add_field_from_env = {field: ENV_VAR_NAME}."""

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        import os

        for ref, var in self.conf.get("add_field_from_env", {}).items():
            df = df.withColumn(field_name(ref), F.lit(os.environ.get(var)))
        return df, None


@register("ruby")
class RubyStage(Stage):
    """logstash-filter-ruby — the escape-hatch UDF.

    In this engine the escape hatch is a user-supplied VECTORIZED
    function (pd.Series → pd.Series), never per-row Python
    (BASELINE.json input_hint hard requirement). conf:
    ``code`` = callable, ``source`` field, ``target`` field,
    ``returns`` = DDL type of the result (default string).
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        fn = self.conf["code"]
        if isinstance(fn, str):
            # an LSCL config carrying inline Ruby source — fail with the
            # engine's contract instead of crashing when "fn(s)" is a str
            raise ValueError(
                "ruby stage: `code` must be a Python callable "
                "(pd.Series -> pd.Series); inline Ruby source strings are "
                "not executable in this engine — port the snippet to a "
                "vectorized function and pass it via the pipeline spec"
            )
        sources = str_list(self.conf.get("source", "message"))
        target = self.conf.get("target", field_name(sources[0]))
        rtype = self.conf.get("returns", "string")
        from pyspark.sql.functions import pandas_udf

        if len(sources) == 1:

            @pandas_udf(rtype)
            def _ruby(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
                for s in batches:
                    yield fn(s)

        else:
            # multi-column: fn receives one pd.Series per source field
            # (fixed-arity wrappers — pandas_udf infers arity from the
            # signature)
            wrappers = {
                2: lambda a, b: fn(a, b),
                3: lambda a, b, c: fn(a, b, c),
                4: lambda a, b, c, d: fn(a, b, c, d),
            }
            if len(sources) not in wrappers:
                raise ValueError("ruby stage supports 1-4 source fields")
            _ruby = pandas_udf(wrappers[len(sources)], rtype)

        return df.withColumn(target, _ruby(*[field_col(s) for s in sources])), None


@register("i18n")
class I18nStage(Stage):
    """logstash-filter-i18n:lib/logstash/filters/i18n.rb —
    ``transliterate => [fields]``: non-ASCII characters in the named
    string fields are down-converted to ASCII approximations
    ("héllo wörld" → "hello world").

    Spark re-expression: vectorized pandas Unicode pipeline per Arrow
    batch — ``Series.str.normalize("NFKD")`` (C-level ICU-backed
    decomposition) then an ascii encode/ignore, which drops the
    combining marks the decomposition split off. Characters with no
    decomposition (e.g. CJK) are removed, matching the reference's
    best-effort contract. Rows that change are the matched set.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        from pyspark.sql.functions import pandas_udf

        fields = list(self.conf.get("transliterate", []))
        if not fields:
            raise ValueError("i18n: transliterate => [fields] is required")

        @pandas_udf("string")
        def _translit(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in it:
                yield (
                    s.str.normalize("NFKD")
                    .str.encode("ascii", errors="ignore")
                    .str.decode("ascii")
                )

        changed = F.lit(False)
        for f in fields:
            src = field_col(f)
            df = df.withColumn(f"__i18n_{field_name(f)}", _translit(src))
        for f in fields:
            name = field_name(f)
            tmp = F.col(f"__i18n_{name}")
            changed = changed | (field_col(f).isNotNull() & (tmp != field_col(f)))
        df = df.withColumn("__matched", changed)
        for f in fields:
            name = field_name(f)
            df = df.withColumn(name, F.coalesce(F.col(f"__i18n_{name}"),
                                                field_col(f)))
            df = df.drop(f"__i18n_{name}")
        return df, F.col("__matched")
