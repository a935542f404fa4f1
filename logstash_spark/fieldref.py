"""Field references and sprintf interpolation, compiled to Column exprs.

Reference counterparts:
* ``[a][b][c]`` nested field paths — logstash-core/src/main/java/org/
  logstash/FieldReference.java (``FieldReference#from``,
  ``StrictTokenizer``): parsed once, cached, strict about malformed refs.
* ``%{field}`` / ``%{[a][b]}`` / ``%{+yyyy.MM.dd}`` string templates —
  logstash-core/src/main/java/org/logstash/StringInterpolation.java
  (``StringInterpolation#evaluate``).

Spark mapping (SURVEY.md §1.2): a field ref becomes a dotted Column
path (struct access); ``@timestamp`` maps to the ``event_ts`` column;
``@metadata`` to the ``_meta`` map column; sprintf compiles ONCE at
plan time into a ``concat`` of literals, column refs and
``date_format(event_ts, fmt)`` — Catalyst constant-folds the rest.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

TIMESTAMP_FIELD = "event_ts"
METADATA_FIELD = "_meta"
TAGS_FIELD = "tags"

_REF_TOKEN = re.compile(r"\[([^\[\]]+)\]")
_SPRINTF = re.compile(r"%\{([^}]+)\}")


class FieldRefError(ValueError):
    """Malformed field reference (mirrors FieldReference.StrictTokenizer)."""


def parse_ref(ref: str) -> list[str]:
    """``"[a][b]"`` → ``["a", "b"]``; bare ``"a"`` → ``["a"]``.

    Strict: a ref containing ``[`` must be fully bracketed with no
    stray characters (the reference rejects ambiguous refs the same way).
    """
    if not ref:
        raise FieldRefError("empty field reference")
    if "[" not in ref and "]" not in ref:
        return [ref]
    parts = _REF_TOKEN.findall(ref)
    if "".join(f"[{p}]" for p in parts) != ref:
        raise FieldRefError(f"malformed field reference: {ref!r}")
    return parts


def _canonical(parts: list[str]) -> list[str]:
    # Reserved-name mapping (SURVEY §1.2 table).
    if parts[0] == "@timestamp":
        return [TIMESTAMP_FIELD] + parts[1:]
    if parts[0] == "@metadata":
        return [METADATA_FIELD] + parts[1:]
    return parts


_INDEX_RE = re.compile(r"-?[0-9]+")


def is_index(seg: str) -> bool:
    """Is this path segment a list index (optionally negative, ASCII
    digits only — unicode digit-likes are map/struct KEYS)?"""
    return bool(_INDEX_RE.fullmatch(seg))


def top_col(name: str) -> Column:
    """Top-level column by its literal name, backtick-quoted when the
    NAME itself contains dots/backticks (k8s labels, ECS dotted names —
    the reason de_dot exists): bare ``F.col('host.name')`` would resolve
    as a nested path and fail. Every select/struct over whole-frame
    column lists goes through this."""
    if "." in name or "`" in name:
        return F.col("`" + name.replace("`", "``") + "`")
    return F.col(name)


def field_col(ref: str) -> Column:
    """Field reference → Column. Nested path = struct/map access chain."""
    parts = _canonical(parse_ref(ref))
    if parts[0] == METADATA_FIELD and len(parts) == 2:
        # the canonical metadata column is a MAP: every key — including
        # an all-digit one — is a string KEY lookup, never a list index
        return F.col(METADATA_FIELD).getItem(parts[1])
    col = top_col(parts[0])
    for p in parts[1:]:
        if _INDEX_RE.fullmatch(p):
            # numeric path element = 0-based list index (FieldReference
            # semantics); negative = from the end, Ruby-style. F.get is
            # 0-based but rejects negatives; element_at is 1-based with
            # -1 = last. Both yield null out-of-bounds (never an ANSI
            # INVALID_ARRAY_INDEX throw).
            i = int(p)
            col = F.get(col, i) if i >= 0 else F.element_at(col, i)
        else:
            col = col.getField(p)
    return col


def field_name(ref: str) -> str:
    """Top-level column name for a ref (for withColumn targets)."""
    return _canonical(parse_ref(ref))[0]


def _joda_to_java(fmt: str) -> str:
    """Logstash date patterns are JODA; Spark's date_format/
    try_to_timestamp use java.time. The overlap is large but the
    differences are data-corrupting where they bite:

    * Joda ``Y`` = year-of-era (the ubiquitous ``%{+YYYY.MM.dd}`` index
      pattern), java.time ``Y`` = WEEK-BASED year → wrong year for a
      few days around every new year. Translate Y-runs → ``y``.
    * Joda ``x`` = weekyear → java.time ``Y``.
    * Joda zone tokens are LENGTH-MATCHED, not substring-replaced (a
      blind ``.replace('ZZ', 'XXX')`` mangles ``ZZZ`` into ``XXXZ``):
      ``Z`` (+0100) → ``Z`` (same in java.time), ``ZZ`` (+01:00) →
      ``xxx`` (never the bare 'Z' that java ``XXX`` emits at UTC —
      Joda ZZ prints +00:00), ``ZZZ``+ (zone id) → ``VV``.

    Quoted literals (``'T'``) pass through verbatim."""
    import re as _re

    def _z(m: "_re.Match") -> str:
        n = len(m.group())
        if n == 1:
            return "Z"
        if n == 2:
            return "xxx"
        return "VV"

    out = []
    for i, seg in enumerate(_re.split(r"('(?:[^']|'')*')", fmt)):
        if i % 2:  # quoted literal
            out.append(seg)
            continue
        seg = _re.sub(r"Y+", lambda m: "y" * len(m.group()), seg)
        if "x" in seg:
            # Joda weekyear. java.time spells it 'Y' — but Spark 3+
            # REJECTS week-based pattern letters outright
            # (DATETIME_PATTERN_RECOGNITION at first execution), so a
            # translation would compile a pattern that can never run.
            # Refuse at plan time with the real reason instead.
            raise ValueError(
                f"Joda weekyear pattern 'x' in {fmt!r} is not "
                "supportable: Spark 3+ removed week-based fields from "
                "java.time pattern strings; use calendar year 'y' or "
                "derive the ISO week-year as a column expression")
        out.append(_re.sub(r"Z+", _z, seg))
    return "".join(out)


def sprintf_col(template: str, ts_field: str = TIMESTAMP_FIELD) -> Column:
    """Compile a ``%{...}`` template into one concat Column.

    * ``%{field}`` / ``%{[a][b]}`` → the field's string value
      (null-safe: null prints as empty string, matching the reference's
      behavior of leaving ``%{missing}`` unresolved is NOT mirrored —
      we document empty-string for missing as a deviation).
    * ``%{+<fmt>}`` → ``date_format(event_ts, fmt)``.
    """
    pieces: list[Column] = []
    pos = 0
    for m in _SPRINTF.finditer(template):
        if m.start() > pos:
            pieces.append(F.lit(template[pos : m.start()]))
        token = m.group(1)
        if token.startswith("+"):
            # null-coalesced like the field branch: a null timestamp
            # must not null-propagate through concat and erase the
            # ENTIRE template (review finding)
            pieces.append(F.coalesce(
                F.date_format(F.col(ts_field), _joda_to_java(token[1:])),
                F.lit("")))
        else:
            pieces.append(F.coalesce(field_col(token).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(template):
        pieces.append(F.lit(template[pos:]))
    if not pieces:
        return F.lit("")
    return pieces[0] if len(pieces) == 1 else F.concat(*pieces)
