"""Stage framework: one Logstash filter ≙ one plan-time DataFrame rewrite.

Reference counterpart: logstash-core/lib/logstash/filters/base.rb —
every filter shares the common options ``add_field``, ``add_tag``,
``remove_field``, ``remove_tag`` (applied via ``filter_matched`` ONLY
on events the filter matched) plus an ``id``. The per-event
``filter(event)`` contract becomes here a per-DataFrame ``transform``
contract: a stage takes a DataFrame and returns
``(DataFrame, matched_predicate | None)``; the base class then applies
the common options to every row and keeps them only on matched rows
through ``gated_merge`` — the uniform success-conditioned wrapper
SURVEY §2.4 requires, and the same gate ``Pipeline.compile`` lowers an
LSCL ``if`` around a stage with.

Stages are registered by their Logstash plugin name so a pipeline spec
reads like a logstash.conf: ``{"grok": {...}}``, ``{"mutate": {...}}``.
"""

from __future__ import annotations

import itertools
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, MapType, NullType, NumericType, StructField, StructType,
)

from ..fieldref import (
    TAGS_FIELD, field_col, field_name, is_index, sprintf_col, top_col,
)

STAGE_REGISTRY: dict[str, type["Stage"]] = {}


def register(name: str):
    def deco(cls):
        STAGE_REGISTRY[name] = cls
        cls.plugin_name = name
        return cls

    return deco


def _qseg(seg: str) -> str:
    """Quote one struct-path segment for withField/dropFields, which
    PARSE dotted strings as nested paths — a field literally named
    ``b.c`` (de_dot exists because these occur in the wild) must be
    backtick-escaped or it silently addresses the wrong slot."""
    if "." in seg or "`" in seg:
        return "`" + seg.replace("`", "``") + "`"
    return seg


def _set_struct_path(col: Column, dtype, path: list[str], val: Column) -> Column:
    """Set ``path`` inside struct column ``col`` (whose schema is
    ``dtype``) to ``val``, creating missing intermediate structs the way
    the reference's ``Event#setField`` creates intermediate hashes
    (logstash-core: ConvertedMap auto-vivification), and — like Ruby —
    overwriting a non-hash intermediate with a hash."""
    from pyspark.sql.types import StructType

    prefix: list[str] = []
    cur = dtype
    for p in path[:-1]:
        if isinstance(cur, StructType) and p in cur.fieldNames():
            inner_t = cur[p].dataType
            if isinstance(inner_t, StructType):
                prefix.append(p)
                cur = inner_t
                continue
        break
    remainder = path[len(prefix):]
    inner = val
    for p in reversed(remainder[1:]):
        inner = F.struct(inner.alias(p))
    return col.withField(
        ".".join(_qseg(p) for p in prefix + [remainder[0]]), inner)


def _struct_leaf_type(dtype, path: list[str]):
    """The DataType at ``path`` inside struct schema ``dtype``, or None
    when the path does not fully exist."""
    from pyspark.sql.types import StructType

    cur = dtype
    for p in path:
        if not (isinstance(cur, StructType) and p in cur.fieldNames()):
            return None
        cur = cur[p].dataType
    return cur


def _map_drop_key(col: Column, key: str) -> Column:
    """Remove ``key`` from a map column (per-key absence — the one
    thing maps can express that structs cannot)."""
    return F.map_filter(col, lambda k, _: k != F.lit(key))


def _map_set_key(
    col: Column, dtype, key: str, val: Column,
    only_if_present: bool = False,
) -> Column:
    """Upsert ``key`` in a map column (last-wins without depending on
    spark.sql.mapKeyDedupPolicy): filter the key out, concat the new
    entry. A null map becomes a one-entry map (Event#setField vivifies
    @metadata on first write). ``only_if_present`` keeps rows whose map
    does NOT already contain ``key`` untouched — the ``Event#include?``
    per-row gate of update/gsub/case ops, which must not fabricate a
    ``key -> null`` entry for rows the reference would skip."""
    base = F.coalesce(col, F.create_map().cast(dtype.simpleString()))
    entry = F.create_map(
        F.lit(key).cast(dtype.keyType), val.try_cast(dtype.valueType))
    upserted = F.map_concat(_map_drop_key(base, key), entry)
    if only_if_present:
        return F.when(
            F.map_contains_key(col, F.lit(key)), upserted).otherwise(col)
    return upserted


def _drop_field_path(df: DataFrame, parts: list[str]) -> DataFrame:
    """Drop the leaf at ``parts`` and collapse any ancestor struct the
    removal would leave EMPTY. Documented deviation: Ruby's Hash#delete
    leaves an empty ``{}`` behind, but Spark cannot represent an empty
    struct (dropFields errors on dropping the last field), so the
    emptied ancestor chain collapses instead. A map-typed top column
    (``[@metadata][k]``) removes the KEY via map_filter — maps, unlike
    structs, can express per-key absence directly."""
    top_t = df.schema[parts[0]].dataType
    if isinstance(top_t, MapType) and len(parts) == 2:
        return df.withColumn(
            parts[0], _map_drop_key(F.col(parts[0]), parts[1]))
    sizes = []
    cur = top_t
    for p in parts[1:]:
        if not isinstance(cur, StructType):
            raise ValueError(
                "cannot remove nested field "
                f"[{']['.join(parts)}]: intermediate is "
                f"{cur.simpleString()}, not a struct")
        sizes.append(len(cur.fields))
        cur = cur[p].dataType
    k = None
    for i in range(len(sizes) - 1, -1, -1):
        if sizes[i] > 1:
            k = i
            break
    if k is None:
        return df.drop(parts[0])
    dotted = ".".join(_qseg(p) for p in parts[1: k + 2])
    return df.withColumn(parts[0], F.col(parts[0]).dropFields(dotted))


def set_field(
    df: DataFrame, ref: str, val: Column,
    only_if_present: bool = False,
) -> DataFrame:
    """Write ``val`` at field reference ``ref`` — the plan-time
    equivalent of the reference's ``Event#setField``. Top-level ref →
    ``withColumn``; nested ref → set ONE key inside the struct
    (siblings survive), auto-vivifying missing intermediate structs
    and — like Ruby — overwriting a non-hash top/intermediate with a
    hash. List-index writes (digit path segments) are rejected loudly:
    a typed column cannot grow a per-row list slot.

    ``only_if_present`` (map-key targets only): skip rows whose map
    lacks the key — the per-row half of the ``Event#include?`` gate
    that ops like update/gsub apply schema-statically via
    ``field_exists``. Struct/top-level targets ignore the flag (their
    existence IS schema-static, already gated by the caller)."""
    from ..fieldref import _canonical, parse_ref

    parts = _canonical(parse_ref(ref))
    name = parts[0]
    if len(parts) == 1:
        return df.withColumn(name, val)
    if any(is_index(p) for p in parts[1:]):
        raise ValueError(
            f"set into a list index is not supported: {ref!r}")
    if name in df.columns:
        top_t = df.schema[name].dataType
        if isinstance(top_t, MapType):
            # map-typed top (canonically [@metadata] → the _meta map):
            # upsert the KEY — clobbering the whole map with a struct
            # would destroy every other entry AND retype the column
            # out from under later %{[@metadata][...]} reads
            if len(parts) != 2:
                raise ValueError(
                    f"set {ref!r}: column {name!r} is a map of "
                    f"{top_t.valueType.simpleString()} values — only "
                    "single-level key writes are supported")
            # refuse a silently-lossy value coercion: storing a
            # complex value (split's array, a parsed struct) into an
            # atomic map valueType would round-trip through a string
            # rendering / null via try_cast (review finding). Resolve
            # the expression's type at plan time and fail loudly.
            val_t = df.select(val.alias("__v")).schema[0].dataType
            if (isinstance(val_t, (ArrayType, MapType, StructType))
                    and not isinstance(top_t.valueType, type(val_t))):
                raise ValueError(
                    f"set {ref!r}: cannot store a "
                    f"{val_t.simpleString()} value in map values of "
                    f"type {top_t.valueType.simpleString()} — the "
                    "typed map cannot hold it; use a struct column or "
                    "a string rendering explicitly")
            return df.withColumn(name, _map_set_key(
                F.col(name), top_t, parts[1], val,
                only_if_present=only_if_present))
        if dict(df.dtypes)[name].startswith("struct"):
            return df.withColumn(name, _set_struct_path(
                F.col(name), top_t, parts[1:], val))
    inner = val
    for p in reversed(parts[1:]):
        inner = F.struct(inner.alias(p))
    return df.withColumn(name, inner)


def field_exists(df: DataFrame, ref: str) -> bool:
    """Does ``ref`` resolve to an existing column / struct leaf in the
    schema? (reference ``Event#include?`` at plan time — used for the
    'skip when field missing' discipline of update/convert/coerce)."""
    from ..fieldref import _canonical, parse_ref

    parts = _canonical(parse_ref(ref))
    if parts[0] not in df.columns:
        return False
    if len(parts) == 1:
        return True
    if any(is_index(p) for p in parts[1:]):
        # list index: existence is per-row, not schema-static — treat
        # the path as present iff the array column resolves
        return True
    top_t = df.schema[parts[0]].dataType
    if isinstance(top_t, MapType):
        # map keys are per-row, not schema-static: treat single-level
        # key refs as present (getField yields null for absent keys and
        # every op's null discipline handles that per row)
        return len(parts) == 2
    return _struct_leaf_type(top_t, parts[1:]) is not None


def str_list(value) -> list[str]:
    """An option that names one thing or a list of things, as a list.
    LSCL delivers a bare string; ``list("_fail")`` would explode it into
    per-character names, and ``in`` on it would be a substring test.
    None is the empty list."""
    if value is None:
        return []
    return [value] if isinstance(value, str) else list(value)


def ensure_tags(df: DataFrame) -> DataFrame:
    """Guarantee the tags array<string> column exists (reference events
    get ``tags`` lazily on first ``Event#tag``)."""
    if TAGS_FIELD in df.columns:
        return df
    return df.withColumn(TAGS_FIELD, F.array().cast("array<string>"))


def _tag_col(t: str) -> Column:
    """filters/base.rb sprintf-interpolates tag values before tagging
    (``event.tag(event.sprintf(tag))``) — ``add_tag => ["%{type}_ok"]``
    must tag 'apache_ok', not the literal template."""
    if "%{" in t:
        from ..fieldref import sprintf_col

        return sprintf_col(t)
    return F.lit(t)


def add_tags(df: DataFrame, tags: list[str], cond: Column | None = None) -> DataFrame:
    if not tags:
        return df
    df = ensure_tags(df)
    merged = F.array_union(
        F.coalesce(F.col(TAGS_FIELD), F.array().cast("array<string>")),
        F.array(*[_tag_col(t) for t in tags]),
    )
    col = merged if cond is None else F.when(cond, merged).otherwise(F.col(TAGS_FIELD))
    return df.withColumn(TAGS_FIELD, col)


_GATE_IDS = itertools.count()
_COMPLEX = (StructType, ArrayType, MapType)


def _union_struct(old_t, new_t):
    """Recursive field union of two struct types: new_t's fields first
    (keeping NEW types on name overlap; nested structs union
    recursively), then old-only fields appended. Lets a gated write
    keep values its schema change would otherwise drop for unmatched
    rows (nested remove_field). Other pairs → new_t: the type the stage
    wrote wins, so its output type does not depend on the condition;
    a void (all-null) write takes old_t."""
    if not (isinstance(old_t, StructType) and isinstance(new_t, StructType)):
        return old_t if isinstance(new_t, NullType) else new_t
    old_by = {f.name: f for f in old_t.fields}
    new_names = {f.name for f in new_t.fields}
    fields = [
        StructField(
            f.name,
            _union_struct(old_by[f.name].dataType, f.dataType)
            if f.name in old_by else f.dataType,
            True,
        )
        for f in new_t.fields
    ]
    fields += [StructField(f.name, f.dataType, True)
               for f in old_t.fields if f.name not in new_names]
    return StructType(fields)


def _align_to(col: Column, old_t, new_t, who: str = "", ref: str = "") -> Column:
    """Project a column of schema ``old_t`` into schema ``new_t``:
    struct-vs-struct recurses field-by-field (fields absent from the
    old shape → typed null; shared fields keep their values, aligned
    recursively); other same-category mismatches try_cast (the
    convert-op discipline: dirty → null, flow on). A null old struct
    stays a null new struct."""
    if old_t == new_t:
        return col
    if isinstance(old_t, StructType) and isinstance(new_t, StructType):
        parts = []
        for f in new_t.fields:
            if f.name in old_t.fieldNames():
                parts.append(_align_to(
                    col.getField(f.name), old_t[f.name].dataType,
                    f.dataType, who, f"{ref}[{f.name}]").alias(f.name))
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        return F.when(col.isNull(), F.lit(None).cast(new_t)).otherwise(
            F.struct(*parts))

    def _category(t):
        return next((c for c in _COMPLEX if isinstance(t, c)), "scalar")

    # a void (all-null) value casts into ANY type, keeping every (null)
    if (not isinstance(old_t, NullType)
            and _category(old_t) != _category(new_t)):
        # CROSS-category retype (scalar↔struct/array/map, array↔map…)
        # has no value-preserving cast: try_cast would fail ANALYSIS
        # (opaque DATA_DIFF_TYPES) or silently null/stringify the rows
        # the gate leaves alone — refuse loudly instead.
        raise ValueError(
            f"stage {who!r} retypes {ref} from {old_t.simpleString()} "
            f"to {new_t.simpleString()} under a condition; unmatched "
            "rows cannot keep their non-struct or complex value in a "
            "typed schema — remove the field first, write "
            "unconditionally or use a different target")
    return col.try_cast(new_t)


def _attributes(d: DataFrame) -> dict[str, str]:
    """Column name → its analyzed attribute (``name#exprId`` plus type
    suffix). Two frames whose column renders the same hold the same
    Catalyst attribute, so the same value on every row they share."""
    out = d._jdf.queryExecution().analyzed().output().mkString("\x00")
    return dict(zip(d.columns, out.split("\x00")))


def gated_merge(
    df: DataFrame, cond: Column, write: Callable[[DataFrame], DataFrame],
    who: str,
) -> DataFrame:
    """Apply ``write`` to the rows where ``cond`` holds and leave every
    other row as it was — the one lowering of an LSCL ``if`` around a
    stage AND of a stage's success-gated common options.

    1. pin the condition (evaluated against the INPUT columns);
    2. back up every input column, under positional names (a column
       may be literally named ``a.b``);
    3. run ``write`` over ALL rows (one subtree execution);
    4. per column ``write`` added, dropped or replaced: matched rows
       take the written value, others keep the backup. An added column
       is null on the other rows; a dropped one is rebuilt from the
       backup (null for matched rows). A retyped column takes the type
       ``write`` gave it and the backup is aligned to it: struct fields
       ``write`` dropped are kept (null on matched rows), other scalars
       ``try_cast`` (dirty → null), numbers widen as a branch union
       would, and a cross-category retype is refused.

    A column ``write`` passed through (the same analyzed attribute in
    its output as in its input) is not merged: its backup goes unused
    and column pruning removes it, so only the columns ``write``
    touches carry a backup through the stage's plan (a join, a Python
    UDF's row buffer). Gates nest (a ``when``-wrapped grok with
    add_tag), so each call pins and backs up under its own names."""
    n = next(_GATE_IDS)
    gate = f"__gate{n}"
    pin = F.col(gate)
    backups = {c: f"__orig{n}_{i}" for i, c in enumerate(df.columns)}
    out = write(df.withColumns({
        gate: F.coalesce(cond, F.lit(False)),
        **{b: top_col(c) for c, b in backups.items()}}))
    own = {gate, *backups.values()}
    before, after = _attributes(df), _attributes(out)
    old_types = {f.name: f.dataType for f in df.schema.fields}
    new_types = {f.name: f.dataType for f in out.schema.fields
                 if f.name not in own}
    merged = {}
    for c in list(new_types) + [c for c in old_types if c not in new_types]:
        if c not in old_types:
            merged[c] = F.when(pin, top_col(c))
        elif c not in new_types:
            merged[c] = F.when(~pin, F.col(backups[c]))
        elif before[c] != after[c]:
            old_t, new_t = old_types[c], new_types[c]
            new, kept = top_col(c), F.col(backups[c])
            if old_t != new_t and not all(
                    isinstance(t, NumericType) for t in (old_t, new_t)):
                union_t = _union_struct(old_t, new_t)
                new = _align_to(new, new_t, union_t)
                kept = _align_to(kept, old_t, union_t, who, f"[{c}]")
            merged[c] = F.when(pin, new).otherwise(kept)
    return out.withColumns(merged).drop(*own)


class Stage:
    """Base class. Subclasses implement ``transform``.

    ``row_local``: under an LSCL ``if``, ``Pipeline.compile`` runs a
    row-local stage over every row once and keeps its writes only on
    the matching rows (``gated_merge``, which gates every column, so a
    stage declares nothing about what it writes). A stage sets it to
    False when it changes the row set, reads other rows, has a per-row
    side effect, or touches columns it does not name (the gate's own
    columns ride through it); such a stage runs on the matching rows
    only, through filter → stage → union over a persisted input."""

    plugin_name = "stage"
    row_local = True
    # tags a failed event gets when FAILURE_TAG_OPTION is not configured
    FAILURE_TAGS: tuple[str, ...] = ()
    # the conf key that replaces FAILURE_TAGS (None: the tags are fixed)
    FAILURE_TAG_OPTION: str | None = "tag_on_failure"

    def __init__(self, conf: dict):
        self.conf = dict(conf)
        self.id = self.conf.pop("id", None) or self.plugin_name
        self.add_field: dict[str, str] = self.conf.pop("add_field", {}) or {}
        self.add_tag: list[str] = self.conf.pop("add_tag", []) or []
        self.remove_field: list[str] = self.conf.pop("remove_field", []) or []
        self.remove_tag: list[str] = self.conf.pop("remove_tag", []) or []
        self._resolved: dict[str, tuple[object, object]] = {}

    @property
    def failure_tags(self) -> list[str]:
        """Tags this stage adds to events it fails on; the pipeline's
        failure census counts rows carrying any of them."""
        return str_list(self.conf.get(self.FAILURE_TAG_OPTION, self.FAILURE_TAGS))

    def resolve_once(self, sc, key: str, build: Callable[[], object]):
        """Dimension-derived plan-time state (a dim count, a collected
        rule set, a broadcast variable) built once per stage object —
        the reference loads a filter's database once in ``register()``,
        not per batch. A streaming run compiles once per micro-batch,
        so state built inside ``transform`` would re-run the dim's Spark
        jobs and leak one broadcast per micro-batch. Keyed on the
        SparkContext, so a stage reused after a session restart rebuilds
        against the live one. Work that reads the *batch* must not go
        through here."""
        hit = self._resolved.get(key)
        if hit is None or hit[0] is not sc:
            hit = self._resolved[key] = (sc, build())
        return hit[1]

    # ---- subclass contract -------------------------------------------------
    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        raise NotImplementedError

    # ---- common-option wrapper (filters/base.rb filter_matched) ------------
    def _common_options(self, df: DataFrame) -> DataFrame:
        """Apply add_field, add_tag, remove_field, remove_tag to EVERY
        row of ``df``; ``apply`` gates the result on the matched rows."""
        from ..fieldref import _canonical, parse_ref

        for ref, template in self.add_field.items():
            df = set_field(df, ref, sprintf_col(template))
        df = add_tags(df, self.add_tag)
        for ref in self.remove_field:
            parts = _canonical(parse_ref(ref))
            if parts[0] not in df.columns:
                continue
            top_t = df.schema[parts[0]].dataType
            # an absent nested path is a reference no-op (dropFields on
            # a missing field would fail analysis)
            if (len(parts) == 1
                    or (isinstance(top_t, MapType) and len(parts) == 2)
                    or _struct_leaf_type(top_t, parts[1:]) is not None):
                df = _drop_field_path(df, parts)
        if self.remove_tag:
            df = df.withColumn(TAGS_FIELD, F.array_except(
                F.col(TAGS_FIELD),
                F.array(*[_tag_col(t) for t in self.remove_tag])))
        return df

    def apply(self, df: DataFrame) -> DataFrame:
        out, matched = self.transform(df)
        if self.add_tag or self.remove_tag:
            out = ensure_tags(out)  # unmatched rows keep [], not null
        if matched is None:
            out = self._common_options(out)
        elif self.add_field or self.add_tag or self.remove_field or self.remove_tag:
            out = gated_merge(out, matched, self._common_options, self.id)
        return out.drop("__matched") if "__matched" in out.columns else out


def build_stage(spec: dict | tuple[str, dict]) -> Stage:
    """``{"grok": {...}}`` (single-key dict) or ``("grok", {...})`` → Stage."""
    if isinstance(spec, tuple):
        name, conf = spec
    else:
        if len(spec) != 1:
            raise ValueError(f"stage spec must have exactly one key: {spec}")
        name, conf = next(iter(spec.items()))
    if name not in STAGE_REGISTRY:
        raise ValueError(f"unknown stage {name!r}; known: {sorted(STAGE_REGISTRY)}")
    return STAGE_REGISTRY[name](conf or {})


# convenient functional alias used by tests
def apply_stage(df: DataFrame, spec: dict) -> DataFrame:
    return build_stage(spec).apply(df)


StageFn = Callable[[DataFrame], DataFrame]

__all__ = [
    "Stage",
    "STAGE_REGISTRY",
    "register",
    "build_stage",
    "apply_stage",
    "ensure_tags",
    "add_tags",
    "str_list",
    "field_col",
    "field_name",
]
