"""Dissect: delimiter-based tokenization (the cheap non-regex parser).

Reference counterpart: logstash-filter-dissect (Java, org.logstash
dissect tokenizer): a mapping like
``%{clientip} %{ident} [%{ts}] "%{verb} %{request}"`` splits on the
literal delimiters between ``%{}`` fields. Modifiers: ``%{+name}``
append to a prior field (joined with the intervening delimiter),
``%{?name}`` / ``%{}`` skip, ``%{name->}`` absorb repeated trailing
padding of the next delimiter.

Spark mapping (SURVEY §2.4): the dissect spec compiles at plan time to
a single anchored ``re.DOTALL`` regex with non-greedy inter-delimiter
groups, a ``CompiledGrok`` that the grok stage's native capture writer
runs (``(?s)`` in its Java spelling, one regex pass for all the
field groups). Failure tag: ``_dissectfailure``.
"""

from __future__ import annotations

import re

from .grok import CompiledGrok

DISSECT_FAILURE_TAG = "_dissectfailure"

_FIELD = re.compile(r"%\{([^}]*)\}")


def compile_dissect(mapping: str) -> CompiledGrok:
    """Dissect mapping → CompiledGrok (runs on the grok capture writer)."""
    fields: dict[str, tuple[list[str], str]] = {}
    pattern_parts: list[str] = ["^"]
    counter = 0
    pos = 0
    matches = list(_FIELD.finditer(mapping))
    for i, m in enumerate(matches):
        if m.start() > pos:
            pattern_parts.append(re.escape(mapping[pos : m.start()]))
        spec = m.group(1)
        pad = spec.endswith("->")
        if pad:
            spec = spec[:-2]
        greedy = i == len(matches) - 1
        body = ".*" if greedy else ".*?"
        if spec == "" or spec.startswith("?"):
            pattern_parts.append(f"(?:{body})")
        else:
            append = spec.startswith("+")
            name = spec[1:] if append else spec
            name = re.sub(r"/\d+$", "", name)  # %{+name/2} ordinal — order-of-appearance here
            counter += 1
            gname = f"g{counter}"
            groups, typ = fields.get(name, ([], "string"))
            groups.append(gname)
            fields[name] = (groups, typ)
            pattern_parts.append(f"(?P<{gname}>{body})")
        pos = m.end()
        if pad:
            # absorb repeated delimiter chars that follow (padding)
            nxt = mapping[pos : pos + 1]
            if nxt:
                pattern_parts.append(f"(?:{re.escape(nxt)})*")
    if pos < len(mapping):
        pattern_parts.append(re.escape(mapping[pos:]))
    pattern_parts.append("$")
    return CompiledGrok(regex=re.compile("".join(pattern_parts), re.DOTALL), fields=fields)
