"""LSCL (logstash.conf) parser → pipeline spec.

A user of the reference writes pipelines in the Logstash Configuration
Language; this module lets those files run on this engine unchanged
(for the supported plugin set).

Reference counterparts:
* grammar — logstash-core/lib/logstash/compiler/lscl.rb + the treetop
  grammar logstash-core/lib/logstash/config/grammar.rb (``config``,
  ``plugin_section``, ``branch``, ``plugin``, ``attribute``, ``value``
  rules);
* lowering — org/logstash/config/ir/imperative/{PluginStatement,
  IfStatement}.java → graph of PluginVertex/IfVertex with BooleanEdge.

Here the "IR" is the Pipeline spec dict (pipeline.py): a filter inside
``if cond { ... } else { ... }`` becomes a conditional stage
(``when`` key); nested branches conjoin their conditions — exactly the
boolean-edge chain the reference builds. Conditions are kept as raw
LSCL expression text and compiled by conditions.py (same grammar).

Supported value syntax: single/double-quoted strings, bare words,
numbers, booleans, arrays ``[a, b]``, hashes ``{ k => v ... }``,
comments ``# ...``. Attribute separator ``=>``.
"""

from __future__ import annotations

import re

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<string>'(?:\\.|[^'])*'|"(?:\\.|[^"])*")
  | (?P<number>-?\d+(?:\.\d+)?\b)
  | (?P<arrow>=>)
  | (?P<lbrace>\{) | (?P<rbrace>\})
  | (?P<lbracket>\[) | (?P<rbracket>\])
  | (?P<comma>,)
  | (?P<word>[A-Za-z_][A-Za-z0-9_\-]*)
  | (?P<other>[^\s])
    """,
    re.VERBOSE,
)


class LsclError(ValueError):
    pass


def _tokenize(text: str):
    toks = []
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            raise LsclError(f"cannot tokenize at: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        toks.append((kind, m.group(kind), m.start()))
    return toks


def _unquote(s: str) -> str:
    """Quoted string → value, reference-default semantics
    (``config.support_escapes: false``): backslashes are VERBATIM —
    a grok pattern written ``"\\[%{WORD:level}\\]"`` must keep its
    backslashes or the literal brackets silently become a character
    class. The ONLY unescape is the enclosing quote char itself
    (the grammar's way to contain it: ``\\"`` inside "..."), exactly
    what the treetop grammar's gsub does."""
    q, body = s[0], s[1:-1]
    return body.replace("\\" + q, q)


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0

    def peek(self, k=0):
        return self.toks[self.i + k] if self.i + k < len(self.toks) else (None, None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind):
        k, v, p = self.next()
        if k != kind:
            raise LsclError(f"expected {kind}, got {k} {v!r} at offset {p}")
        return v

    # ---- values -----------------------------------------------------------
    def value(self):
        k, v, p = self.next()
        if k == "string":
            return _unquote(v)
        if k == "number":
            return float(v) if "." in v else int(v)
        if k == "word":
            if v == "true":
                return True
            if v == "false":
                return False
            return v  # bareword → string
        if k == "lbracket":
            out = []
            while self.peek()[0] != "rbracket":
                out.append(self.value())
                if self.peek()[0] == "comma":
                    self.next()
            self.next()
            return out
        if k == "lbrace":
            out = {}
            while self.peek()[0] != "rbrace":
                key = self.value()
                self.expect("arrow")
                out[key] = self.value()
                if self.peek()[0] == "comma":
                    self.next()
            self.next()
            return out
        raise LsclError(f"unexpected {k} {v!r} at offset {p} in value position")

    # ---- plugin -----------------------------------------------------------
    def plugin(self):
        name = self.expect("word")
        self.expect("lbrace")
        args = {}
        while self.peek()[0] != "rbrace":
            k, v, p = self.next()
            if k not in ("word", "string"):
                raise LsclError(f"expected attribute name, got {k} {v!r} at {p}")
            key = _unquote(v) if k == "string" else v
            self.expect("arrow")
            args[key] = self.value()
        self.next()
        return name, args

    # ---- branches ---------------------------------------------------------
    def condition_text(self):
        """Raw expression text up to the block-opening '{'. The scan
        runs over the RAW text, not the token stream: the tokenizer has
        no regex token, so a brace quantifier inside ``/\\d{4}/`` (or a
        '{' inside a quoted string) would otherwise be mistaken for the
        block opener and break the parse. Comments between condition
        and '{' are skipped."""
        k, _, start = self.peek()
        if k is None:
            raise LsclError("unterminated condition")
        text, n = self.text, len(self.text)
        buf: list[str] = []
        i = start
        while i < n:
            c = text[i]
            if c == "#":  # comment to end of line — not condition text
                while i < n and text[i] != "\n":
                    i += 1
                continue
            if c in "'\"" or c == "/":  # string / regex literal
                closer = c
                buf.append(c)
                i += 1
                while i < n and text[i] != closer:
                    if text[i] == "\\" and i + 1 < n:
                        buf.append(text[i: i + 2])
                        i += 2
                    else:
                        buf.append(text[i])
                        i += 1
                if i < n:
                    buf.append(closer)
                    i += 1
                continue
            if c == "{":
                break
            buf.append(c)
            i += 1
        else:
            raise LsclError("unterminated condition")
        cond = "".join(buf).strip()
        if not cond:
            line = text.count("\n", 0, start) + 1
            raise LsclError(f"empty condition at line {line}, offset {start}")
        # re-sync the token cursor to the first token at/after the '{'
        while self.peek()[0] is not None and self.peek()[2] < i:
            self.next()
        return cond

    def section_items(self, when: str | None):
        """Parse items inside a section/branch body until '}' / EOF.
        Returns a list of (plugin_name, args, when)."""
        items = []
        while True:
            k, v, p = self.peek()
            if k in (None, "rbrace"):
                return items
            if k == "word" and v == "if":
                self.next()
                cond = self.condition_text()
                branch_when = cond if when is None else f"({when}) and ({cond})"
                self.expect("lbrace")
                items.extend(self.section_items(branch_when))
                self.expect("rbrace")
                seen = [cond]
                while self.peek()[0] == "word" and self.peek()[1] == "else":
                    self.next()
                    if self.peek()[0] == "word" and self.peek()[1] == "if":
                        self.next()
                        cond2 = self.condition_text()
                        nots = " and ".join(f"!({c})" for c in seen)
                        w = f"{nots} and ({cond2})"
                        seen.append(cond2)
                    else:
                        w = " and ".join(f"!({c})" for c in seen)
                    if when is not None:
                        w = f"({when}) and {w}"
                    self.expect("lbrace")
                    items.extend(self.section_items(w))
                    self.expect("rbrace")
                continue
            name, args = self.plugin()
            items.append((name, args, when))

    # ---- top level --------------------------------------------------------
    def config(self):
        sections = {"input": [], "filter": [], "output": []}
        while self.peek()[0] is not None:
            sec = self.expect("word")
            if sec not in sections:
                raise LsclError(f"unknown section {sec!r}")
            self.expect("lbrace")
            sections[sec].extend(self.section_items(None))
            self.expect("rbrace")
        return sections


# ---------------------------------------------------------------- lowering

# LSCL plugin arg → stage conf renames where the reference's option name
# differs from the stage conf key.
_FILTER_ARG_RENAMES = {
    "kv": {"target": "target"},
}

def _pathsafe(name: str) -> str:
    """Sink names are single path segments under run_dir (Router
    validates); flatten user-supplied paths/indices the same way for
    EVERY namer — the csv namer used to pass '../x' through verbatim,
    turning the fresh-run rmtree into a delete OUTSIDE run_dir."""
    return name.strip("/").replace("\\", "_").replace("/", "_").replace(
        "..", "_") or "sink"


_SINK_NAMERS = {
    "elasticsearch": lambda a: _pathsafe(a.get("index", "elasticsearch")),
    "file": lambda a: _pathsafe(a.get("path", "file")),
    "stdout": lambda a: "stdout",
    "csv": lambda a: _pathsafe(a.get("path", "csv")),
    "iceberg": lambda a: _pathsafe(
        a.get("table", "iceberg").replace(".", "_")),
    "kafka": lambda a: _pathsafe(a.get("topic_id", "kafka")),
}


def to_pipeline_spec(text: str, pipeline_id: str = "main") -> dict:
    """logstash.conf text → pipeline.Pipeline spec dict.

    ``input`` plugins are returned under ``"inputs"`` (resolved by
    sources.py); filters become stage specs (conditional branches →
    ``when``); outputs become router SinkSpecs (branch condition →
    sink ``when``; ``dead_letter_queue`` → the DLQ sink).
    """
    sections = _Parser(text).config()

    filters = []
    for name, args, when in sections["filter"]:
        spec = {name: args}
        if when is not None:
            spec["when"] = when
        filters.append(spec)

    outputs = []
    for name, args, when in sections["output"]:
        if name == "dead_letter_queue":
            outputs.append({"name": "dead_letter", "dlq": True})
            continue
        sink_name = args.pop("name", None) or _SINK_NAMERS.get(
            name, lambda a: name
        )(args)
        out = {"name": str(sink_name)}
        if when is not None:
            out["when"] = when
        if name == "csv":
            out["format"] = "csv"
        if "codec" in args and args["codec"] in ("json_lines", "json"):
            out["format"] = "json"
        if name == "stdout" and args.get("codec") in ("rubydebug", "dots"):
            # stdout's debug codecs print driver-side (router
            # _write_debug_stdout); without a codec the stdout sink
            # stays a parquet capture under run_dir (batch-engine shape)
            out["format"] = args["codec"]
        if "table" in args:
            # catalog-table sink (router._write_catalog_table); the
            # `iceberg` output plugin defaults its provider accordingly
            out["table"] = args["table"]
            if name == "iceberg":
                out["format"] = args.get("format", "iceberg")
        if name == "kafka":
            # logstash-output-kafka → router.kafka_sink_frame options
            out["format"] = "kafka"
            opts = {}
            if "bootstrap_servers" in args:
                opts["kafka.bootstrap.servers"] = str(args["bootstrap_servers"])
            if "topic_id" in args:
                opts["topic"] = str(args["topic_id"])
            if "message_key" in args:
                opts["message_key"] = str(args["message_key"])
            out["options"] = opts
        outputs.append(out)

    inputs = [{"plugin": name, "args": args} for name, args, _ in sections["input"]]

    return {
        "id": pipeline_id,
        "inputs": inputs,
        "filters": filters,
        "outputs": outputs,
    }
