"""Deterministic HTML → text extraction.

This is the pipeline's "codec": the per-row invariant in
``BASELINE.json.input_hint`` is *byte-identical extracted text per url*,
so the extractor is defined here once as a pure-Python function
(``extract_text``) that serves as both the oracle (applied row-wise in
tests / the datagen reference column) and the engine path (applied
vectorized over Arrow batches via ``extract_text_udf``). No third-party
HTML library — semantics cannot drift with a C-extension version.

Reference counterpart: Logstash codecs decode bytes→event
(logstash-core/lib/logstash/codecs/base.rb, ``Codec#decode``); the
closest shipped analogue is the plain/line codec filling ``message``.
The HTML-specific behavior is this graft's payload (Common-Crawl-style
pages), specified by SURVEY.md §1.2/§7-M1.

Extraction semantics (frozen; tests pin them byte-for-byte):

1. Drop ``<script>``/``<style>``/``<noscript>`` elements including
   their content (case-insensitive).
2. Drop HTML comments ``<!-- ... -->`` and doctypes.
3. Block-level open/close tags become a newline; all other tags become
   a single space (so inline markup never glues words together).
4. Entities are unescaped (``&amp;`` → ``&``, numeric forms too).
5. Whitespace is normalized: runs of spaces/tabs collapse to one
   space, each line is stripped, empty lines dropped, lines joined
   with ``\n``. Output is a str (UTF-8 on disk).
"""

from __future__ import annotations

import html as _html
import re
from collections.abc import Iterator

import pandas as pd

_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|td|th|thead|tbody|section|"
    "article|header|footer|nav|aside|main|blockquote|pre|form|hr|title"
)

_RE_DROP = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_RE_DOCTYPE = re.compile(r"<!DOCTYPE[^>]*>", re.IGNORECASE)
_RE_BLOCK = re.compile(rf"</?(?:{_BLOCK_TAGS})\b[^>]*>", re.IGNORECASE)
_RE_TAG = re.compile(r"<[^>]+>")
# Whitespace collapse, decomposed for speed. The naive [ \t\r\f\v]+ sub
# spends most of its time replacing SINGLE spaces with themselves (80%
# of total extraction time measured on ~15 KB pages). Equivalent fast
# form, fuzz-verified byte-identical: map the rare non-space whitespace
# to spaces (C-speed translate, skipped entirely when absent), then
# collapse only runs of 2+ spaces in one regex pass. Spelled "  +"
# rather than " {2,}": the two-space literal prefix lets the regex
# engine skip ahead to each candidate run. Per benchmark page (~17k
# chars after tag removal, one 4-core VM): 0.157 ms, against 0.236 ms
# for a `while "  " in s: s = s.replace("  ", " ")` fixpoint loop and
# 0.421 ms for " {2,}".
_RE_SPACES2 = re.compile("  +")
_WS_TRANSLATE = str.maketrans({"\t": " ", "\r": " ", "\f": " ", "\v": " "})


def _collapse_ws(s: str) -> str:
    if "\t" in s or "\r" in s or "\f" in s or "\v" in s:
        s = s.translate(_WS_TRANSLATE)
    return _RE_SPACES2.sub(" ", s)


def extract_text(html_bytes: bytes | str | None) -> str | None:
    """Pure-Python deterministic extractor — the byte-identity oracle."""
    if html_bytes is None:
        return None
    if isinstance(html_bytes, (bytes, bytearray)):
        raw = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        raw = html_bytes
    s = _RE_DROP.sub(" ", raw)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_DOCTYPE.sub(" ", s)
    s = _RE_BLOCK.sub("\n", s)
    s = _RE_TAG.sub(" ", s)
    s = _html.unescape(s)
    # ONE global whitespace-collapse pass: the patterns cannot cross \n,
    # so this is byte-identical to the per-line sub it replaces.
    s = _collapse_ws(s)
    # filter(None, map(str.strip, ...)) ≡ the genexp form (strip then drop
    # empties) with the loop pushed to C — measured 1.3× on fat pages.
    return "\n".join(filter(None, map(str.strip, s.split("\n"))))


def extract_series(s: pd.Series) -> pd.Series:
    """Arrow-batch vectorized form (pd.Series of bytes → pd.Series of str).

    The hot loop is the compiled-regex engine over each batch; no
    per-row Python dispatch beyond the list comprehension over the
    Arrow batch (the same shape every vectorized string kernel has).
    """
    return pd.Series(
        [extract_text(v) for v in s],
        index=s.index,
        dtype="object",
    )


def extract_text_udf():
    """Return a pandas_udf (binary → string) for DataFrame use.

    Built lazily so importing this module never requires an active
    SparkSession (the oracle path stays Spark-free).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield extract_series(s)

    return _extract
