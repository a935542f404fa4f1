"""Web-payload stages for the Common-Crawl-style pages table.

These are the graft-specific "codec" stages (BASELINE.json input_hint):
html → text extraction (byte-identical to the oracle in extract.py),
url structure parsing, and the deterministic synthetic-ip fixture stage
used to exercise the geoip range join without real network data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extract import extract_text_udf
from ..fieldref import field_col
from .base import Stage, register


@register("extract_text")
class ExtractTextStage(Stage):
    """html binary → text string via the vectorized Arrow extractor.

    Placement matters at scale: this is the only stage touching the
    huge ``html`` binary column, so the pipeline should project ``html``
    away immediately after (SURVEY §4: keep html-touching UDFs early &
    select-pruned so the binary never reaches a shuffle).
    conf: source (default html), target (default text), drop_source.
    A JVM-native Catalyst lowering was built and measured slower than
    this path (BASELINE.md "Round-5 extractor study").
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "html")
        target = self.conf.get("target", "text")
        df = df.withColumn(target, extract_text_udf()(field_col(source)))
        if self.conf.get("drop_source", False):
            df = df.drop(source)
        return df, F.col(target).isNotNull()


@register("parse_url")
class ParseUrlStage(Stage):
    """url → domain/path(+query) via native ``F.try_parse_url`` (JVM-side).

    conf: source (default url). Adds ``domain`` and ``path`` columns.
    try_ variant: a malformed url yields nulls (→ failure routing),
    never an ANSI throw.
    """

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "url")
        src = field_col(source)
        df = df.withColumn("domain", F.try_parse_url(src, F.lit("HOST"))).withColumn(
            "path", F.try_parse_url(src, F.lit("PATH"))
        )
        return df, F.col("domain").isNotNull()


@register("synth_ip")
class SynthIpStage(Stage):
    """Deterministic hash-derived ip per row (FIXTURES.md pages.ip).

    Fixture stage: gives every page a stable synthetic client ip so the
    geoip range join is exercised end-to-end with zero external data.
    Uses crc32 (identical in Spark's F.crc32 and Python's zlib.crc32)
    so the pandas reference implementation in the north-rule equality
    test reproduces it bit-for-bit. All native JVM expressions.
    """

    @staticmethod
    def ip_from_crc(h_col: Column) -> Column:
        return F.concat_ws(
            ".",
            (F.pmod(h_col, F.lit(223)) + 1).cast("string"),
            F.pmod(F.shiftright(h_col, 8), F.lit(256)).cast("string"),
            F.pmod(F.shiftright(h_col, 16), F.lit(256)).cast("string"),
            (F.pmod(F.shiftright(h_col, 24), F.lit(254)) + 1).cast("string"),
        )

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        source = self.conf.get("source", "url")
        target = self.conf.get("target", "ip")
        h = F.crc32(field_col(source).cast("string"))
        return df.withColumn(target, self.ip_from_crc(h)), None
