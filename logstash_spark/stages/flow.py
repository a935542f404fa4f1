"""Flow-family stages: event fan-in/fan-out/rate/stateful operators.

drop / clone / split / throttle / aggregate / multiline / metrics —
the stages where the reference is row-at-a-time-stateful and the Spark
re-expression is windows, explodes and grouped pandas (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..fieldref import field_col, field_name
from .base import Stage, add_tags, register


@register("drop")
class DropStage(Stage):
    """logstash-filter-drop: cancel events (≙ filter-out), optional
    percentage sampling. Determinism: sampling hashes a key column
    (``deterministic_on``) instead of rand() so reruns/resumes drop the
    SAME rows — required for the checkpoint/resume equality test."""

    row_local = False  # removes rows

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        pct = float(self.conf.get("percentage", 100))
        cond = self.conf.get("when")
        if pct >= 100:
            if cond is not None:
                from ..conditions import compile_condition

                return df.filter(~compile_condition(cond, df)), None
            raise ValueError("drop at 100% with no condition would empty the stream")
        key = self.conf.get("deterministic_on")
        if key:
            u = (F.pmod(F.xxhash64(field_col(key)), F.lit(10000)) / 10000.0)
        else:
            u = F.rand(seed=int(self.conf.get("seed", 42)))
        sampled_out = u < pct / 100.0
        if cond is not None:
            # drop.rb: sampling applies only to rows the condition matches
            from ..conditions import compile_condition

            sampled_out = sampled_out & F.coalesce(compile_condition(cond, df), F.lit(False))
        return df.filter(~sampled_out), None


@register("clone")
class CloneStage(Stage):
    """logstash-filter-clone: original + one copy per clone name, copy's
    ``type`` set to the name. One explode — no self-union scans."""

    row_local = False  # adds rows

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        clones: list[str] = self.conf["clones"]
        variants = F.array(F.lit(None).cast("string"), *[F.lit(c) for c in clones])
        df = df.withColumn("__clone", F.explode(variants))
        existing_type = F.col("type") if "type" in df.columns else F.lit(None).cast("string")
        df = df.withColumn("type", F.coalesce(F.col("__clone"), existing_type))
        matched = F.col("__clone").isNotNull()
        df = df.withColumn("__matched", matched).drop("__clone")
        return df, F.col("__matched")


@register("split")
class SplitStage(Stage):
    """logstash-filter-split: one event per array element (or per
    terminator-separated string chunk) — exactly ``F.explode``."""

    row_local = False  # adds rows

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        ref = self.conf["field"]
        name = field_name(ref)
        target = self.conf.get("target", name)
        dt = dict(df.dtypes).get(name, "")
        if dt.startswith("array"):
            col = field_col(ref)
        else:
            import re

            terminator = self.conf.get("terminator", "\n")
            col = F.split(field_col(ref), re.escape(terminator))
        df = df.withColumn(target, F.explode_outer(col))
        return df, None


@register("throttle")
class ThrottleStage(Stage):
    """logstash-filter-throttle: tag events past N-per-period per key.

    Reference keeps sliding timeslot state per key (throttle.rb);
    batch re-expression: ``row_number() OVER (PARTITION BY key,
    window(ts, period))`` and matched ⇢ rn > after_count. The common
    options then apply the throttle tag. One shuffle on (key, window).
    """

    row_local = False  # counts other rows of its key

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column]:
        key = self.conf["key"]
        period = int(self.conf.get("period", 3600))
        after = int(self.conf["after_count"])
        ts = self.conf.get("timestamp_field", "event_ts")
        w = (
            Window.partitionBy(field_col(key), F.window(F.col(ts), f"{period} seconds"))
            .orderBy(F.col(ts))
        )
        df = df.withColumn("__rn", F.row_number().over(w))
        df = df.withColumn("__matched", F.col("__rn") > after).drop("__rn")
        return df, F.col("__matched")


@register("aggregate")
class AggregateStage(Stage):
    """logstash-filter-aggregate: cross-event reduce keyed by task_id.

    The reference REQUIRES workers=1 (single-threaded global state);
    here keys are the parallel unit: ``groupBy(task_id).applyInPandas``
    with explicit intra-key ordering (``sort_by``) replacing arrival
    order. conf: task_id (field), code (callable pdf→pdf), schema
    (output DDL), sort_by (column for intra-key order).

    ``push_map_as_event`` (≙ aggregate.rb push_map_as_event_on_timeout):
    originals pass through unchanged AND one reduced "map event" per
    task_id is appended, flagged ``is_timeout_event`` — in batch mode
    the timeout is end-of-input (the reference's 5 s PeriodicFlush ≙
    end-of-micro-batch); the streaming path with real per-key
    ProcessingTimeTimeout lives in streaming.aggregate_stream.
    """

    row_local = False  # reduces rows across events

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        task_id = self.conf["task_id"]
        fn = self.conf["code"]
        schema = self.conf["schema"]
        sort_by = self.conf.get("sort_by")

        def run(pdf):
            if sort_by:
                pdf = pdf.sort_values(sort_by, kind="mergesort")  # stable
            return fn(pdf)

        reduced = df.groupBy(field_name(task_id)).applyInPandas(run, schema=schema)
        if not self.conf.get("push_map_as_event", False):
            return reduced, None
        originals = df.withColumn("is_timeout_event", F.lit(False))
        flushed = reduced.withColumn("is_timeout_event", F.lit(True))
        out = originals.unionByName(flushed, allowMissingColumns=True)
        return out, None


@register("multiline")
class MultilineStage(Stage):
    """logstash-codec-multiline: stateful line merging → sessionization.

    conf: pattern, what ("previous"|"next"), negate, source (default
    message), group_by (stream identity column, e.g. file), order_by
    (line number column). Group ids come from a running sum of
    boundary flags over a window; lines merge via ordered
    ``collect_list`` + ``array_join`` (order pinned by sorting the
    collected structs — shuffle-order independent).

    max_lines (default 500, multiline.rb): a merge group is flushed at
    the cap; overflow lines start a new group and the capped event is
    tagged ``multiline_codec_max_lines_reached``. auto_flush_interval
    (+ timestamp_field): a gap larger than the interval between
    consecutive lines is a flush boundary — the batch re-expression of
    the reference's wall-clock flush timer.
    """

    row_local = False  # merges rows

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        pattern = self.conf["pattern"]
        what = self.conf.get("what", "previous")
        negate = bool(self.conf.get("negate", False))
        source = self.conf.get("source", "message")
        group_by = self.conf["group_by"]
        order_by = self.conf["order_by"]
        max_lines = int(self.conf.get("max_lines", 500))

        flag = field_col(source).rlike(pattern)
        if negate:
            flag = ~flag
        w = Window.partitionBy(group_by).orderBy(order_by)
        if what == "previous":
            # line matching glues to previous → boundary at non-matching lines
            boundary = (~flag).cast("int")
        else:
            # line matching glues to NEXT → boundary after a non-matching line
            prev = F.lag(flag, 1, False).over(w)
            boundary = (~prev).cast("int")
        flush_interval = self.conf.get("auto_flush_interval")
        if flush_interval is not None:
            ts = F.col(self.conf.get("timestamp_field", "event_ts"))
            gap = ts.cast("double") - F.lag(ts, 1).over(w).cast("double")
            boundary = F.greatest(
                boundary, (gap > float(flush_interval)).cast("int")
            )
        df = df.withColumn("__grp", F.sum(boundary).over(w))
        # flush-at-cap: line max_lines+1 of a group starts a new subgroup
        w2 = Window.partitionBy(group_by, "__grp").orderBy(order_by)
        df = df.withColumn(
            "__grp",
            F.concat_ws(
                ".",
                F.col("__grp").cast("string"),
                F.floor((F.row_number().over(w2) - 1) / max_lines).cast("string"),
            ),
        )
        merged = (
            df.groupBy(group_by, "__grp")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(F.col(order_by).alias("o"),
                                                             field_col(source).alias("m")))),
                        lambda s: s.getField("m"),
                    ),
                    "\n",
                ).alias(field_name(source)),
                F.min(order_by).alias(order_by),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .drop("__grp")
        )
        tag_multi = self.conf.get("multiline_tag", "multiline")
        merged = add_tags(merged, [tag_multi], F.col("n_lines") > 1)
        merged = add_tags(
            merged, ["multiline_codec_max_lines_reached"],
            F.col("n_lines") >= max_lines,
        )
        # n_lines is an internal helper for the two tag conditions —
        # the reference's merged event carries no such field
        return merged.drop("n_lines"), None


@register("metrics")
class MetricsStage(Stage):
    """logstash-filter-metrics: meter events with count + rate EWMA.

    Batch re-expression (documented deviation per SURVEY §2.4): a
    terminal aggregation — count per (meter, flush window) with EWMA
    computed across successive windows via a window function. conf:
    meter (field whose value names the meter), flush_interval (sec),
    timestamp_field.
    """

    row_local = False  # replaces the rows with meter rows

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        meter = self.conf["meter"]
        interval = int(self.conf.get("flush_interval", 5))
        ts = self.conf.get("timestamp_field", "event_ts")
        agg = (
            df.groupBy(
                field_col(meter).cast("string").alias("meter"),
                F.window(F.col(ts), f"{interval} seconds").alias("w"),
            )
            .agg(F.count(F.lit(1)).alias("count"))
            .select("meter", F.col("w.start").alias("window_start"), "count")
            .withColumn("rate", F.col("count") / F.lit(float(interval)))
        )
        # EWMA over successive windows (α per Logstash's 1-minute meter),
        # computed by the RECURSION e_i = α·r_i + (1-α)·e_{i-1} per meter
        # in applyInPandas. The previous closed form multiplied by
        # pow(1-α, -row_number) — exponentially growing weights that
        # overflow to inf after a few thousand flush windows (any real
        # day of data). The recursion is O(n) per meter, bounded, and
        # meters are the parallel unit.
        a = 2.0 / (60.0 / interval + 1.0)
        b = 1.0 - a

        def ewma_fn(pdf):
            import numpy as np

            pdf = pdf.sort_values("window_start", kind="mergesort").reset_index(drop=True)
            r = pdf["rate"].to_numpy(dtype="float64")
            e = np.empty_like(r)
            acc = 0.0
            for i in range(len(r)):
                acc = r[i] if i == 0 else a * r[i] + b * acc
                e[i] = acc
            pdf["rate_1m"] = e
            return pdf

        out = agg.groupBy("meter").applyInPandas(
            ewma_fn,
            schema="meter string, window_start timestamp, count long, rate double, "
                   "rate_1m double",
        )
        return out, None


@register("sleep")
class SleepStage(Stage):
    """logstash-filter-sleep:lib/logstash/filters/sleep.rb — throttle a
    replay by sleeping ``time`` seconds per event, or once per
    ``every`` events (``time`` may be a number or a ``%{field}``
    reference read off each event).

    Spark re-expression: per-event blocking inside whole-stage codegen
    has no analog, so the sleep happens per Arrow batch inside a
    pass-through ``mapInPandas``: each batch sleeps
    ``Σ time_i / every`` over its rows — the TOTAL sleep across the
    dataset equals the reference's exactly, and wall-clock pacing is
    that total divided by the task parallelism (documented deviation:
    the reference is single-worker per pipeline when sleep matters; at
    parallelism 1 the pacing is identical). Rate-limiting with
    backpressure semantics is the ``throttle`` filter; this stage is
    the replay-pacing tool. ``enforce => false`` turns it into an
    audited no-op (records ``__slept`` 0) for dry planning.
    """

    # only the matching rows may pay the pacing; gated, every row would
    row_local = False

    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        conf_time = self.conf.get("time", 0)
        every = float(self.conf.get("every", 1) or 1)
        enforce = bool(self.conf.get("enforce", True))
        if not enforce or not conf_time:
            return df, None

        time_field = None
        if isinstance(conf_time, str):
            import re as _re

            m = _re.fullmatch(r"%\{([^}]+)\}", conf_time.strip())
            if m:
                from ..fieldref import field_col

                if field_name(m.group(1)) not in df.columns:
                    raise ValueError(
                        f"sleep: time field [{m.group(1)}] not in schema")
                # project the referenced VALUE (field_col resolves nested
                # [a][b] struct paths; the bare top-level column would
                # coerce a struct to NaN and silently sleep 0) into a
                # numeric helper column the batch pacer can sum directly
                time_field = "__sleep_t"
                df = df.withColumn(
                    time_field,
                    field_col(m.group(1)).try_cast("double"))
            else:
                conf_time = float(conf_time)

        schema = df.schema

        def _pace(batches):
            import time as _t

            for pdf in batches:
                if time_field is not None:
                    total = float(pdf[time_field].fillna(0.0).sum())
                else:
                    total = float(conf_time) * len(pdf)
                _t.sleep(min(total / every, 300.0))  # runaway guard
                yield pdf

        out = df.mapInPandas(_pace, schema=schema)
        if time_field is not None:
            out = out.drop(time_field)
        return out, None
