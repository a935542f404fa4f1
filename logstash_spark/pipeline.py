"""Pipeline: spec → one DataFrame DAG → bucketed, resumable, metered run.

Reference counterparts:
* config → IR → compiled chain: logstash-core/lib/logstash/compiler.rb
  → org/logstash/config/ir/PipelineIR.java →
  config/ir/compiler/CompiledPipeline.java (#buildExecution). Here the
  "IR" is the spec dict and "codegen" is Catalyst: the whole filter
  chain is ONE DataFrame expression DAG, analyzed/optimized/codegen'd
  by Spark (SURVEY §3.1 step 6–7 replacement).
* worker loop / batches: execution/WorkerLoop.java — replaced by Spark
  task scheduling; the micro-batch unit here is a url-hash bucket
  group, which is also the checkpoint/ack unit (ackedqueue parity, see
  checkpoint.py).
* conditionals around filters: IfVertex branches — a stage with a
  ``when`` key applies to matching rows only: a row-local stage
  through ``gated_merge``, which gates every column, any other stage
  (``Stage.row_local`` False) through filter → stage → union.

Spec shape::

    {
      "id": "web",
      "filters": [
        {"grok": {...}},
        {"when": "[lang] == 'en'", "mutate": {...}},   # conditional stage
      ],
      "outputs": [
        {"name": "sink_en", "when": "[lang] == 'en'"},
        {"name": "dead_letter", "dlq": True},
      ],
    }
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checkpoint import CheckpointManifest
from .conditions import compile_condition
from .metrics import PipelineMetrics
from .router import Router
from .stages import build_stage
from .stages.base import ensure_tags, gated_merge

BUCKET_COL = "bucket"

# The level of every engine persist: the routed batch, the branch
# caches, the datapipe's reused intermediates. PySpark's MEMORY_AND_DISK
# is the *serialized* level (unlike Scala's of that name), so a batch
# persisted at it is Java-serialized once when built and deserialized
# whole on every read: by the census, then again by each sink's scan.
# The deserialized level keeps the cached column batches as built and
# each read takes them as they are.
CACHE_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER


class Pipeline:
    def __init__(self, spec: dict):
        self.spec = spec
        self.id = spec.get("id", "main")
        self.filter_specs = spec.get("filters", [])
        self.router = Router(spec.get("outputs", []))
        # stage objects are built once (plan-time compilation)
        self.stages = []
        for fspec in self.filter_specs:
            fspec = dict(fspec)
            when = fspec.pop("when", None)
            self.stages.append((when, build_stage(fspec)))

    # ---- the compiled filter chain -----------------------------------------
    def compile(self, df: DataFrame) -> DataFrame:
        """Lower the stage list into ONE DataFrame expression DAG.

        Conditional (``when``-wrapped) stages: Catalyst does NOT share a
        common subtree across the two branches of a filter/union, so the
        naive ``filter(cond) → stage → union filter(~cond)`` executes
        everything upstream twice per conditional (round-1 finding).
        Row-local stages (``Stage.row_local``) instead lower to one
        ``stages.base.gated_merge`` on the single DataFrame — the stage
        runs over all rows and every column is gated per row by the
        condition (the reference's Dataset#compute memoization
        equivalent); the same gate applies a stage's success-gated
        common options. Any other stage keeps the branch lowering but
        persists the upstream first so it executes once; those persists
        are released by ``release_branch_caches()`` (pipeline.run calls
        it after each batch).
        """
        df = ensure_tags(df)
        # a second compile() on the same Pipeline must not orphan the
        # previous call's branch persists (library callers may compile
        # without run(); run() also releases after each batch)
        self.release_branch_caches()
        for when, stage in self.stages:
            if when is None:
                df = stage.apply(df)
                continue
            cond = compile_condition(when, df)
            if stage.row_local:
                df = gated_merge(df, cond, stage.apply, stage.id)
            else:
                df = df.persist(CACHE_LEVEL)
                self._branch_caches.append(df)
                matched = stage.apply(df.filter(cond))
                rest = df.filter(~F.coalesce(cond, F.lit(False)))
                df = matched.unionByName(rest, allowMissingColumns=True)
        return df

    def release_branch_caches(self) -> None:
        for cached in getattr(self, "_branch_caches", []):
            cached.unpersist()
        self._branch_caches = []

    # ---- execution ----------------------------------------------------------
    def run(
        self,
        source: DataFrame,
        run_dir: str,
        bucket_on: str = "url",
        n_buckets: int = 32,
        n_batches: int = 1,
        resume: bool = False,
        _fail_after_batch: int | None = None,  # test hook: simulate a crash
    ) -> PipelineMetrics:
        """Execute parse→enrich→route over bucket-group micro-batches.

        ``n_buckets`` is the partition/lineage granularity (scales to
        thousands on a cluster); ``n_batches`` groups buckets into
        micro-batches — each is one checkpointed unit of work.
        """
        check_bucket_count(n_buckets)
        if not 1 <= n_batches <= n_buckets:
            raise ValueError(
                f"n_batches={n_batches} must be between 1 and "
                f"n_buckets={n_buckets}: each batch is a group of buckets")
        manifest = CheckpointManifest(run_dir)
        if not resume:
            manifest.reset()
            # stale-partition hygiene: a previous run over the same
            # run_dir may have written buckets this run won't touch —
            # dynamic partition overwrite only replaces buckets that
            # receive rows, so a FRESH run must clear its path sinks
            # (catalog/kafka/stdout sinks have no run_dir directory)
            import shutil

            for sink in self.router.sinks:
                if not sink.table and sink.fmt not in (
                        "kafka", "rubydebug", "dots"):
                    shutil.rmtree(f"{run_dir}/{sink.name}",
                                  ignore_errors=True)
        completed = manifest.completed_batches()
        # one driver-side file listing per run: the resume check and
        # every ack's lineage share it
        src_desc = _describe_source(source)

        bucketed = with_bucket(source, bucket_on, n_buckets)

        groups: list[list[int]] = [[] for _ in range(n_batches)]
        for b in range(n_buckets):
            groups[b % n_batches].append(b)

        if resume and completed:
            # an acked batch is only skippable when it covered the SAME
            # buckets this run assigns to that batch id — resuming with
            # a different n_buckets/n_batches/bucket_on would silently
            # skip work (e.g. a 4-batch run resumed as 1 batch skips
            # everything because batch 0 is acked)
            for bid, entry in sorted(completed.items()):
                expect = groups[bid] if bid < len(groups) else None
                got = entry.get("buckets")
                key_was = entry.get("lineage", {}).get("bucket_on")
                if got != expect or (key_was is not None
                                     and key_was != bucket_on):
                    raise ValueError(
                        f"resume: manifest batch {bid} covered buckets "
                        f"{got} (bucket_on={key_was!r}) but the current "
                        f"grouping (n_buckets={n_buckets}, "
                        f"n_batches={n_batches}, bucket_on={bucket_on!r}) "
                        f"expects {expect} — resume with the original "
                        "parameters, or start fresh (resume=False)")
                # the manifest records per-batch input lineage — an
                # acked batch from a DIFFERENT input must not be
                # skipped (the sinks would silently mix two inputs).
                # In-memory sources carry no stable identity; only
                # file-backed identities are comparable.
                src_was = entry.get("lineage", {}).get("source")
                if (src_was and src_was != "in-memory"
                        and src_desc != "in-memory" and src_was != src_desc):
                    raise ValueError(
                        f"resume: manifest batch {bid} was produced "
                        f"from {src_was!r} but this run reads "
                        f"{src_desc!r} — skipping it would mix two "
                        "inputs in the sinks; resume with the original "
                        "input, or start fresh (resume=False)")

        total = PipelineMetrics(self.id)
        for batch_id, buckets in enumerate(groups):
            if batch_id in completed:
                total = total.merge(
                    PipelineMetrics.from_manifest(self.id, completed[batch_id]))
                continue
            batch_src = (
                bucketed.filter(F.col(BUCKET_COL).isin(buckets))
                if n_batches > 1
                else bucketed
            )
            m = self._run_batch(
                batch_src, run_dir, len(buckets), n_batches,
                mode="overwrite",
                truncate_tables=(not resume) and batch_id == 0)
            manifest.ack(batch_id, {
                "buckets": buckets,
                "lineage": {"source": src_desc,
                            "run_dir": run_dir,
                            "bucket_on": bucket_on,
                            "n_buckets": n_buckets},
                **m.to_manifest(),
            })
            total = total.merge(m)
            if _fail_after_batch is not None and batch_id >= _fail_after_batch:
                raise RuntimeError(f"simulated crash after batch {batch_id}")

        total.write(f"{run_dir}/metrics.json")
        return total

    def _run_batch(
        self, batch_src: DataFrame, run_dir: str, n_buckets: int,
        bucket_stride: int, mode: str, truncate_tables: bool,
    ) -> PipelineMetrics:
        """The micro-batch body both execution modes share: compile the
        bucketed input, shuffle it onto the bucket key, persist it, take
        the failure census, fan out to the sinks, release the caches.

        The batch holds ``n_buckets`` buckets, ``bucket_stride`` apart
        (a batch run's group i is every bucket ≡ i mod n_batches; a
        stream micro-batch holds every bucket, stride 1)."""
        t0 = time.monotonic()
        # events.in is the PRE-compile ingress count (node-stats
        # semantics): a drop/split filter changes the post-compile
        # count, which is events.filtered
        obs = Observation()
        batch_src = batch_src.observe(obs, F.count(F.lit(1)).alias("events_in"))
        compiled = self.compile(batch_src)
        if BUCKET_COL not in compiled.columns:
            raise ValueError(
                f"a filter removed the internal {BUCKET_COL!r} column "
                "(remove_field / prune whitelist?) — it must survive "
                "to the sinks: it is the partition key of the "
                "checkpointed idempotent bucket-overwrite contract")
        # One shuffle on the bucket key before the multi-sink fan-out:
        # without it every task writes into every bucket directory of
        # every sink (tasks x buckets x sinks tiny files — measured to
        # INVERT scaling at local[32]). The bucket is the layout unit:
        # it lands in exactly one partition, so each sink gets one file
        # per bucket. The partition is the compute unit: one per core,
        # the batch's i-th bucket in partition i mod P, so partitions
        # differ by at most one bucket and each gets one. (Hashing the
        # bucket values instead collides: 8 stream buckets filled 4 of
        # 8 partitions, and every empty write task still pays its
        # 30-60 ms of task set-up.) The shuffle carries only post-parse
        # columns (html is projected away by the extract stage before
        # this point).
        n_parts = min(n_buckets,
                      compiled.sparkSession.sparkContext.defaultParallelism)
        routed = (
            compiled
            .repartitionById(n_parts, F.expr(
                f"CAST({BUCKET_COL} DIV {bucket_stride} AS INT)"))
            .persist(CACHE_LEVEL)
        )
        stage_tags = {stage.id: stage.failure_tags
                      for _, stage in self.stages if stage.failure_tags}
        try:
            # ONE materializing agg: total row count + per-stage failure
            # counts (fills the cache; separate count() jobs removed)
            filtered_count, failure_counts = _failure_census(routed, stage_tags)
            in_count = int(obs.get["events_in"])
            sink_counts = self.router.write_batch(
                routed, run_dir, mode=mode, truncate_tables=truncate_tables)
        finally:
            routed.unpersist()
            self.release_branch_caches()

        return PipelineMetrics.from_manifest(self.id, {
            "events": {"in": in_count, "filtered": filtered_count,
                       "out": sum(sink_counts.values()),
                       "duration_in_millis": int((time.monotonic() - t0) * 1000)},
            "sinks": sink_counts,
            "failures": {sid: failure_counts.get(sid, 0) for sid in stage_tags},
        })


def check_bucket_count(n_buckets: int) -> None:
    if not (isinstance(n_buckets, int) and n_buckets >= 1):
        raise ValueError(f"n_buckets={n_buckets!r} must be an integer >= 1")


def with_bucket(df: DataFrame, bucket_on: str, n_buckets: int) -> DataFrame:
    """Tag each row with its url-hash bucket, the partition key of every
    path sink and the unit a batch run groups and acks."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(bucket_on)), F.lit(n_buckets)))


def _failure_census(
    df: DataFrame, stage_tags: dict[str, list[str]]
) -> tuple[int, dict[str, int]]:
    """ONE aggregation pass over the batch: total rows + per-stage
    failure counts (this is also the action that materializes the
    persisted batch before the sink fan-out)."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    if "tags" in df.columns:
        for sid, tags in stage_tags.items():
            pred = None
            for t in tags:
                c = F.array_contains(F.col("tags"), t)
                pred = c if pred is None else (pred | c)
            aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(sid))
    row = df.agg(*aggs).collect()[0]
    failures = (
        {sid: int(row[sid] or 0) for sid in stage_tags} if "tags" in df.columns else {}
    )
    return int(row["__total"]), failures


def _describe_source(df: DataFrame) -> str:
    try:
        files = df.inputFiles()
        return files[0].rsplit("/", 1)[0] if files else "in-memory"
    except Exception:
        return "in-memory"
