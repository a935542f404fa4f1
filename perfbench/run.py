"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_bulk --seed 1 --seconds 20 --trace 0

Runs one workload against the ``logstash_spark`` package found next to
this directory, checks its outputs against independent oracles, and
prints one JSON object as the last line of standard output: the
end-to-end metrics (``--trace 0``) or the per-layer metrics from a run
with spans around the engine's layer boundaries (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, host, layers, stats  # noqa: E402  (none imports the engine)
from perfbench.trace import Tracer, self_time_table  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
END_TO_END = {
    "setup_s": "s", "events_per_s": "events/s", "batch_s_p50": "s",
    "event_latency_s_p50": "s", "event_latency_s_p95": "s",
    "sink_bytes_per_event": "bytes", "sink_files_per_batch": "files", "peak_rss_mb": "MB",
}
CORES_ENV = "SPARK_GRAFT_CPUS"
DRIVER_MEM = "3g"  # fits a 15 GB host next to the Python workers


class Context:
    """What a workload needs from the harness: its seed and window, the
    staging cache, the Spark session, set-up accounting and the tracer."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.stage_dir = os.path.join(WORK_ROOT, "staged")
        self.work = work
        self.cores = host.nproc()
        self.staging_s = 0.0
        self.setup_parts: dict[str, float] = {}
        self.setup_s = 0.0
        self.timed_end = 0.0
        self.setup_spans = []
        self.rss = host.RssSampler()
        self.tracer = Tracer()
        if self.trace:
            layers.install(self.tracer)
            self.tracer.enabled = True
        self.spark = None

    def stage(self, make):
        """Stage inputs; the time is excluded from every metric."""
        t0 = time.monotonic()
        try:
            return make()
        finally:
            self.staging_s += time.monotonic() - t0

    @contextlib.contextmanager
    def setup_span(self, name: str):
        """Time one part of the set-up (reported per part)."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.setup_parts[name] = time.monotonic() - t0

    def start_spark(self):
        """Start the session; the memory high-water mark starts here,
        after staging."""
        self.rss.start()
        os.environ[CORES_ENV] = str(self.cores)  # the engine sizes shuffles from it
        with self.setup_span("session.get_spark"):
            self.spark = common.start_spark(self.work, self.cores, DRIVER_MEM)
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = host.process_age() - self.staging_s
        self.setup_spans, self.tracer.spans = self.tracer.spans, []
        self.tracer.enabled = False

    def end_timed(self) -> None:
        """The timed region is over: what follows (oracles, probes) is
        the benchmark's own work, outside the memory high-water mark."""
        self.timed_end = time.monotonic()
        self.rss.stop()
        self.tracer.batch_gate = None
        self.tracer.enabled = False

    def trace_this(self, i: int) -> bool:
        """Traced runs alternate untraced (even) and traced (odd) parts,
        so the difference is the tracing overhead."""
        self.tracer.enabled = self.trace and i % 2 == 1
        return self.tracer.enabled

    def probe(self, source, sample, filter_specs) -> dict:
        """A noop-write scan of ``source``, then per-stage marginal costs
        over the smaller ``sample``."""
        t0 = time.perf_counter()
        source.write.format("noop").mode("overwrite").save()
        out = {"sources.scan_s": time.perf_counter() - t0}
        out.update(layers.stage_marginals(sample, filter_specs))
        return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["pages_bulk", "logs_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    try:
        import logstash_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: the logstash_spark package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = common.make_work_dir(WORK_ROOT)

    from perfbench import pages, stream

    ctx = Context(args, work)
    workload = {"pages_bulk": pages, "logs_stream": stream}[args.workload]
    ticks0 = host.cpu_ticks()
    try:
        res = workload.run(ctx)
    finally:
        ctx.rss.stop()
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    steal = host.steal_share(ticks0, host.cpu_ticks())
    after_timed_s = time.monotonic() - ctx.timed_end

    e2e = dict(res["e2e"], setup_s=ctx.setup_s, peak_rss_mb=ctx.rss.peak_mb())
    layer = dict.fromkeys(layers.PER_LAYER, 0.0)
    layer.update(res["layers"])
    layer["session.get_spark_s"] = ctx.setup_parts.get("session.get_spark", 0.0)
    layer["session.warmup_s"] = ctx.setup_parts.get("session.warmup", 0.0)
    inits = [sp.duration for sp in ctx.setup_spans + ctx.tracer.spans
             if sp.name == "pipeline.init"]
    layer["pipeline.init_s"] = stats.median(inits) if inits else 0.0
    layer["jvm.peak_rss_mb"] = ctx.rss.peak_mb("jvm")
    layer["python_workers.peak_rss_mb"] = ctx.rss.peak_mb("python_workers")

    hygiene = {"workload": args.workload, "seed": args.seed, "nproc": ctx.cores,
               "master": f"local[{ctx.cores}]", "driver_memory": DRIVER_MEM,
               "steal_share": round(steal, 5), "staging_s": round(ctx.staging_s, 3),
               "after_timed_s": round(after_timed_s, 3),
               "setup_parts_s": {k: round(v, 3) for k, v in ctx.setup_parts.items()},
               "peak_mb": {k: round(v / 2**20, 1) for k, v in ctx.rss.peak.items()},
               **res["info"]}
    print("perfbench run: " + json.dumps(hygiene))
    if ctx.trace:
        print("perfbench end-to-end (half the runs traced): "
              + json.dumps({k: round(v, 4) for k, v in e2e.items()}))
        table = self_time_table(ctx.tracer.spans)
        print("perfbench self time by layer (s): name calls total self")
        for name, calls, total, own in table:
            print(f"  {name:32s} {calls:5d} {total:9.3f} {own:9.3f}")
        if table:
            print(f"perfbench top self-time layer: {table[0][0]}")
    chosen, units = (layer, layers.PER_LAYER) if ctx.trace else (e2e, END_TO_END)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(chosen[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
