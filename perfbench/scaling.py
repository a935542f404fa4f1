"""How much of a ``pages_bulk`` run is per-batch fixed cost.

    python3 perfbench/scaling.py --seed 1

Runs the flagship pipeline, after the same warm-up as the workload, over
growing prefixes of the staged input (the workload's bucket and batch
counts) and fits wall time = fixed + per_page * pages by least squares.
The fixed part is what every batch pays whatever its size (compile,
planning, job and commit overhead); the rest is per-event work.
Not part of the benchmark's measured runs.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, host, pages, stats  # noqa: E402
from perfbench.run import CORES_ENV, DRIVER_MEM, WORK_ROOT  # noqa: E402


def fit(xs: list[float], ys: list[float]) -> tuple[float, float]:
    """(intercept, slope) of the least-squares line through (xs, ys)."""
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
             / sum((x - mx) ** 2 for x in xs))
    return my - slope * mx, slope


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--repeats", type=int, default=2, help="runs per input size")
    args = p.parse_args(argv)

    from logstash_spark import flagship

    work = common.make_work_dir(WORK_ROOT)
    cores = host.nproc()
    os.environ[CORES_ENV] = str(cores)
    big = pages.stage_inputs(os.path.join(WORK_ROOT, "staged"), args.seed)
    staged = sorted(glob.glob(os.path.join(big, "*.parquet")))
    per_file = pages.N_PAGES // pages.N_FILES
    spark = common.start_spark(work, cores, DRIVER_MEM)
    try:
        def run(n_files: int) -> float:
            rd = os.path.join(work, "run")
            t0 = time.perf_counter()
            flagship.run_flagship(spark, spark.read.parquet(*staged[:n_files]), rd,
                                  n_buckets=pages.N_BUCKETS, n_batches=pages.N_BATCHES)
            took = time.perf_counter() - t0
            shutil.rmtree(rd, ignore_errors=True)
            return took

        run(pages.N_WARM_FILES)  # the workload's warm-up
        sizes = [pages.N_FILES // 8, pages.N_FILES // 2, pages.N_FILES]
        xs, ys = [], []
        for _ in range(args.repeats):
            for n_files in sizes:
                xs.append(n_files * per_file)
                ys.append(run(n_files))
                print(f"pages={xs[-1]:6d} wall_s={ys[-1]:.2f}", flush=True)
        fixed, per_page = fit(xs, ys)
        full = stats.median([y for x, y in zip(xs, ys) if x == pages.N_PAGES])
        print(f"fixed_s={fixed:.2f} ({fixed / pages.N_BATCHES:.2f} per batch) "
              f"per_page_ms={per_page * 1000:.3f} "
              f"per_event_share_at_{pages.N_PAGES}={per_page * pages.N_PAGES / full:.2f}")
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
