"""CLI entry point — the engine's ``bin/logstash -f pipeline.conf``.

Reference counterpart: logstash-core/lib/logstash/runner.rb
(``Runner#execute``: load config → compile → run pipeline). Usage::

    python -m logstash_spark -f pipeline.conf --run-dir /out \\
        [--stream] [--buckets N] [--batches 1] [--resume] \\
        [--bucket-on url] [--master local[8]]

The config is LSCL (logstash.conf syntax, lscl.py); inputs resolve via
sources.py; the compiled DataFrame DAG executes through pipeline.py
(batch, checkpointed micro-batches) or streaming.py (--stream).
Run metrics print as one JSON line (node-stats shape, SURVEY §3.3).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logstash_spark")
    ap.add_argument("-f", "--config", required=True, help="LSCL pipeline config file")
    ap.add_argument("--run-dir", required=True, help="output directory (sinks + metrics)")
    ap.add_argument("--stream", action="store_true", help="run via Structured Streaming")
    ap.add_argument("--buckets", type=int, default=None,
                    help="bucket count (default: 32 batch, 8 --stream)")
    ap.add_argument("--batches", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--bucket-on", default=None,
                    help="bucket/checkpoint key column (default: url, else first column)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--pipeline-id", default="main")
    args = ap.parse_args(argv)

    from .lscl import to_pipeline_spec
    from .pipeline import Pipeline
    from .session import get_spark
    from .sources import resolve_input

    with open(args.config) as f:
        spec = to_pipeline_spec(f.read(), pipeline_id=args.pipeline_id)
    inputs = spec.pop("inputs", [])
    if not inputs:
        print("config has no input section", file=sys.stderr)
        return 2

    spark = get_spark(f"logstash-spark-{args.pipeline_id}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    dfs = [
        resolve_input(spark, i["plugin"], i["args"], streaming=args.stream)
        for i in inputs
    ]
    source = dfs[0]
    for other in dfs[1:]:
        source = source.unionByName(other, allowMissingColumns=True)

    bucket_on = args.bucket_on or ("url" if "url" in source.columns else source.columns[0])
    pipe = Pipeline(spec)
    # each mode keeps its own default bucket count unless --buckets is given
    buckets = {} if args.buckets is None else {"n_buckets": args.buckets}

    if args.stream:
        from .streaming import run_streaming

        run_streaming(pipe, source, args.run_dir, bucket_on=bucket_on, **buckets)
        print(json.dumps({"mode": "stream", "run_dir": args.run_dir,
                          "metrics": f"{args.run_dir}/metrics_stream.jsonl"}))
    else:
        metrics = pipe.run(source, args.run_dir, bucket_on=bucket_on,
                           n_batches=args.batches, resume=args.resume, **buckets)
        print(json.dumps(metrics.to_dict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
