"""SparkSession factory.

Centralizes the configs the whole engine depends on:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the scale story for Zipf-skewed ``lang``/``domain`` keys.
* Arrow on, bounded batch size — every vectorized UDF ships columnar.
* UTC session timezone — required for DuckDB-oracle comparisons
  (DuckDB timestamps are UTC-naive).
* ``spark.sql.shuffle.partitions`` sized to local cores; on a real
  cluster this is overridden per-deploy (AQE coalescing makes the
  initial number forgiving).
* DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``).
  With it on, every Column function PySpark wraps records its call site
  through ``inspect.stack()`` plus extra Py4J round trips: one compile
  of the stream benchmark's pipeline made 2222 Py4J calls with it on
  and 862 with it off (0.52 s → 0.42 s on a 4-core VM). The sites it
  records point inside this package, not at the user's pipeline config.
* Cached batches uncompressed
  (``spark.sql.inMemoryColumnarStorage.compressed=false``). A batch is
  cached once and read by the census and each sink. With compression
  on, Spark's column builder (``CompressibleColumnBuilder``, as we read
  its source) collects the distinct values of each string column into a
  candidate dictionary to rate the encodings; every ~17 KB page
  ``text`` is distinct, so the dictionary never pays and the column is
  stored pass-through after all. Off, the cache build skips that pass.
  Its share of the cache-level gain was inside the noise of a 4-round
  ablation of the full pages_bulk run (``AB_BATCH_CACHE.json``).

``local_frame`` builds the small frames the driver makes from Python
rows (dims, snapshots, poll results) as Arrow-backed local relations.

Reference counterpart: Logstash's throughput-bounding settings
(``pipeline.workers``/``batch.size``/``batch.delay``,
logstash-core/lib/logstash/settings.rb) — here batch sizing becomes
input-split + Arrow batch sizing and worker count becomes task slots.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Arrow batch size ≈ Logstash pipeline.batch.size scaled for columnar
# execution: big enough to amortize Python/Arrow transfer, small enough
# that a batch of html binaries fits comfortably in worker memory. At
# the north-star payload (~20 KB Common-Crawl-style html/doc) 2048 rows
# ≈ 40 MB per task in flight; the old 10k-row default put 200 MB per
# task in flight and measurably hurt scaling on fat pages
# (scripts/scale_bench.py methodology note). Small log events pay no
# penalty: the parse and lookup paths (grok/dissect/date/geoip/
# useragent) are native, so pandas batches only carry html extraction
# and the datapipe UDFs.
ARROW_BATCH = 2_048


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "logstash-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard configs."""
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE on ANSI: the engine runs under Spark 4's DEFAULT
        # spark.sql.ansi.enabled=true (the driver gate's session config).
        # Logstash's never-abort semantics for dirty data are provided
        # operator-locally — every cast/parse in the package is a try_
        # variant (try_to_timestamp / try_cast / pmod-bounded hashes) —
        # so behavior is identical whatever the session sets.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # task-side parallel commit (v2): the v1 driver-side serial file
        # moves were a visible serial fraction at high parallelism. A
        # non-atomic commit is acceptable: the per-batch checkpoint
        # manifest (checkpoint.py) is the real commit point, and a batch
        # that dies mid-write is rewritten idempotently per bucket.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Parquet codec: snappy by default, zstd one env var away.
        # Round-4 controlled A-B (AB_FATPAGES.json: codec × Arrow batch,
        # 3 round-robin trials each in one JVM, same staged 60k fat-pages
        # input) measured zstd at ~1.5× the wall-clock of snappy on the
        # write-heavy flagship (min 11.9–12.8 s vs 7.8–8.3 s) for ~36%
        # smaller sink bytes; Arrow batch size was irrelevant. Default
        # favors throughput; storage/network-bound 100 TB deployments
        # (where the 36% byte saving dominates executor-parallel
        # compression CPU) flip SPARK_GRAFT_PARQUET_CODEC=zstd.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "2g")
        # Derby (the embedded JDBC engine the jdbc tests run against, and
        # Hive metastore fallback) writes derby.log to derby.system.home,
        # which defaults to the process cwd — keep it out of the repo.
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp")
        # Managed-table warehouse for catalog-table sinks: default is
        # ./spark-warehouse under the process cwd — keep it out of the
        # source tree in local mode. Cluster deployments override (or
        # configure an Iceberg catalog, which carries its own warehouse).
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR", "/tmp/logstash_spark_warehouse"
            ),
        )
    )
    # Local-mode bench harnesses need a big driver heap (the driver JVM
    # hosts all 32 task slots; 1g GC-thrashes under concurrent parquet
    # writers). That's harness tuning, not a product default — bench.py /
    # scale_bench.py set SPARK_GRAFT_DRIVER_MEM; library consumers get
    # Spark's normal default. JVM-launch-time setting: first session wins.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A frame of driver-side Python rows (tuples in ``schema`` order).

    ``createDataFrame(<rows>)`` parallelizes the rows into a Python RDD,
    so every scan of it (a broadcast build included) is a Spark job with
    Python workers. Built through Arrow the rows become a
    ``LocalRelation``: the plan carries them, and a broadcast over it is
    built in the JVM from those rows (Spark 4.1 still runs it as a
    small job over a ``ParallelCollectionRDD``) with no Python worker.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows],
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _ship_package(spark: SparkSession) -> None:
    """Ship the engine package to executor Python workers.

    Equivalent of ``spark-submit --py-files logstash_spark.zip``: makes
    every pandas-UDF closure that references package modules importable
    on workers regardless of driver cwd — required on a real cluster,
    and also when the driver script runs outside the repo root.

    When the app WAS launched via ``spark-submit --py-files`` (the
    north-rule form, ``scripts/submit_cluster.sh``), the package is
    already on every worker — and re-adding a same-named zip whose
    bytes differ (archive timestamps) makes addFile fail with
    'exists and does not match'. Skip shipping in that case; a unique
    content-derived name guards the remaining collision surface.
    """
    import hashlib
    import shutil
    import tempfile

    import logstash_spark

    submitted = spark.conf.get("spark.submit.pyFiles", "") or ""
    if any(os.path.basename(p).startswith("logstash_spark")
           for p in submitted.split(",") if p):
        return
    pkg_dir = os.path.dirname(os.path.abspath(logstash_spark.__file__))
    root = os.path.dirname(pkg_dir)
    with tempfile.TemporaryDirectory() as tmp:
        staged = shutil.make_archive(
            os.path.join(tmp, "pkg"), "zip",
            root_dir=root, base_dir="logstash_spark")
        digest = hashlib.sha256(
            open(staged, "rb").read()).hexdigest()[:16]
        zip_path = os.path.join(
            tempfile.gettempdir(), f"logstash_spark_pkg_{digest}.zip")
        if not os.path.exists(zip_path):
            shutil.move(staged, zip_path)
    spark.sparkContext.addPyFile(zip_path)
