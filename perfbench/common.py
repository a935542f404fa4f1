"""Spark session lifecycle and run bookkeeping shared by the workloads."""

from __future__ import annotations

import bisect
import os
import signal
import subprocess
import time

from . import host


def make_work_dir(root: str) -> str:
    """A fresh work directory for this run under ``root``, which every
    temp file of this process and of the JVMs it starts goes to."""
    import tempfile

    work = os.path.join(root, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # every JVM, spark-submit's launcher included, keeps its files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    return work


def start_spark(work: str, cores: int, driver_mem: str):
    """Run hygiene: an explicit master and driver heap, and every scratch
    location (Spark local dir, warehouse, derby) inside this run's work
    directory."""
    from logstash_spark import session

    spark = session.get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.driver.memory": driver_mem,
        "spark.local.dir": os.path.join(work, "spark_local"),
        # a fixed heap (-Xms = -Xmx): the JVM's footprint then does not
        # follow G1 heap-sizing decisions, which track host timing noise
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work} -Xms{driver_mem}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    started = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        left = [pid for pid in started + host.descendants(os.getpid())
                if _alive(pid)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden and
    marker files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def files_by_batch(paths, commits: dict[int, float]) -> dict[int, list[int]]:
    """micro-batch id → [data files, bytes] under ``paths``. Micro-batches
    run one after another, so each file belongs to the first micro-batch
    committed at or after the file's modification time."""
    order = sorted(commits, key=commits.get)
    times = [commits[b] for b in order]
    out = {b: [0, 0] for b in order}
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(root, n))
                i = bisect.bisect_left(times, st.st_mtime)
                if i < len(order):
                    out[order[i]][0] += 1
                    out[order[i]][1] += st.st_size
    return out
