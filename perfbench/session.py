"""Run directory and Spark session for one benchmark run.

Every path Spark, its Python workers and the library write to is
pointed inside the run directory, which lives in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

# Three task slots leave a core of a four-core host to the Python client,
# the JIT and the collector, which keeps run-to-run variation down.
CORES = max(1, min(3, os.cpu_count() or 1))


class RunDir:
    def __init__(self, root: str, tag: str):
        self.path = os.path.join(root, "perfbench", ".work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        for sub in ("tmp", "spark-local", "checkpoints", "warehouse"):
            os.makedirs(self.sub(sub), exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def prepare_env(repo_root: str, run: RunDir) -> None:
    """Process environment the JVM and the Python workers inherit."""
    tmp = run.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # JVMs write perf counters to /tmp/hsperfdata_<user> whatever
    # java.io.tmpdir says; the launcher JVM takes its flags from here.
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    tempfile.tempdir = tmp


def start_spark(run: RunDir):
    """local[CORES] session; returns (spark, seconds to start)."""
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    # A fixed-size heap and the throughput collector: no heap resizing
    # and no concurrent marking threads competing with the tasks.  The
    # client compiler only: a run is short and mostly first-time code,
    # and on three task slots the optimising compiler's threads took a
    # fifth of the set-up and recompiled code in the middle of the
    # timed loop.
    java_opts = (
        f"-Djava.io.tmpdir={run.sub('tmp')} -XX:-UsePerfData -Xms2g -XX:+UseParallelGC"
        " -XX:TieredStopAtLevel=1"
    )
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", run.sub("spark-local"))
        .config("spark.sql.warehouse.dir", run.sub("warehouse"))
        .config("spark.sql.streaming.checkpointLocation", run.sub("checkpoints"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the launcher exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
