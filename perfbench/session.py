"""The benchmark's Spark session: sized for a small machine and keeping
every file it writes inside the benchmark's work directory."""

from __future__ import annotations

import os
import subprocess
import tempfile

# Two task slots leave the other cores to the driver JVM's own threads, its
# GC and the Python driver: on a 4-core machine, local[4] measured slower
# and noisier epochs.
CORES = min(2, os.cpu_count() or 1)
# a fixed-size heap, so resident memory does not follow heap resizing
DRIVER_MEMORY = "2g"


def start_session(root: str, work: str, cores: int = CORES):
    """Start ``local[cores]``.  *root* is the repository root: Python
    workers are launched by the JVM, not by this interpreter, so they get
    the engine package through ``PYTHONPATH``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    from pyspark.sql import SparkSession

    # quoted: the launcher splits these options on spaces, and the
    # checkout's path may hold some
    java_opts = (
        f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -XX:-UsePerfData "
        f'"-Djava.io.tmpdir={tmp}" "-Dderby.system.home={tmp}"'
    )
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the engine configuration bench.py runs
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
