"""The benchmark's Spark session: sized to this machine, with every
scratch directory inside the benchmark's work directory, and a shutdown
that waits for the JVM to exit."""

from __future__ import annotations

import os
import subprocess
import tempfile

from pyspark.sql import SparkSession

from azuresearchcrawlervector_spark.session import get_spark

DRIVER_MEMORY = "2g"
STOP_TIMEOUT_S = 60.0


def start_session(work: str) -> SparkSession:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # the JVM and Python workers inherit it
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # wins over spark.local.dir
    n = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # keep every job of a run visible to the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, close the gateway JVM and wait until it exited. The
    JVM stops the Python worker daemon and its workers while it shuts
    down, before it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        gateway.proc.wait(timeout=STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
