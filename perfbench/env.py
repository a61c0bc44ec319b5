"""Process environment and Spark session lifetime for benchmark runs.

Everything Spark, the JVM and the Python workers write goes under the run's
work directory inside the checkout, and ``shutdown`` ends the JVM (and with
it the Python workers) and waits for it.
"""

from __future__ import annotations

import os
import subprocess
import sys

PACKAGE = "information_retrieval_project_spark"


def configure(root: str, work: str, cores: int) -> None:
    """Set the variables Spark reads at launch. Call before importing pyspark."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEM="2g",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=20000 "
            "--conf spark.ui.retainedStages=20000 "
            f'--driver-java-options "{java_opts}" pyspark-shell'
        ),
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session():
    """The package's own session factory at local[SPARK_GRAFT_CPUS]."""
    from information_retrieval_project_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception as e:  # the JVM may already be gone; we still reap it
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
