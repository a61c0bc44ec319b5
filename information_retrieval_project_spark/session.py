"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (see SURVEY.md §4.2):
- AQE on (runtime coalesce + skew-join splitting),
- Arrow execution for every pandas UDF stage,
- shuffle partition count sized to the local core count (on a real cluster
  this is set to 2-3x total executor cores; AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ir-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    own = str(len(os.sched_getaffinity(0)))  # the CPUs this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS", own)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus if cpus.isdigit() else own), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1000-row Arrow batches measured ~2x faster than 10000 for the
        # tokenize UDF (smaller peak allocations, better cache locality;
        # sweep recorded in BENCH notes)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE", "/tmp/ir_spark_warehouse"),
        )
    )
    return builder.getOrCreate()
