"""One pinned build-throughput measurement, run in a fresh process.

    python3 perfbench/scaling.py --cores N --corpus DIR --work DIR

Pins itself to N cores before the JVM starts, runs Spark at local[N], times
one (cold) build of the corpus, and prints
``{"files_per_s": ...}`` as its last line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    cpus = sorted(os.sched_getaffinity(0))[: args.cores]
    os.sched_setaffinity(0, cpus)
    sys.path.insert(0, ROOT)
    from perfbench.env import configure, shutdown, start_session

    configure(ROOT, args.work, len(cpus))
    from perfbench.workloads import build_and_write, config_for

    spark = start_session()
    try:
        n = spark.read.parquet(args.corpus).count()
        t0 = time.perf_counter()
        build_and_write(spark, args.corpus, os.path.join(args.work, "idx"), config_for(n))
        dt = time.perf_counter() - t0
    finally:
        shutdown(spark)
    print(json.dumps({"cores": len(cpus), "files_per_s": n / dt}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
