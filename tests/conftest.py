import os
import re
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from information_retrieval_project_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ir-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def jobs_run(spark):
    """jobs_run(fn) -> (fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run


@pytest.fixture
def partial_limit_below_query_shuffle():
    """partial_limit_below_query_shuffle(df) -> whether df's physical plan
    has a `WindowGroupLimit ... Partial` below an Exchange hash-partitioned
    on query_id alone: each partition keeps only its top rows per query
    before the shuffle."""

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    def check(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        ).splitlines()
        for i, line in enumerate(plan):
            if not re.search(r"Exchange hashpartitioning\(query_id#\d+L?, \d+\)", line):
                continue
            for below in plan[i + 1 :]:
                if depth(below) <= depth(line):
                    break
                if re.search(r"WindowGroupLimit .*\bPartial$", below.rstrip()):
                    return True
        return False

    return check
