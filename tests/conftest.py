import contextlib
import os
import sys
import types

import pytest

sys.path.insert(0, "/root/repo")
# the suite reads sf0.001 data: an 8g driver heap is ample, while the 48g
# default lets the test JVM grow until a 16 GB machine OOM-kills it
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from facebook_presto_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # 16 of the verify box's 32 cores: the differential corpus contains
    # a handful of genuinely quadratic correlated-subquery cases
    # (BroadcastNestedLoopJoin over orders×orders) whose wall-clock is
    # CPU-bound; 8 cores left the driver's pytest window unmet.
    s = get_spark("pytest", cpus=16)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` sets ``jobs.count`` to the
    number of Spark jobs started inside the block, from the
    SparkStatusTracker once the listener bus has delivered every event.
    The engine's background kernel warm-up is joined first, so its job
    never counts."""
    from facebook_presto_spark.functions import geo_sql

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    @contextlib.contextmanager
    def counter():
        geo_sql.warm_join(spark)
        before = job_ids()
        jobs = types.SimpleNamespace(count=0)
        yield jobs
        jobs.count = len(job_ids() - before)

    return counter
