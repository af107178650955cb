import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.fixtures import ensure_fixture_dir
from opentelemetry_collector_contrib_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def group_job_count(spark):
    """``group_job_count(group, fn)``: run ``fn`` under Spark job group
    ``group``; the number of Spark jobs the group holds once the
    listener bus has caught up."""
    sc = spark.sparkContext

    def count(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    """Smoke tier fixture dir (sf0.001, ~6k turns)."""
    return ensure_fixture_dir("sf0.001")
