import uuid

import pytest

from rex_spark.session import get_session


def spark_jobs(spark, fn):
    """Run ``fn()``; return its result and the number of Spark jobs it
    started."""
    sc = spark.sparkContext
    group = f"spark_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001
    # job-start events reach the status store through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    # small local session for tests: 4 threads, few shuffle partitions
    s = get_session(master="local[4]", shuffle_partitions=4, app_name="rex_spark_tests")
    yield s
    s.stop()
