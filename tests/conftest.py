import re
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


def jvm_list(s):
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def walk_plan(node):
    """Every physical node under ``node``, descending into adaptive
    plans, query stages, reused exchanges and cached relations."""
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        inner = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        inner = [node.plan()]
    elif name == "ReusedExchange":
        inner = [node.child()]
    elif name == "InMemoryTableScan":
        inner = [node.relation().cachedPlan()]
    else:
        inner = jvm_list(node.children())
    for child in inner:
        yield from walk_plan(child)


# ArrowEvalPython, MapInPandas, (Python)MapInArrow, FlatMapGroupsInPandas...
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def python_nodes(df_or_plan):
    """The Python crossings (physical nodes) of a DataFrame's executed
    plan, or of a JVM physical plan such as a streaming query's
    ``lastExecution().executedPlan()``."""
    from pyspark.sql import DataFrame

    plan = (
        df_or_plan._jdf.queryExecution().executedPlan()  # noqa: SLF001
        if isinstance(df_or_plan, DataFrame)
        else df_or_plan
    )
    return [n for n in walk_plan(plan) if _PYTHON_NODE.search(n.nodeName())]


def python_node_names(df_or_plan):
    return sorted(n.nodeName() for n in python_nodes(df_or_plan))


@pytest.fixture(scope="session")
def spark():
    # small local session for tests: 4 threads, few shuffle partitions
    s = get_session(master="local[4]", shuffle_partitions=4, app_name="rex_spark_tests")
    yield s
    s.stop()
