import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from geomesa_spark import get_spark
    from geomesa_spark.functions import register_functions

    spark = get_spark("geomesa-spark-tests", cpus=4, shuffle_partitions=8)
    register_functions(spark)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


def _plan_nodes(df):
    """The operators of ``df``'s executed plan, through the adaptive
    plan and its query stages (the final plan once an action ran)."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        yield node
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def _partition_filters(df) -> list[list[str]]:
    """The PartitionFilters of every file scan in ``df``'s executed plan,
    one list of predicate strings per scan. Read from the scan nodes
    rather than the plan string, which cuts each scan field at
    spark.sql.maxMetadataStringLength characters."""
    out = []
    for node in _plan_nodes(df):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            fs = node.partitionFilters()
            out.append([fs.apply(i).toString() for i in range(fs.size())])
    return out


@pytest.fixture
def plan_node_names():
    """The class names of a DataFrame's executed plan operators."""
    return lambda df: [n.getClass().getSimpleName() for n in _plan_nodes(df)]


@pytest.fixture
def pruned_on():
    """Assert that every file scan of a DataFrame prunes partitions with
    a predicate naming each of the given partition columns; returns the
    filters. An unpruned scan has an empty PartitionFilters list."""
    import re

    def check(df, *cols):
        scans = _partition_filters(df)
        assert scans, "no file scan in the executed plan"
        for filters in scans:
            assert filters, f"unpruned scan: {scans}"
            for c in cols:
                assert any(re.search(rf"(?<!\w){c}#", f) for f in filters), (c, scans)
        return scans

    return check
