from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from memgraph_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running training test (GNN/TGN epochs); skipped by "
        "default so the full suite fits the CI window — run with "
        "SPARK_GRAFT_RUN_SLOW=1 to include")


def pytest_collection_modifyitems(config, items):
    # Training-heavy tests (multi-epoch GNN/TGN fits) pushed the full suite
    # past the CI runner's budget (~45 min measured); everything oracle- or
    # semantics-bearing stays in the default fast path. The slow tier still
    # runs on demand: SPARK_GRAFT_RUN_SLOW=1 python -m pytest tests/
    if os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return
    skip = pytest.mark.skip(reason="slow training test; set SPARK_GRAFT_RUN_SLOW=1")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("memgraph-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


_job_groups = itertools.count()


def settle_listeners(spark) -> None:
    """Wait until the listener bus has delivered every event, so that
    `statusTracker` sees every job started so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def count_jobs(spark, fn) -> int:
    """Spark jobs started by `fn()` on this thread, read from a fresh job
    group through `statusTracker`."""
    sc = spark.sparkContext
    group = f"counted-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    settle_listeners(spark)
    return len(sc.statusTracker().getJobIdsForGroup(group))
