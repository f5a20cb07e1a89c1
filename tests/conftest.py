from __future__ import annotations

import itertools

import pytest

from lsh_apg_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: subprocess-level end-to-end launches")


@pytest.fixture(scope="session")
def spark():
    # master from SPARK_GRAFT_CPUS (else the host's cores), so the
    # suite never runs more task threads than the host has
    s = get_spark("lsh_apg_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def count_jobs(spark, request):
    """count_jobs(fn) -> (fn(), Spark jobs fn ran). For a fixed input
    and config the job count is stable, so a bound on it catches a
    regression that host noise hides from a wall-time check."""
    sc = spark.sparkContext
    calls = itertools.count()

    def run(fn):
        group = f"{request.node.name}_{next(calls)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
