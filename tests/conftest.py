from __future__ import annotations

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
