from __future__ import annotations

import os

import pytest

from graphql_api_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _driver_heap() -> str:
    """Half of physical memory, at most the session factory's 48g: the
    factory's default heap would let one suite JVM grow past a small
    host's RAM. ``SPARK_GRAFT_DRIVER_MEM`` still wins when set."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    return f"{min(half_mb, 48 << 10)}m"


os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_heap())


@pytest.fixture(scope="session")
def spark():
    # Tiny fixtures: fewer threads/partitions beat the 32-way default
    # (task-dispatch overhead dominates at this scale).
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE
