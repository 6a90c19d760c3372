from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_vector_search_spark.session import get_spark

# The engine's default driver heap (48g) assumes a dedicated large
# machine; on a smaller host the one test JVM can outgrow physical
# memory and be killed mid-suite. Default to a quarter of the host's
# memory unless the caller pins a heap.
_HOST_MEM_MB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{_HOST_MEM_MB // 4}m")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ovs-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
