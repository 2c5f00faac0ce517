from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from multi_crm_cross_sell_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def _quarter_of_memory() -> str:
    """A quarter of the machine's physical memory, between 1 and 8 GiB:
    the driver heap rule of perfbench/run.py. get_spark's own default
    (48g) lets one test JVM grow past the RAM of a small machine."""
    mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(max(mib // 4, 1024), 8192)}m"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", _quarter_of_memory())
    s = get_spark("tests", master="local[4]", shuffle_partitions="4")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
