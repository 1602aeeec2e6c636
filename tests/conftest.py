from __future__ import annotations

import os

import pytest

from uquery_rs_spark.oracle import oracle_connection
from uquery_rs_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # get_spark's 32g driver-heap default is sized for a server: on a
    # 16 GB host the suite's JVM grows past physical memory and is
    # OOM-killed mid-run. The whole suite peaks near 6 GB RSS at 4g.
    os.environ.setdefault("UQ_DRIVER_MEMORY", "4g")
    s = get_spark("uquery-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    con = oracle_connection(SF_SMALL)
    yield con
    con.close()
