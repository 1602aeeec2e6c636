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


def served(spark, sql: str, **tables):
    """Rows of gateway SQL text run the way a client's query is
    (``SqlRewriter`` → ``spark.sql``) over hand-made ``tables``, each
    bound under the table name the text reads. Views those names already
    held are put back afterwards."""
    from uquery_rs_spark.rewrite import SqlRewriter

    saved = {t: spark.table(t) for t in tables if spark.catalog.tableExists(t)}
    try:
        for t, df in tables.items():
            df.createOrReplaceTempView(t)
        return spark.sql(SqlRewriter(spark).rewrite(sql)).collect()
    finally:
        for t in tables:
            if t in saved:
                saved[t].createOrReplaceTempView(t)
            else:
                spark.catalog.dropTempView(t)
