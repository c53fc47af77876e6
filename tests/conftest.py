from __future__ import annotations

import uuid

import pytest

from smallquery_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("smallquery-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import os

    import duckdb

    from smallquery_spark.sources import TABLES

    con = duckdb.connect()
    for tbl in TABLES:
        p = os.path.join(SF_ORACLE, f"{tbl}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def spark_jobs(spark, fn) -> tuple[int, object]:
    """(Spark jobs launched by ``fn()`` on this thread, its result)."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out
