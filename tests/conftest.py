from __future__ import annotations

import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# The suite shares one session JVM. Under the session's 24g default heap
# it grows past 15 GB of RSS on a 16 GB host and is killed mid-suite;
# every test passes under 6g (peak RSS about 7.5 GB).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cdc_sync_poc_spark import get_spark

    s = get_spark("cdc-sync-poc-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
