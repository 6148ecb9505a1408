from __future__ import annotations

import contextlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from demo_pgvector_spark import tables
from demo_pgvector_spark.session import get_session

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_session("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # never ./.tmp
    for name in tables.TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs a block launches, from any thread (the DAG
    scheduler's next job id): ``with spark_jobs(spark) as jobs:`` binds
    ``jobs``, whose call returns the jobs launched since the block was
    entered — so far inside it, in total after it."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    first, last = sched.nextJobId(), None

    def jobs() -> int:
        return (sched.nextJobId() if last is None else last) - first

    try:
        yield jobs
    finally:
        last = sched.nextJobId()
