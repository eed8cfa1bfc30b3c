from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandaspark.queries import oracle_views
from pandaspark.session import get_spark

SF_DIR = os.environ.get("PANDASPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("pandaspark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    oracle_views(con, SF_DIR)
    yield con
    con.close()


def paced_stream(spark, path: str):
    """File-source parquet stream over `path` (a directory or glob) that
    reads one file per micro-batch, so rows in different files meet only
    through streaming state. The schema is read from the files."""
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
