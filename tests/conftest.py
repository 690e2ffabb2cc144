from __future__ import annotations

import duckdb
import pytest

from dataframeutils_spark.session import get_spark
from dataframeutils_spark.sources.testdata import TABLES
from tools.oracle_sweep import compare, normalize

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dataframeutils-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the driver's table views registered (sf0.001)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str):
    """Oracle gate (tools/oracle_sweep.compare): columns, rows, dtype kind, values."""
    err = compare(normalize(spark_df.toPandas()), normalize(con.execute(sql).fetchdf()))
    assert err is None, err
