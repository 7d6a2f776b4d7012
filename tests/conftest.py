import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pandas_db_spark.session import get_spark

    spark = get_spark(app_name="pandas-db-spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def db(spark):
    from pandas_db_spark import Database

    return Database(SF_DIR, spark=spark)


@pytest.fixture(scope="session")
def duck(spark):
    """DuckDB connection with the same tables registered as views — the local
    mirror of the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def nanos_events_table(**extra):
    """Three events whose ``ts`` is nanosecond-precision; written with
    ``pq.write_table(..., coerce_timestamps=None)`` it is stored as INT64
    TIMESTAMP(NANOS).  ``extra`` adds columns."""
    import pandas as pd
    import pyarrow as pa

    return pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(pd.to_datetime(
            ["2024-01-01 00:00:00.000000001",
             "2024-01-01 00:00:01.500000000",
             "2024-01-01 00:01:00.000000000"], format="ISO8601"),
            pa.timestamp("ns")),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["a", "b", "a"], pa.string()),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        **extra,
    })
