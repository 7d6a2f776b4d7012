import pytest

from tests.conftest import nanos_events_table


def test_missing_attr_probe_does_not_relist(spark, tmp_path, monkeypatch):
    """Round-4 verdict #3: hasattr probes / autocomplete on missing names
    must not re-run the directory listing + parquet footer reads; only an
    actual source change (dir mtime) re-lists."""
    import os
    import shutil
    import time

    import pandas_db_spark.database as dbmod
    from pandas_db_spark import Database

    shutil.copy("/root/testdata/sf0.001/region.parquet",
                tmp_path / "region.parquet")
    calls = []
    real = dbmod.discover_tables

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(dbmod, "discover_tables", counting)
    db = Database(str(tmp_path), spark=spark)
    assert len(calls) == 1
    for _ in range(5):
        assert not hasattr(db, "nope")
    assert len(calls) == 1  # five misses, zero re-listings
    # a real source change IS picked up (lazy binding still works)
    time.sleep(0.05)  # ensure a distinct directory mtime
    shutil.copy("/root/testdata/sf0.001/nation.parquet",
                tmp_path / "nation.parquet")
    assert db.nation.len == 25
    assert len(calls) == 2
    # a table added within the same directory mtime tick is still found
    mtime = os.path.getmtime(tmp_path)
    shutil.copy("/root/testdata/sf0.001/region.parquet",
                tmp_path / "region2.parquet")
    os.utime(tmp_path, (mtime, mtime))
    assert db.region2.len == 5
    assert len(calls) == 3


@pytest.mark.parametrize("layout", ["int96_file", "nanos_dir"])
def test_timestamp_parquet_layouts_open(spark, tmp_path, layout):
    """An INT96 file (arrow reports it as ``timestamp[ns]``, Spark reads it
    natively) and a directory dataset holding TIMESTAMP(NANOS) both open
    as tables and answer ``len`` and ``min`` on the timestamp column."""
    import datetime as dt

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pandas_db_spark import Database

    if layout == "int96_file":
        path = tmp_path / "events.parquet"
        pq.write_table(nanos_events_table(), str(path),
                       use_deprecated_int96_timestamps=True)
        want = spark.read.parquet(str(path)).agg(F.min("ts")).first()[0]
    else:
        path = tmp_path / "events.parquet" / "part-0.parquet"
        path.parent.mkdir()
        pq.write_table(nanos_events_table(), str(path),
                       coerce_timestamps=None)
        want = dt.datetime(2024, 1, 1)
    db = Database(str(tmp_path), spark=spark)
    assert len(db.events) == 3
    assert db.events.ts.min() == want
