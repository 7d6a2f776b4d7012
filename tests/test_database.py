"""Database-level contract tests (reference model: tests/test_connection.py)."""

import warnings

import pandas as pd
import pytest

from pandas_db_spark import Database, ConnectionClosedWarning, FileTypeError, InvalidTableError
from tests.conftest import SF_DIR

ALL_TABLES = {"region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"}


def test_tables(db):
    assert set(db.tables) == ALL_TABLES
    assert len(db) == len(ALL_TABLES)


def test_attribute_and_item_access(db):
    assert db.orders is db["orders"]
    assert db.orders.name == "orders"


def test_get_columns(db):
    assert db.get_columns("region") == ["r_regionkey", "r_name"]
    with pytest.raises(InvalidTableError):
        db.get_columns("nope")


def test_missing_table_errors(db):
    with pytest.raises(InvalidTableError):
        db["nope"]
    with pytest.raises(AttributeError):
        db.nope


def test_items(db):
    items = dict(db.items())
    assert set(items) == ALL_TABLES


def test_file_type_error(spark, tmp_path):
    bad = tmp_path / "data.xyz"
    bad.write_text("hi")
    with pytest.raises(FileTypeError):
        Database(str(bad), spark=spark)


def test_query_join_and_duplicate_rename(db):
    out = db.query(
        "SELECT n_name, n_name FROM nation ORDER BY n_nationkey LIMIT 2"
    )
    assert list(out.columns) == ["n_name", "n_name_2"]
    join = db.query(
        "SELECT c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey"
    )
    assert isinstance(join, pd.DataFrame)
    assert len(join) == db.customer.len


def test_lifecycle_double_close_warns(spark):
    d = Database(SF_DIR, spark=spark)
    assert d.conn_open
    d.exit()
    assert not d.conn_open
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        d.exit()
    assert any(issubclass(x.category, ConnectionClosedWarning) for x in w)


def test_context_manager(spark):
    with Database(SF_DIR, spark=spark) as d:
        assert d.conn_open
    assert not d.conn_open


def test_sqlite_source(spark, tmp_path):
    import sqlite3

    path = tmp_path / "mini.db"
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (a INTEGER, b TEXT)")
    conn.executemany("INSERT INTO t VALUES (?, ?)", [(1, "x"), (2, "y"), (None, None)])
    conn.commit()
    conn.close()

    d = Database(str(path), spark=spark)
    assert d.tables == ["t"]
    assert d.t.shape == (3, 2)
    assert d.t.a.null_count() == 1


def test_sqlite_partitioned_reader(spark, tmp_path, monkeypatch):
    """Rowid-range parallel path: same rows as the driver-ingest path, read
    in independent slices with no full-table driver fetch."""
    import sqlite3

    from pandas_db_spark.sources import registry

    path = tmp_path / "big.db"
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (a INTEGER, b TEXT, c REAL)")
    rows = [(i, f"s{i % 97}", i * 0.5 if i % 11 else None)
            for i in range(10_000)]
    conn.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    conn.commit()
    conn.close()

    monkeypatch.setattr(registry, "SQLITE_PARALLEL_THRESHOLD", 1_000)
    tables = registry.load_sqlite_tables(spark, str(path))
    df = tables["t"]
    assert df.rdd.getNumPartitions() > 1
    got = sorted(tuple(r) for r in df.collect())
    assert len(got) == 10_000
    assert got == sorted(rows)
    # WITHOUT ROWID tables fall back to driver ingest
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE w (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID")
    conn.execute("INSERT INTO w VALUES ('a', 1)")
    conn.commit()
    conn.close()
    monkeypatch.setattr(registry, "SQLITE_PARALLEL_THRESHOLD", 1)
    tables = registry.load_sqlite_tables(spark, str(path))
    assert tables["w"].count() == 1


def test_sql_script_source(spark, tmp_path):
    path = tmp_path / "mini.sql"
    path.write_text(
        "CREATE TABLE s (x INTEGER); INSERT INTO s VALUES (1); INSERT INTO s VALUES (2);"
    )
    d = Database(str(path), spark=spark)
    assert d.tables == ["s"]
    assert sorted(x[0] for x in d.s.data()) == [1, 2]


def test_catalog_listings(db):
    """views/temp_tables/temp_views are honest: each table registered by this
    Database shows up as a temp view (used by query()); no phantom views."""
    assert set(db.tables) <= set(db.temp_views)
    assert db.temp_tables == []
    assert isinstance(db.views, list)


def test_write_parquet_roundtrip(spark, db, tmp_path):
    from pandas_db_spark.sources.registry import read_parquet, write_parquet

    out = str(tmp_path / "region_out.parquet")
    write_parquet(db.region.df, out)
    back = read_parquet(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, db.region.df.collect()))


def test_write_orc_roundtrip(spark, db, tmp_path):
    from pandas_db_spark.sources.registry import load_orc, write_orc

    out = str(tmp_path / "region_out.orc")
    write_orc(db.region.df, out)
    back = load_orc(spark, out)
    assert back.columns == db.region.df.columns
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, db.region.df.collect()))
    # partitioned layout: directory pruning key becomes a read column
    out2 = str(tmp_path / "nation_by_region.orc")
    write_orc(db.nation.df, out2, partition_by=["n_regionkey"])
    back2 = load_orc(spark, out2)
    assert back2.where("n_regionkey = 1").count() == \
        db.nation.df.where("n_regionkey = 1").count()


def test_csv_source(spark, tmp_path):
    (tmp_path / "people.csv").write_text("Name,Fav Color\nann,red\nbob,blue\n")
    d = Database(str(tmp_path), spark=spark)
    assert d.tables == ["people"]
    assert d.people.columns == ["name", "fav_color"]
    assert d.people.len == 2


def test_jsonl_source(spark, tmp_path):
    (tmp_path / "docs.jsonl").write_text(
        '{"Doc Id": 1, "Text": "hello world"}\n'
        '{"Doc Id": 2, "Text": "foo bar"}\n')
    d = Database(str(tmp_path), spark=spark)
    assert d.tables == ["docs"]
    assert d.docs.columns == ["doc_id", "text"]
    assert d.docs.len == 2
    assert d.docs[d.docs.doc_id == 2].text.data() == ["foo bar"]


def test_partitioned_write_prunes(spark, db, tmp_path):
    """partition_by writes a Hive layout and a filter on the partition column
    prunes at planning time (PartitionFilters, not a data filter)."""
    from pandas_db_spark.plans.explain import formatted_plan
    from pandas_db_spark.sources.registry import read_parquet, write_parquet

    out = str(tmp_path / "nation_part.parquet")
    write_parquet(db.nation.df, out, partition_by=["n_regionkey"])
    back = read_parquet(spark, out)
    flt = back.filter(back.n_regionkey == 2)
    plan = formatted_plan(flt)
    assert "PartitionFilters" in plan and "n_regionkey" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]
    want = {r["n_nationkey"]
            for r in db.nation.df.filter("n_regionkey = 2").collect()}
    assert {r["n_nationkey"] for r in flt.collect()} == want


def test_bucketed_join_is_shuffle_free(spark, db):
    """Two tables bucketed on the join key with equal bucket counts join with
    ZERO Exchange — the write-once / join-forever 100 TB lever."""
    from pandas_db_spark.plans.explain import formatted_plan
    from pandas_db_spark.sources.registry import write_bucketed

    write_bucketed(db.customer.df, "b_customer", ["c_custkey"], n_buckets=8,
                   sort_cols=["c_custkey"])
    write_bucketed(
        db.orders.df.select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = spark.table("b_customer")
        o = spark.table("b_orders")
        j = c.join(o, c.c_custkey == o.o_custkey)
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == db.orders.len
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_customer")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_del_closes_on_gc(spark):
    """Reference connection.py:210-217: GC of an open Database closes it;
    a second explicit exit() then warns (already closed)."""
    import gc

    db2 = Database(SF_DIR, spark=spark)
    assert db2.conn_open
    db2.__del__()  # deterministic stand-in for the GC call
    assert not db2.conn_open
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        db2.exit()
    assert any(isinstance(w.message, ConnectionClosedWarning) for w in caught)
    # a half-constructed instance (no conn_open yet) must not raise on GC
    broken = object.__new__(Database)
    broken.__del__()
    del db2, broken
    gc.collect()


def test_sql_script_sink_roundtrip(spark, db, tmp_path):
    """write_sql_script (.sql text dump, reference utils.py:200-211) replays
    through the .sql source reader with identical values."""
    from pandas_db_spark.sources.registry import write_sql_script

    out = tmp_path / "dump.sql"
    write_sql_script(
        {"region": db.region.df,
         "orders_head": db.orders.df.select(
             "o_orderkey", "o_totalprice", "o_orderstatus").limit(7)},
        str(out))
    back = Database(str(out), spark=spark)
    assert sorted(back.tables) == ["orders_head", "region"]
    assert back.region.len == 5
    got = {tuple(r) for r in back.region.df.collect()}
    want = {tuple(r) for r in db.region.df.collect()}
    assert got == want
    assert back.orders_head.len == 7


def test_convert_db_to_sql(tmp_path):
    """SQLite .db → .sql parity path (reference utils.py:200-211)."""
    import sqlite3

    from pandas_db_spark.utils import convert_db_to_sql

    dbf = tmp_path / "t.db"
    con = sqlite3.connect(str(dbf))
    con.execute("CREATE TABLE t (a INTEGER, b TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(1, "x"), (2, "it's")])
    con.commit()
    con.close()
    sqlf = tmp_path / "t.sql"
    convert_db_to_sql(dbf, sqlf)
    replay = sqlite3.connect(":memory:")
    replay.executescript(sqlf.read_text())
    assert replay.execute("SELECT a, b FROM t ORDER BY a").fetchall() == [
        (1, "x"), (2, "it's")]


def test_mb_gb_size():
    """get_mb_size/get_gb_size (reference utils.py:155-174)."""
    from pandas_db_spark.utils import get_gb_size, get_mb_size

    payload = {"k": list(range(1000))}
    mb = get_mb_size(payload)
    assert mb > 0
    assert get_gb_size(payload) == pytest.approx(mb / 1e3)
    assert get_mb_size(payload, payload) >= mb


def test_conversion_utils_roundtrip(tmp_path, db):
    """csv -> .db -> .sql -> .db -> in-memory chain
    (reference utils.py:214-266 family)."""
    import sqlite3

    from pandas_db_spark.utils import (convert_csvs_to_db, convert_db_to_sql,
                                       convert_sql_to_db, load_sql_to_sqlite)

    csv = tmp_path / "My Table-1.csv"
    csv.write_text("First Name,Total-Sum\nada,1\ngrace,2\n")
    dbf = tmp_path / "a.db"
    convert_csvs_to_db(dbf, [csv])
    con = sqlite3.connect(str(dbf))
    assert con.execute(
        "SELECT first_name, total_sum FROM my_table_1 ORDER BY 1"
    ).fetchall() == [("ada", 1), ("grace", 2)]
    con.close()

    sqlf = tmp_path / "a.sql"
    convert_db_to_sql(dbf, sqlf)
    dbf2 = tmp_path / "b.db"
    convert_sql_to_db(sqlf, dbf2)
    mem = load_sql_to_sqlite(sqlf)
    for c in (sqlite3.connect(str(dbf2)), mem):
        assert c.execute("SELECT count(*) FROM my_table_1").fetchone() == (2,)
        c.close()


def test_col_iterator_and_none_sort(db):
    from pandas_db_spark.utils import col_iterator, sort_iterable_with_none_values

    all_cols = list(col_iterator(db))
    num_cols = list(col_iterator(db, numeric_only=True))
    assert len(all_cols) == sum(len(t.columns) for _, t in db.items())
    assert 0 < len(num_cols) < len(all_cols)
    assert all(c.data_is_numeric() for c in num_cols)
    assert sort_iterable_with_none_values([3, None, 1, None, 2]) == [
        None, None, 1, 2, 3]


def test_sql_sink_escapes_identifiers(spark, tmp_path):
    """ADVICE r5: '"' inside table/column names must be doubled in the
    emitted .sql script, not break (or inject into) the statement."""
    import sqlite3

    from pandas_db_spark.sources.registry import write_sql_script
    from pandas_db_spark.utils import load_sql_to_sqlite

    df = spark.createDataFrame([(1, "x")], ['a"b', "c"])
    out = tmp_path / "weird.sql"
    write_sql_script({'t"1': df}, str(out))
    con = load_sql_to_sqlite(out)
    assert con.execute('SELECT "a""b", c FROM "t""1"').fetchall() == [(1, "x")]
    con.close()


def test_write_sorted_data_skipping_layout(spark, db, tmp_path):
    """write_sorted produces non-overlapping per-file min/max ranges on
    the sort key (the parquet-footer property that lets range filters
    skip row groups), and round-trips correctly."""
    import glob
    import pyarrow.parquet as pq
    from pandas_db_spark.sources.registry import write_sorted

    out = str(tmp_path / "orders_sorted")
    write_sorted(db.orders.df, out, ["o_totalprice"], partitions=8)
    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("o_totalprice")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    # files form an ordered, non-overlapping chain on the sort key
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    back = spark.read.parquet(out)
    assert back.count() == db.orders.df.count()
    thresh = ranges[0][1]  # below the first file's max: 1-file read
    want = db.orders.df.filter(f"o_totalprice < {thresh}").count()
    assert back.filter(f"o_totalprice < {thresh}").count() == want


def test_compact_parquet_reduces_files(spark, db, tmp_path):
    import glob
    from pandas_db_spark.sources.registry import compact_parquet

    frag = str(tmp_path / "fragmented")
    db.orders.df.repartition(32).write.parquet(frag)
    assert len(glob.glob(frag + "/*.parquet")) == 32
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, out, target_mb=256)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n < 32
    assert spark.read.parquet(out).count() == db.orders.df.count()
    import pytest as _pt
    with _pt.raises(ValueError, match="differ"):
        compact_parquet(spark, frag, frag)
    with _pt.raises(ValueError, match="positive"):
        compact_parquet(spark, frag, out, target_mb=0)


def test_write_jsonl_roundtrip(spark, db, tmp_path):
    from pandas_db_spark.sources.registry import write_jsonl

    src = db.nation.df.select("n_nationkey", "n_name")
    path = str(tmp_path / "nation_jsonl")
    write_jsonl(src, path)
    back = spark.read.json(path)
    assert back.count() == src.count()
    assert {r["n_name"] for r in back.collect()} == \
           {r["n_name"] for r in src.collect()}


def test_write_csv_roundtrip_and_nested_guard(spark, db, tmp_path):
    import pytest
    from pyspark.sql import functions as F
    from pandas_db_spark.sources.registry import write_csv

    src = db.region.df.select("r_regionkey", "r_name")
    path = str(tmp_path / "region_csv")
    write_csv(src, path)
    back = (spark.read.option("header", "true").option("inferSchema", "true")
            .csv(path))
    assert sorted(back.columns) == sorted(src.columns)
    assert back.count() == src.count()
    nested = src.withColumn("arr", F.array(F.lit(1)))
    with pytest.raises(TypeError, match="nested"):
        write_csv(nested, str(tmp_path / "nope"))


def _file_ranges(path, col):
    import glob
    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.column(i).name
               for i in range(md.num_columns)].index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min); maxs.append(st.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out


def _prunable_fraction(ranges, probes):
    """Mean fraction of files a point-filter can skip via footer stats."""
    skips = 0
    for p in probes:
        skips += sum(1 for lo, hi in ranges if p < lo or p > hi)
    return skips / (len(probes) * len(ranges))


def test_write_zordered_skips_on_both_dims(spark, db, tmp_path):
    """Z-order interleaving gives BOTH dimensions useful per-file
    min/max ranges, where single-key sorting serves only its own key."""
    from pandas_db_spark.sources.registry import write_sorted, write_zordered

    e = db.events.df.select("event_id", "user_id", "value")
    zout = str(tmp_path / "events_z")
    write_zordered(e, zout, ["user_id", "value"], partitions=8)
    sout = str(tmp_path / "events_s")
    write_sorted(e, sout, ["user_id"], partitions=8)

    stats = e.agg({"user_id": "max", "value": "max"}).collect()[0]
    u_probes = [int(stats[0] * f) for f in (0.1, 0.4, 0.7, 0.9)]
    v_probes = [stats[1] * f for f in (0.1, 0.4, 0.7, 0.9)]

    z_u = _prunable_fraction(_file_ranges(zout, "user_id"), u_probes)
    z_v = _prunable_fraction(_file_ranges(zout, "value"), v_probes)
    s_u = _prunable_fraction(_file_ranges(sout, "user_id"), u_probes)
    s_v = _prunable_fraction(_file_ranges(sout, "value"), v_probes)
    # single-key layout: near-perfect on its own key
    assert s_u > 0.8
    # z-order: BOTH dims prune usefully — the off-key dim prunes
    # clearly better than the single-key layout's incidental pruning
    # (tiny files have noisy min/max, so compare relatively)
    assert z_u > 0.3 and z_v > 0.3
    assert z_v >= s_v + 0.15
    # and the data round-trips
    back = spark.read.parquet(zout)
    assert back.count() == e.count()


def test_zorder_key_validation(db):
    import pytest
    from pandas_db_spark.sources.registry import zorder_key

    e = db.events.df
    with pytest.raises(ValueError, match="2-4"):
        zorder_key(e, ["value"])
    with pytest.raises(ValueError, match="overflows"):
        zorder_key(e, ["user_id", "value"], bits=32)


def test_schema_diff(spark, db):
    from pyspark.sql import functions as F
    from pandas_db_spark.utils import schema_diff

    old = db.events.df
    new = (old.drop("props")
              .withColumn("value", F.col("value").cast("float"))
              .withColumn("ingest_day", F.lit("2026-08-14")))
    d = schema_diff(old, new)
    assert d["added"] == {"ingest_day": "string"}
    assert d["removed"] == {"props": "string"}
    assert d["changed"] == {"value": ("double", "float")}
    assert "user_id" in d["unchanged"]


def test_zorder_null_maps_to_zero(spark):
    from pyspark.sql import functions as F
    from pandas_db_spark.sources.registry import zorder_key

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, 100.0), (3, 100.0, 100.0)],
        "id long, x double, y double")
    keys = {r["id"]: r["z"] for r in
            df.withColumn("z", zorder_key(df, ["x", "y"], bits=4)).collect()}
    # NULL x -> position 0: row 2's key must equal (x=0, y=100)'s key,
    # NOT (x=100, y=100)'s
    ref = {r["id"]: r["z"] for r in
           spark.createDataFrame(
               [(2, 0.0, 100.0)], "id long, x double, y double")
           .withColumn("z", zorder_key(df, ["x", "y"], bits=4)).collect()}
    assert keys[2] == ref[2]
    assert keys[2] != keys[3]


def test_orc_dir_discovery(spark, db, tmp_path):
    from pandas_db_spark.sources.registry import write_orc

    write_orc(db.region.df, str(tmp_path / "region.orc"))
    d = Database(str(tmp_path), spark=spark)
    assert d.tables == ["region"]
    assert d.region.len == db.region.len
