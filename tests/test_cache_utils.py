"""Cache + utils tests (reference model: tests/test_cache.py, tests/test_utils.py)."""

import pytest

from pandas_db_spark.cache import MB, Cache
from pandas_db_spark.expression import Expression
from pandas_db_spark.utils import concat, normalize_col, rename_duplicate_cols


def test_cache_hit_and_miss():
    c = Cache()
    calls = []

    def compute():
        calls.append(1)
        return 42

    assert c.memo("k", compute) == 42
    assert c.memo("k", compute) == 42
    assert len(calls) == 1
    assert "k" in c


def test_cache_item_size_gate():
    c = Cache(max_item_size=1)  # 1 MB
    big = "x" * (2 * MB)
    c.put("big", big)
    assert "big" not in c
    c.put("small", "y")
    assert "small" in c


def test_cache_total_size_gate():
    c = Cache(max_item_size=1, max_dict_size=1)
    chunk = "x" * (600 * 1024)
    c.put("a", chunk)
    c.put("b", chunk)  # would exceed 1 MB total
    assert "a" in c and "b" not in c


def test_cache_put_is_atomic_under_threads():
    """Concurrent puts of overlapping keys (the populate_cache thread
    pool's access pattern) store each key once and keep ``_size`` equal
    to the sum of the stored values' sizes.  A tiny thread switch
    interval makes the threads interleave inside ``put``."""
    import sys
    import threading

    from pandas_db_spark.cache import deep_sizeof

    c = Cache()
    barrier = threading.Barrier(8)

    def worker(t):
        barrier.wait()
        for i in range(2000):
            c.put(i % 300, [t, i, "v" * (i % 7)])

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(old)
    assert len(c) == 300
    assert c._size == sum(deep_sizeof(c.get(k)) for k in range(300))


def test_cache_disabled():
    c = Cache(cache=False)
    c.put("k", 1)
    assert "k" not in c
    assert c.memo("k", lambda: 7) == 7
    assert "k" not in c


def test_rename_duplicate_cols():
    # a,b,a → a,b,a_2 — reference tests/test_utils.py:152-161
    assert rename_duplicate_cols(["a", "b", "a"]) == ["a", "b", "a_2"]
    assert rename_duplicate_cols(["a", "a", "a"]) == ["a", "a_2", "a_3"]
    assert rename_duplicate_cols(["x"]) == ["x"]


def test_concat():
    out = list(concat(["a", "b"], "-", ["c", "d"], sep=""))
    assert out == ["a-c", "b-d"]
    out = list(concat(["x", "y"], ["1", "2"], sep=" "))
    assert out == ["x 1", "y 2"]


def test_normalize_col():
    assert normalize_col(" Fav Color ") == "fav_color"
    assert normalize_col("A-B") == "a_b"


def test_expression_requires_column_or_str():
    # reference tests/test_expression.py:8-13: non-str payloads raise
    # TypeError at construction
    with pytest.raises(TypeError):
        Expression(["a", "b", "c"], "region")
    with pytest.raises(TypeError):
        Expression(12345, "region")


def test_expression_raw_sql_fragment(db):
    """Reference pandasdb/table.py:256-259: a manual SQL fragment is a
    first-class Expression payload, composable with operator-built
    predicates under the same-table guard
    (reference tests/test_expression.py:14-29)."""
    from pandas_db_spark.exceptions import ExpressionError

    o = db.orders
    raw = Expression("o_totalprice BETWEEN 1000 AND 50000", "orders")
    got = o.filter(raw).shape[0]
    want = o.filter((o.o_totalprice >= 1000)
                    & (o.o_totalprice <= 50000)).shape[0]
    assert got == want > 0
    # composes with operator-built predicates on the same table...
    both = o.filter(raw & (o.o_orderstatus == "F")).shape[0]
    assert 0 < both <= got
    # ...but keeps the cross-table and non-Expression guards
    with pytest.raises(ExpressionError,
                       match="different tables"):
        raw & (db.customer.c_acctbal > 0)
    with pytest.raises(ExpressionError,
                       match="must be an instance of Expression"):
        raw & "o_orderkey IN (1, 2, 3)"
    # bad fragments surface Spark's analysis error at filter time
    with pytest.raises(Exception):
        o.filter(Expression("no_such_col > 1", "orders")).shape


def test_expression_cross_table_guard(db):
    a = db.orders.o_totalprice > 0
    b = db.customer.c_acctbal > 0
    with pytest.raises(ValueError):
        a & b
    with pytest.raises(ValueError):
        a | b
    combined = a & (db.orders.o_orderkey > 10)
    assert combined.table == "orders"
    assert (~a).table == "orders"
