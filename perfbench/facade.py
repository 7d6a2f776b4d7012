"""Façade calls: how each scripted call runs through the public
``Database``/``Table``/``Column``/``Expression``/``iloc`` surface, and the
DuckDB query that gives its expected value on the same parquet files."""

from __future__ import annotations

import functools
import operator

# The layer a call enters first, as named in the traced run's spans.
LAYER = {"agg": "column.agg", "summary": "column.summary",
         "filter_len": "table.transform", "top": "table.transform",
         "iloc": "iloc", "query": "database.query"}

_CMP = {">": operator.gt, "<": operator.lt, ">=": operator.ge,
        "<=": operator.le, "==": operator.eq}


def _expression(table, preds):
    parts = []
    for col, op, value in preds:
        c = table[col]
        parts.append(c.between(*value) if op == "between" else _CMP[op](c, value))
    return functools.reduce(operator.and_, parts)


def run_call(db, call: tuple):
    """Execute one scripted call; the return value is what the oracle
    checks."""
    kind = call[0]
    if kind in ("agg", "summary"):
        _, table, col, op = call
        return getattr(db[table][col], op)()
    if kind == "filter_len":
        _, table, preds = call
        t = db[table]
        return t[_expression(t, preds)].len
    if kind == "top":
        _, table, col, asc, n = call
        t = db[table]
        i = t.columns.index(col)
        return [row[i] for row in t.sort_values(col, ascending=asc).limit(n).data()]
    if kind == "iloc":
        _, table, col, pos = call
        return db[table][col].iloc[pos]
    if kind == "query":
        df = db.query(call[1])
        return list(df.columns), [tuple(r) for r in df.itertuples(index=False)]
    raise ValueError(kind)


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _where(preds) -> str:
    return " AND ".join(
        f"{c} BETWEEN {_lit(v[0])} AND {_lit(v[1])}" if op == "between"
        else f"{c} {'=' if op == '==' else op} {_lit(v)}"
        for c, op, v in preds)


def expected(con, call: tuple):
    """The oracle's value for ``call``, shaped like ``run_call``'s result."""
    kind = call[0]

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def rows(sql):
        return con.execute(sql).fetchall()

    if kind == "agg":
        _, table, col, op = call
        return one(f"SELECT {op}({col}) FROM {table}")
    if kind == "summary":
        _, table, col, op = call
        if op == "value_counts":
            return dict(rows(f"SELECT {col}, count(*) FROM {table} "
                             f"WHERE {col} IS NOT NULL GROUP BY 1"))
        if op == "unique":
            return [r[0] for r in rows(f"SELECT DISTINCT {col} FROM {table}")]
        if op == "mode":
            return dict(rows(
                f"WITH c AS (SELECT {col} AS v, count(*) AS n FROM {table} GROUP BY 1) "
                f"SELECT v, n FROM c WHERE n = (SELECT max(n) FROM c)"))
        dtype = con.execute(f"SELECT typeof({col}) FROM {table} LIMIT 1").fetchone()[0]
        if dtype == "VARCHAR":
            keys = ("len", "count", "min", "max", "unique")
            sel = f"count(*), count({col}), min({col}), max({col}), count(DISTINCT {col})"
        else:
            keys = ("len", "count", "min", "max", "sum", "avg", "median")
            sel = (f"count(*), count({col}), min({col}), max({col}), sum({col}), "
                   f"avg({col}), median({col})")
        return dict(zip(keys, rows(f"SELECT {sel} FROM {table}")[0]))
    if kind == "filter_len":
        _, table, preds = call
        return one(f"SELECT count(*) FROM {table} WHERE {_where(preds)}")
    if kind == "top":
        _, table, col, asc, n = call
        return [r[0] for r in rows(f"SELECT {col} FROM {table} ORDER BY {col} "
                                   f"{'ASC' if asc else 'DESC'} LIMIT {n}")]
    if kind == "iloc":
        _, table, col, pos = call
        return one(f"SELECT {col} FROM {table} LIMIT 1 OFFSET {pos}")
    if kind == "query":
        cur = con.execute(call[1])
        return [d[0] for d in cur.description], cur.fetchall()
    raise ValueError(kind)
