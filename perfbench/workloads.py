"""Workload definitions: the seeded façade call script and the seeded
registry query orders. Pure Python — no Spark, no I/O — so the scripts are
testable and the program under test receives only the generated inputs.

A façade call is a tuple ``(kind, *args)`` of plain values:

- ``("agg", table, column, op)``         op in min/max/sum/avg/median
- ``("summary", table, column, op)``     op in value_counts/unique/mode/describe
- ``("filter_len", table, preds)``       ``Expression`` filter, then ``.len``
- ``("top", table, column, asc, n)``     ``sort_values().limit(n).data()``
- ``("iloc", table, column, pos)``       ``table[column].iloc[pos]``
- ``("query", sql)``                     ``Database.query`` over 2-3 tables

``preds`` is a tuple of ``(column, op, value)`` ANDed together, op in
``> < >= <= == between``.
"""

from __future__ import annotations

import random

# Registry queries whose wall time is mostly eager jobs inside the query
# function: per-round checkpoints and convergence collects (graph), and
# micro-batch drains with store appends (streaming).
ITERATIVE = ("graph_hits", "graph_bfs", "events_value_qsummary")

# Registry queries whose wall time is mostly the final action: executor CPU
# over single-row-group scans, several through Arrow Python workers.
SCAN = ("gopher_repetition", "classifier_score", "strip_repeated_lines",
        "c4_rules", "gopher_rules", "text_quality", "url_screen")

# One batch workload holds both families: a run is one cold pass, so JIT
# and codegen warm-up is paid once, as a batch process pays it. The scan
# family runs first: an iterative query's hundred small jobs run up to twice
# as fast in a warm JVM, so letting the seed move it to the front would make
# the pass time depend on the seed.
BATCH = {"registry_ops": (SCAN, ITERATIVE)}

# Façade schema the script draws from: numeric columns with a value range
# for filter thresholds, and low-cardinality columns for summaries and iloc.
_NUMERIC = {
    "orders": {"o_totalprice": (1000.0, 500000.0), "o_custkey": (0, 15000),
               "o_orderkey": (0, 150000)},
    "lineitem": {"l_quantity": (1, 50), "l_extendedprice": (900.0, 105000.0),
                 "l_discount": (0.0, 0.1), "l_tax": (0.0, 0.08),
                 "l_partkey": (0, 20000), "l_suppkey": (0, 1000)},
    "customer": {"c_acctbal": (-999.99, 9999.99), "c_nationkey": (0, 24),
                 "c_custkey": (0, 15000)},
    "events": {"value": (0.0, 300.0), "user_id": (0, 1500),
               "event_id": (0, 100000)},
}
_CATEGORICAL = {
    "orders": ("o_orderstatus", "o_orderpriority"),
    "customer": ("c_mktsegment", "c_nationkey"),
    "events": ("event_type", "user_id"),
}
_EQUALS = {"orders": ("o_orderstatus", ("F", "O", "P")),
           "lineitem": ("l_returnflag", ("A", "N", "R")),
           "customer": ("c_mktsegment", ("AUTOMOBILE", "BUILDING", "HOUSEHOLD")),
           "events": ("event_type", ("click", "error", "purchase", "view"))}
_TEXT_MINMAX = {"orders": "o_orderpriority", "customer": "c_name",
                "events": "event_type", "lineitem": "l_returnflag"}
_JOINS = (
    "SELECT o_orderstatus, c_mktsegment, count(*) AS n, "
    "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM orders "
    "JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = {k} "
    "GROUP BY 1, 2",
    "SELECT n_name, count(*) AS n, max(c_acctbal) AS top FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey JOIN region "
    "ON n_regionkey = r_regionkey WHERE r_regionkey = {r} GROUP BY 1",
    "SELECT l_returnflag, count(*) AS n, min(o_totalprice) AS lo "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_custkey < {c} GROUP BY 1",
)
_TABLE_ROWS = {"orders": 150_000, "customer": 15_000, "events": 100_000}

# Share of each kind among the distinct calls and among the repeats. Tables
# and aggregate ops are dealt round-robin within a kind, so that only
# columns, thresholds, positions and order depend on the seed.
KIND_MIX = (("agg", 7), ("summary", 3), ("filter_len", 4), ("top", 2),
            ("iloc", 1), ("query", 1))
REPEAT_SHARE = 0.25
_TABLES = ("orders", "lineitem", "customer", "events")
# Summaries and iloc skip lineitem: on its 600k rows a mode or an ordinal
# pass costs several times any other call, and a handful of them would set
# the session's p95 on their own.
_SMALL_TABLES = ("orders", "customer", "events")
_AGG_OPS = ("min", "max", "sum", "avg", "median")
_SUMMARY_OPS = ("value_counts", "unique", "mode", "describe")


def _split(n: int, weights) -> list[int]:
    """``n`` split in proportion to ``weights``, largest remainders first."""
    total = sum(weights)
    exact = [n * w / total for w in weights]
    out = [int(x) for x in exact]
    for i in sorted(range(len(exact)), key=lambda i: out[i] - exact[i])[:n - sum(out)]:
        out[i] += 1
    return out


def _threshold(rng: random.Random, lo, hi):
    if isinstance(lo, int):
        return rng.randint(lo, hi)
    return round(rng.uniform(lo, hi), 2)


def _call(kind: str, i: int, rng: random.Random) -> tuple:
    """The i-th distinct call of ``kind``."""
    tables = _SMALL_TABLES if kind in ("summary", "iloc") else _TABLES
    table = tables[i % len(tables)]
    numeric = _NUMERIC[table]
    if kind == "agg":
        op = _AGG_OPS[(i // len(tables)) % len(_AGG_OPS)]
        if op in ("min", "max") and rng.random() < 0.3:
            return ("agg", table, _TEXT_MINMAX[table], op)
        return ("agg", table, rng.choice(sorted(numeric)), op)
    if kind == "summary":
        op = _SUMMARY_OPS[(i // len(tables)) % len(_SUMMARY_OPS)]
        col = (rng.choice(sorted(numeric)) if op == "describe" and rng.random() < 0.5
               else rng.choice(_CATEGORICAL[table]))
        return ("summary", table, col, op)
    if kind == "filter_len":
        cols = rng.sample(sorted(numeric), k=rng.randint(1, 2))
        preds = []
        for c in cols:
            lo, hi = numeric[c]
            op = rng.choice((">", "<", ">=", "<=", "between"))
            if op == "between":
                a, b = sorted((_threshold(rng, lo, hi), _threshold(rng, lo, hi)))
                preds.append((c, op, (a, b)))
            else:
                preds.append((c, op, _threshold(rng, lo, hi)))
        if rng.random() < 0.4:
            col, values = _EQUALS[table]
            preds.append((col, "==", rng.choice(values)))
        return ("filter_len", table, tuple(preds))
    if kind == "top":
        return ("top", table, rng.choice(sorted(numeric)), rng.random() < 0.5,
                rng.choice((5, 10, 20)))
    if kind == "iloc":
        col = rng.choice(sorted(numeric) + list(_CATEGORICAL[table]))
        return ("iloc", table, col, rng.randrange(_TABLE_ROWS[table]))
    if kind == "query":
        sql = _JOINS[i % len(_JOINS)]
        return ("query", sql.format(k=rng.randint(0, 24), r=rng.randint(0, 4),
                                    c=rng.randint(100, 3000)))
    raise ValueError(kind)


def facade_script(seed: int, n_calls: int) -> list[tuple]:
    """``n_calls`` façade calls, REPEAT_SHARE of them exact repeats of an
    earlier call of the same kind. The kind mix, the tables and ops per
    kind, and the repeat count per kind do not depend on the seed."""
    rng = random.Random(seed)
    n_repeat = round(n_calls * REPEAT_SHARE)
    weights = [w for _, w in KIND_MIX]
    distinct = []
    for (kind, _), n in zip(KIND_MIX, _split(n_calls - n_repeat, weights)):
        seen: set[tuple] = set()
        for i in range(n):
            # A (table, op) cell with few columns can run out of distinct
            # calls; the next cell then takes the call.
            for j in range(i, i + 1000):
                call = _call(kind, j, rng)
                if call not in seen:
                    break
            else:
                raise ValueError(f"no distinct {kind} call left for call {i}")
            seen.add(call)
            distinct.append(call)
    rng.shuffle(distinct)
    script = list(distinct)
    for (kind, _), n in zip(KIND_MIX, _split(n_repeat, weights)):
        tables = _SMALL_TABLES if kind in ("summary", "iloc") else _TABLES
        for r in range(n):
            table = tables[r % len(tables)]
            call = rng.choice([c for c in distinct if c[0] == kind
                               and (kind == "query" or c[1] == table)])
            script.insert(rng.randint(script.index(call) + 1, len(script)), call)
    return script


def freeze(obj):
    """A call decoded from JSON (lists) back into its tuple form."""
    if isinstance(obj, list):
        return tuple(freeze(x) for x in obj)
    return obj


def batch_order(workload: str, seed: int) -> list[str]:
    """The workload's registry queries, each family in a seeded order."""
    rng = random.Random(seed)
    order = []
    for family in BATCH[workload]:
        names = list(family)
        rng.shuffle(names)
        order += names
    return order
