"""Table — a handle on one table: a lazy ``pyspark.sql.DataFrame`` plus a
name and memo cache.

Reference: ``pandasdb/table.py:109-127`` (stores only conn + name + Column
dict; every transform stacks a SQLite temp view, ``table.py:331-353``).  Here
the DataFrame's logical plan replaces the view chain one-for-one — Catalyst
flattens filter→sort→limit stacks exactly like SQLite's planner inlined views
(SURVEY.md §3.2), so ``TableView`` needs no separate class: every transform
just returns a new ``Table``.

Beyond reference parity (its own TODO, README.md:643) this Table also exposes
``groupby``, ``join`` (broadcast-aware), and set ops — straight Spark, no
custom machinery.
"""

from __future__ import annotations

import random
from typing import Any, Callable, Generator, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_db_spark.cache import Cache, _plan_key
from pandas_db_spark.column import Column
from pandas_db_spark.exceptions import InvalidColumnError
from pandas_db_spark.expression import Expression
from pandas_db_spark.iloc import IndexLoc


class Table:
    def __init__(self, df: DataFrame, name: str, cache: Cache | None = None):
        self._df = df
        self._name = name
        self._cache = cache if cache is not None else Cache()

    # -- identity / metadata ------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """The underlying lazy DataFrame (the escape hatch to full Spark)."""
        return self._df

    @property
    def name(self) -> str:
        return self._name

    @property
    def columns(self) -> list[str]:
        return list(self._df.columns)

    def items(self) -> Generator[tuple[str, Column], None, None]:
        for c in self.columns:
            yield c, self._get_col(c)

    @property
    def len(self) -> int:
        key = (_plan_key(self._df), self._name, "table_len")
        return self._cache.memo(key, lambda: self._df.count())

    def __len__(self) -> int:
        return self.len

    @property
    def shape(self) -> tuple[int, int]:
        return self.len, len(self.columns)

    def describe(self) -> dict[str, dict]:
        """Per-column describe (reference table.py:169-175)."""
        return {name: col.describe() for name, col in self.items()}

    def __hash__(self) -> int:
        return hash((self._name,))

    # -- column access --------------------------------------------------------
    def _get_col(self, name: str) -> Column:
        if name not in self._df.columns:
            raise KeyError(f"No such Column: {name!r} in table {self._name!r}")
        return Column(self._df, name, self._name, self._cache)

    def __getattr__(self, item: str) -> Column:
        # Only called when normal attribute lookup fails → treat as column.
        if item.startswith("_"):
            raise AttributeError(item)
        try:
            return self._get_col(item)
        except KeyError as exc:
            raise AttributeError(str(exc)) from exc

    def __getitem__(self, item):
        if isinstance(item, str):
            return self._get_col(item)
        if isinstance(item, Expression):
            return self.filter(item)
        if isinstance(item, list):
            missing = [c for c in item if c not in self._df.columns]
            if missing:
                raise InvalidColumnError(
                    f"No such columns: {missing} in table {self._name!r}"
                )
            return Table(self._df.select(*item), self._name, self._cache)
        # Message pinned to the reference (tests/test_table.py:399-403);
        # lists are accepted too (column slice) but the reference's message
        # names only the scalar forms.
        raise TypeError(
            f"Argument must be of type str or Expression. not: {type(item)}"
        )

    # -- transforms (lazy) ------------------------------------------------------
    def filter(self, expression: Expression) -> "Table":
        if not isinstance(expression, Expression):
            raise TypeError(f"expression must be an Expression, got {type(expression)}")
        if expression.table != self._name:
            raise ValueError(
                f"Cannot filter table {self._name!r} with an expression "
                f"bound to table {expression.table!r}"
            )
        return Table(self._df.filter(expression.condition), self._name, self._cache)

    def sort_values(self, column, ascending: bool = True) -> "Table":
        """Sort by a column name (+ asc flag), a list of names (all ASC), or a
        dict {col: 'ASC'|'DESC'} (reference table.py:286-318)."""
        if isinstance(column, str):
            spec = {column: "ASC" if ascending else "DESC"}
        elif isinstance(column, list):
            spec = {c: "ASC" for c in column}
        elif isinstance(column, dict):
            spec = {c: d.upper() for c, d in column.items()}
        else:
            # Message pinned to the reference (tests/test_table.py:286-290).
            raise TypeError(
                f"column parameter must be str, list, or dict, not: {type(column)}"
            )
        for c, d in spec.items():
            if c not in self._df.columns:
                raise InvalidColumnError(f"No such Column: {c!r}")
            if d not in ("ASC", "DESC"):
                raise ValueError(f"Sort direction must be ASC or DESC, got {d!r}")
        order = [F.col(c).asc() if d == "ASC" else F.col(c).desc()
                 for c, d in spec.items()]
        return Table(self._df.orderBy(*order), self._name, self._cache)

    def limit(self, n: int) -> "Table":
        """First n rows in current order (reference ``WHERE _rowid_ <= n``,
        table.py:320-329; stable for deterministic sources — SURVEY §2.7)."""
        return Table(self._df.limit(n), self._name, self._cache)

    def sample(self, n: int = 10) -> "Table":
        """Exact-n uniform sample (reference ``ORDER BY RANDOM() LIMIT n``,
        table.py:195-203) — executed as distributed top-n on a random key."""
        seed = random.randint(0, 2**31 - 1)
        return Table(self._df.orderBy(F.rand(seed)).limit(n), self._name, self._cache)

    def applymap(self, func: Callable, *, ignore_na: bool = True,
                 returnType=None, args: tuple = (),
                 **kwargs: Any) -> Generator[tuple, None, None]:
        """Apply a function to every cell (reference table.py:211-234).
        Computed distributed via Arrow-batched pandas UDFs per column, then
        streamed as row tuples."""
        new_df = self._applymap_df(func, ignore_na=ignore_na,
                                   returnType=returnType, args=args, **kwargs)
        for row in new_df.toLocalIterator():
            yield tuple(row)

    def _applymap_df(self, func: Callable, *, ignore_na: bool = True,
                     returnType=None, args: tuple = (), **kwargs: Any) -> DataFrame:
        out = self._df
        for c in self.columns:
            col = Column(out, c, self._name, self._cache)
            out = col.apply_column(func, ignore_na=ignore_na,
                                   returnType=returnType, args=args, **kwargs)._df
        return out

    # -- beyond-parity relational ops --------------------------------------------
    def groupby(self, *cols: str):
        """Native group-by — the reference's unchecked TODO (README.md:643)."""
        return self._df.groupBy(*cols)

    def join(self, other: "Table", on, how: str = "inner",
             broadcast_other: bool | None = None) -> "Table":
        """Equi/outer/semi/anti join.  ``broadcast_other=None`` auto-broadcasts
        when the other side is a known small dimension; Catalyst+AQE otherwise
        picks hash/sort-merge."""
        right = other._df
        if broadcast_other:
            right = F.broadcast(right)
        return Table(self._df.join(right, on=on, how=how),
                     f"{self._name}_join_{other._name}", self._cache)

    def union(self, other: "Table") -> "Table":
        return Table(self._df.unionByName(other._df), self._name, self._cache)

    def intersect(self, other: "Table") -> "Table":
        return Table(self._df.intersect(other._df), self._name, self._cache)

    def except_(self, other: "Table") -> "Table":
        return Table(self._df.exceptAll(other._df), self._name, self._cache)

    def drop_duplicates(self, subset: list[str] | None = None) -> "Table":
        """Row dedup (beyond parity).  With no ``subset`` this is exact
        distinct — deterministic set semantics, one hash shuffle on all
        columns.  With ``subset`` Spark keeps an arbitrary row per key
        (plan/partition dependent) — prefer an explicit keep rule via
        ``operators.dedup.keep_first`` when determinism matters."""
        df = (self._df.distinct() if subset is None
              else self._df.dropDuplicates(subset))
        return Table(df, self._name, self._cache)

    # -- beyond-parity analytics delegates ---------------------------------------
    # Thin façade over operators/reshape.py so reference users discover
    # the extended surface from the object they already hold; full
    # parameter docs live on the operator functions.

    def pivot(self, key_cols: list[str], pivot_col: str,
              values: list) -> "Table":
        from pandas_db_spark.operators.reshape import pivot_agg
        return Table(pivot_agg(self._df, key_cols, pivot_col, values),
                     self._name, self._cache)

    def top_k(self, group_cols: list[str], order_col: str, k: int,
              desc: bool = True,
              tiebreak_cols: list[str] | None = None) -> "Table":
        from pandas_db_spark.operators.reshape import top_k_per_group
        return Table(top_k_per_group(self._df, group_cols, order_col, k,
                                     desc, tiebreak_cols or ()),
                     self._name, self._cache)

    def upsert(self, updates: "Table", key_cols) -> "Table":
        from pandas_db_spark.operators.reshape import upsert
        return Table(upsert(self._df, updates._df, key_cols),
                     self._name, self._cache)

    def winsorize(self, value_col: str, p_lo: float = 0.01,
                  p_hi: float = 0.99) -> "Table":
        from pandas_db_spark.operators.reshape import winsorize
        return Table(winsorize(self._df, value_col, p_lo, p_hi),
                     self._name, self._cache)

    def melt(self, id_cols: list[str], value_cols: list[str],
             var_name: str = "variable",
             value_name: str = "value") -> "Table":
        from pandas_db_spark.operators.reshape import melt
        return Table(melt(self._df, id_cols, value_cols, var_name,
                          value_name), self._name, self._cache)

    def rolling(self, key_cols, order_col: str, value_col: str, n: int,
                tiebreak_cols: list[str] | None = None) -> "Table":
        from pandas_db_spark.operators.rolling import rolling_rows
        return Table(rolling_rows(self._df, key_cols, order_col,
                                  value_col, n, tiebreak_cols or ()),
                     self._name, self._cache)

    def corr(self, cols: list[str]) -> "Table":
        from pandas_db_spark.operators.stats import corr_matrix
        return Table(corr_matrix(self._df, cols), self._name, self._cache)

    def check(self, rules) -> "Table":
        from pandas_db_spark.operators.quality import check_expectations
        return Table(check_expectations(self._df, rules), self._name,
                     self._cache)

    def resample(self, by, ts_col: str, step_s: int,
                 tolerance_s: int | None = None) -> "Table":
        from pandas_db_spark.operators.temporal import resample_ffill
        by = [by] if isinstance(by, str) else list(by)
        return Table(resample_ffill(self._df, by, ts_col, step_s,
                                    tolerance_s), self._name, self._cache)

    def history(self, by, ts_col: str, attr_cols: list[str]) -> "Table":
        from pandas_db_spark.operators.temporal import history_intervals
        by = [by] if isinstance(by, str) else list(by)
        return Table(history_intervals(self._df, by, ts_col, attr_cols),
                     self._name, self._cache)

    def heavy_hitters(self, col: str, k: int = 20) -> "Table":
        from pandas_db_spark.operators.reshape import heavy_hitters
        return Table(heavy_hitters(self._df, col, k), self._name,
                     self._cache)

    # -- actions -----------------------------------------------------------------
    def data(self, limit: int | None = None) -> list[tuple]:
        df = self._df if limit is None else self._df.limit(limit)
        return [tuple(row) for row in df.collect()]

    def to_df(self) -> pd.DataFrame:
        return self._df.toPandas()

    def __iter__(self):
        for row in self._df.toLocalIterator():
            yield tuple(row)

    @property
    def iloc(self) -> IndexLoc:
        return IndexLoc(self._df, scalar=False)

    def equals(self, other: "Table") -> bool:
        """Shape check then ordered row-wise compare (reference
        table.py:480-495 compares *in order*).

        Executed distributed: both sides get a shuffle-free ordinal, are
        joined on it, and only the mismatch count crosses to the driver —
        round 1 streamed both full tables through ``toLocalIterator``,
        a driver bottleneck at scale."""
        if not isinstance(other, Table):
            raise TypeError(f"other must be a Table, got {type(other)}")
        if self.shape != other.shape:
            return False
        if self.columns != other.columns:
            return False
        from pandas_db_spark.plans.ordinal import (ORDINAL_COL,
                                                   with_ordinal_and_count)
        a, _ = with_ordinal_and_count(self._df)
        b, _ = with_ordinal_and_count(other._df)
        cols = self.columns
        a = a.select(ORDINAL_COL, *[F.col(c).alias(f"__a_{c}") for c in cols])
        b = b.select(ORDINAL_COL, *[F.col(c).alias(f"__b_{c}") for c in cols])
        joined = a.join(b, ORDINAL_COL)
        neq = None
        for c in cols:
            cond = ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
            neq = cond if neq is None else (neq | cond)
        return joined.filter(neq).isEmpty()

    def _repr_df(self) -> pd.DataFrame:
        """First 10 + last 10 rows without a full scan (reference
        table.py:445-478).  Tail via native ``DataFrame.tail`` (last
        partitions only — no ordinal synthesis, no shuffle)."""
        n = self.len
        if n <= 20:
            return self.to_df()
        head = self._df.limit(10).toPandas()
        tail_rows = [tuple(r) for r in self._df.tail(10)]
        tail = pd.DataFrame(tail_rows, columns=self.columns)
        out = pd.concat([head, tail], ignore_index=True)
        out.index = list(range(10)) + list(range(n - 10, n))
        return out

    def __repr__(self) -> str:
        return repr(self._repr_df())

    def _repr_html_(self) -> str:
        return self._repr_df()._repr_html_()

    def shuffle(self, key_col: str, seed: str = "0") -> "Table":
        """Deterministic epoch shuffle delegate (operators/sampling.
        epoch_shuffle): adds a 1-based ``pos`` global position from the
        md5(key:seed) order — reproducible across runs and engines."""
        from pandas_db_spark.operators.sampling import epoch_shuffle
        return Table(epoch_shuffle(self._df, key_col, seed),
                     self._name, self._cache)

    def sessionize(self, gap_minutes: int = 30) -> "Table":
        """Session labels delegate (operators/funnel.sessionize) for
        event tables carrying user_id/ts."""
        from pandas_db_spark.operators.funnel import sessionize
        return Table(sessionize(self._df, gap_minutes=gap_minutes),
                     self._name, self._cache)
