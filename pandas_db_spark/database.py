"""Database — session + table registry over a directory of parquet/CSV (scale
path) or a SQLite ``.db/.sqlite/.sqlite3/.sql`` source (parity ingest path).

Reference: ``pandasdb/connection.py:17-99`` — holds no data, only table names
and a connection; tables exposed as attributes and ``db[name]``; raw SQL via
``db.query()``.  Here the "connection" is a SparkSession and each table is a
lazy DataFrame registered as a temp view (so ``query()`` is plain
``spark.sql`` — joins, CTEs, window functions all come with it).
"""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor
from typing import Generator

import pandas as pd
from pyspark.sql import SparkSession

from pandas_db_spark.cache import Cache
from pandas_db_spark.exceptions import ConnectionClosedWarning, InvalidTableError
from pandas_db_spark.session import get_spark
from pandas_db_spark.sources.registry import discover_tables
from pandas_db_spark.table import Table
from pandas_db_spark.utils import rename_duplicate_cols


class Database:
    def __init__(
        self,
        db_path: str,
        cache: bool = True,
        populate_cache: bool = False,
        max_item_size: int = 2,
        max_dict_size: int = 100,
        spark: SparkSession | None = None,
    ):
        # Assign via __dict__-safe object.__setattr__ pattern not needed;
        # plain attributes are fine because __getattr__ only fires on misses.
        # A caller-supplied session (e.g. the driver's) still needs the
        # runtime conf — UTC timestamps in particular, which every
        # unix_timestamp-based result depends on.  apply_runtime_conf never
        # raises and skips keys the deployment forbids.
        from pandas_db_spark.session import apply_runtime_conf
        self._spark = (apply_runtime_conf(spark) if spark is not None
                       else get_spark())
        self._path = db_path
        self._cache = Cache(cache=cache, max_item_size=max_item_size,
                            max_dict_size=max_dict_size)
        self._tables: dict[str, Table] = {}
        self.conn_open = True
        self._refresh_registry()
        if populate_cache:
            self._populate_cache_async()

    # -- registry ---------------------------------------------------------
    def _source_stamp(self):
        """Cheap change detector for the source: its mtime plus, for a
        directory, the sorted entry list — one stat and one readdir, no
        parquet footer reads.  The entry list catches a table added in
        the same mtime tick as the last listing on a coarse-granularity
        filesystem.  None (stat failure) disables memoization, so every
        miss re-lists.  Known residual: files appearing INSIDE an
        already-listed table directory don't change this stamp —
        matching the reference, whose lazy binding is also a top-level
        listing (connection.py:258-259)."""
        import os
        try:
            entries = (tuple(sorted(os.listdir(self._path)))
                       if os.path.isdir(self._path) else None)
            return os.path.getmtime(self._path), entries
        except OSError:
            return None

    def _refresh_registry(self) -> None:
        self._registry_stamp = self._source_stamp()
        dfs = discover_tables(self._spark, self._path)
        for name, df in dfs.items():
            if name not in self._tables:
                self._tables[name] = Table(df, name, self._cache)
                df.createOrReplaceTempView(name)

    def _maybe_refresh_registry(self) -> None:
        """Re-list the source only if it changed since the last listing,
        so a bare ``hasattr`` probe / autocomplete on a missing name does
        not trigger a filesystem scan + parquet footer reads every
        time."""
        stamp = self._source_stamp()
        if stamp is None or stamp != self._registry_stamp:
            self._refresh_registry()

    @property
    def tables(self) -> list[str]:
        return list(self._tables)

    @property
    def views(self) -> list[str]:
        """Permanent views in the session catalog.  This engine performs no
        view chaining (lazy DataFrames replace the reference's temp-view
        machinery, SURVEY §2.2), so this lists only user-created catalog
        views — usually empty."""
        return [
            t.name for t in self._spark.catalog.listTables()
            if t.tableType == "VIEW"
        ]

    @property
    def temp_tables(self) -> list[str]:
        """The reference's temp *tables* (connection.py:134-141) have no
        Spark analogue (global temp views are listed under temp_views)."""
        return []

    @property
    def temp_views(self) -> list[str]:
        """Temporary views registered in this session — includes the one
        view per table this Database registers for ``query()``."""
        return [
            t.name for t in self._spark.catalog.listTables()
            if t.tableType == "TEMPORARY"
        ]

    def get_columns(self, table_name: str) -> list[str]:
        if table_name not in self._tables:
            raise InvalidTableError(f"No such table: {table_name}")
        return self._tables[table_name].columns

    def items(self) -> Generator[tuple[str, Table], None, None]:
        yield from self._tables.items()

    def __len__(self) -> int:
        return len(self._tables)

    # -- access -------------------------------------------------------------
    def __getattr__(self, item: str) -> Table:
        # Fires only on attribute miss — name collisions with real attributes
        # keep dict access working (reference connection.py:244-245).
        if item.startswith("_"):
            raise AttributeError(item)
        tables = object.__getattribute__(self, "_tables")
        if item in tables:
            return tables[item]
        # Lazy binding of tables created after init (connection.py:258-259);
        # mtime-guarded so repeated misses don't re-list the directory.
        self._maybe_refresh_registry()
        if item in self._tables:
            return self._tables[item]
        raise AttributeError(f"No such table: {item}")

    def __getitem__(self, item: str) -> Table:
        if item in self._tables:
            return self._tables[item]
        self._maybe_refresh_registry()
        if item in self._tables:
            return self._tables[item]
        raise InvalidTableError(f"No such table: {item}")

    # -- raw SQL ---------------------------------------------------------------
    def query(self, sql: str, rename_duplicates: bool = True) -> pd.DataFrame:
        """Arbitrary SQL over the registered tables → pandas DataFrame, with
        positional duplicate-column renaming ``a,a→a,a_2``
        (reference connection.py:168-189)."""
        self._check_open()
        result = self._spark.sql(sql)
        if rename_duplicates:
            result = result.toDF(*rename_duplicate_cols(list(result.columns)))
        return result.toPandas()

    def sql(self, sql: str):
        """Lazy variant of :meth:`query` — returns the Spark DataFrame."""
        self._check_open()
        return self._spark.sql(sql)

    def _check_open(self) -> None:
        """Queries after :meth:`exit` raise the reference's exact error
        (``sqlite3.ProgrammingError('Cannot operate on a closed database.')``,
        tests/test_connection.py:165-185) — stdlib type, same contract."""
        if not self.conn_open:
            import sqlite3

            raise sqlite3.ProgrammingError("Cannot operate on a closed database.")

    # -- cache warming -----------------------------------------------------------
    def _warm_table(self, table: Table) -> None:
        # Reference warms len/type/min/max/describe per column, plus
        # mode/unique/value_counts for small str/int columns (cache.py:94-125).
        n = table.len
        for _, col in table.items():
            col.describe()
            if n < 1_000_000 and col.type in (str, int):
                col.value_counts()
                col.unique()
                col.mode()

    def _populate_cache_async(self) -> None:
        def run():
            with ThreadPoolExecutor(max_workers=min(8, max(1, len(self._tables)))) as ex:
                list(ex.map(self._warm_table, self._tables.values()))
            self._cache.is_ready = True

        import threading
        threading.Thread(target=run, daemon=True).start()

    @property
    def cache(self) -> Cache:
        return self._cache

    # -- lifecycle -----------------------------------------------------------------
    def exit(self) -> None:
        """Release the registry.  Double close warns (reference
        connection.py:191-228).  The SparkSession itself is shared/global, so
        it is NOT stopped here."""
        if not self.conn_open:
            warnings.warn("Connection already closed", ConnectionClosedWarning)
            return
        self.conn_open = False
        self._tables.clear()
        self._cache.clear()

    def __enter__(self) -> "Database":
        return self

    def __exit__(self, *exc) -> None:
        self.exit()

    def __del__(self) -> None:
        """Close on garbage collection if the user forgot (reference
        connection.py:210-217).  Guarded getattr: GC can run on an instance
        whose __init__ failed before conn_open existed, and __del__ must
        never raise."""
        try:
            if getattr(self, "conn_open", False):
                self.exit()
        except Exception:
            pass

    def __repr__(self) -> str:
        return f"Database(path={self._path!r}, tables={self.tables})"
