"""Table discovery & ingestion.

The reference accepts ``.db/.sqlite/.sqlite3`` files directly and materializes
``.sql`` scripts into a throwaway db (``pandasdb/connection.py:58-78``,
``utils.py:242-252``), with CSV ingest as a utility (``utils.py:214-239``).

Our scale path is a **directory of parquet** (one file/dataset per table) —
``spark.read.parquet`` gives vectorized scans, predicate pushdown, column
pruning and partition pruning for free.  SQLite/.sql sources are supported for
parity via a one-time stdlib-``sqlite3`` → Arrow → DataFrame ingest (the
reference was single-node; these sources are inherently driver-local, so this
is an ingest step, not the query path).
"""

from __future__ import annotations

import os
import sqlite3
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_db_spark.exceptions import FileTypeError
from pandas_db_spark.streaming.sink import hadoop_fs
from pandas_db_spark.utils import normalize_col

SUPPORTED_FILE_EXTENSIONS = (".sql", ".db", ".sqlite", ".sqlite3")


def _first_data_file(path: str) -> str:
    """``path`` itself, or for a directory dataset the first data file of a
    sorted walk that skips Spark's hidden ``_``/``.`` names."""
    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return path


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Top-level columns stored as INT64 TIMESTAMP(NANOS), which Spark
    cannot infer a type for (PARQUET_TYPE_ILLEGAL).  Reads the parquet
    footer schema, not the arrow one: arrow reports INT96 timestamps as
    ``timestamp[ns]`` too, and Spark reads those natively."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        schema = pq.read_metadata(_first_data_file(path)).schema
    except (OSError, pa.ArrowException):
        return []  # not a local parquet footer: Spark's own read decides
    cols = (schema.column(i) for i in range(len(schema)))
    return [c.name for c in cols
            if c.path == c.name and c.physical_type == "INT64"
            and c.logical_type.type == "TIMESTAMP"
            and json.loads(c.logical_type.to_json())["timeUnit"]
            == "nanoseconds"]


def _read_schema(spark: SparkSession, path: str, ns_cols: list[str]):
    """The schema Spark infers for ``path``, with ``ns_cols`` as ``long``.

    Only the inference needs ``spark.sql.legacy.parquet.nanosAsLong``; a
    read given this schema returns the longs without it.  So the conf is
    set in a fresh session that carries the caller's modifiable
    ``spark.sql.*`` settings, and the caller's session is never written."""
    if not ns_cols:
        return spark.read.parquet(path).schema
    iso = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if k.startswith("spark.sql.") and spark.conf.isModifiable(k):
            iso.conf.set(k, v)
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return iso.read.parquet(path).schema


def _nanos_to_ntz(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """Long epoch nanos → ``timestamp_ntz`` via integer ``div 1000`` +
    ``timestampadd``: exact to the microsecond, independent of the session
    timezone (a double division would lose bits on int64 epochs)."""
    return df.withColumns({
        c: F.expr(f"timestampadd(MICROSECOND, `{c}` div 1000, "
                  f"TIMESTAMP_NTZ '1970-01-01 00:00:00')")
        for c in ns_cols})


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that tolerates nanosecond timestamps: their
    columns are read as longs through an explicit schema (vectorized scan
    intact) and converted to ``timestamp_ntz`` at µs precision.  Everything
    else is a plain native read."""
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    schema = _read_schema(spark, path, ns_cols)
    return _nanos_to_ntz(spark.read.schema(schema).parquet(path), ns_cols)


def discover_tables(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Return {table_name: lazy DataFrame} for a source path.

    * directory → every ``*.parquet`` / ``*.orc`` / ``*.csv`` / ``*.jsonl`` inside is a table
    * ``.db/.sqlite/.sqlite3`` → every SQLite table ingested
    * ``.sql`` → script executed into :memory: then ingested
    """
    p = Path(path)
    if p.is_dir():
        out: dict[str, DataFrame] = {}
        for f in sorted(p.iterdir()):
            if f.suffix == ".parquet" or (f.is_dir() and f.name.endswith(".parquet")):
                out[f.name[: -len(".parquet")]] = read_parquet(spark, str(f))
            elif f.suffix == ".csv":
                out[f.stem] = load_csv(spark, str(f))
            elif f.suffix == ".jsonl":
                out[f.stem] = load_jsonl(spark, str(f))
            elif f.suffix == ".orc" or (f.is_dir()
                                        and f.name.endswith(".orc")):
                out[f.name[: -len(".orc")]] = load_orc(spark, str(f))
        return out
    # Extension gate BEFORE existence, like the reference (connection.py:59-62
    # raises FileTypeError for 'my_db.txt' whether or not it exists); message
    # pinned to its tests (tests/test_connection.py:33-45).
    if p.suffix not in SUPPORTED_FILE_EXTENSIONS:
        raise FileTypeError(
            "File extension must be one of the following: "
            + ", ".join(SUPPORTED_FILE_EXTENSIONS)
        )
    if not p.exists():
        raise FileNotFoundError(path)
    if p.suffix == ".sql":
        return load_sql_script_tables(spark, str(p))
    return load_sqlite_tables(spark, str(p))


def load_csv(spark: SparkSession, path: str, set_lowercase: bool = True) -> DataFrame:
    """CSV → DataFrame with the reference's lowercase/underscore column
    normalization (``utils.py:214-239``)."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    if set_lowercase:
        df = df.toDF(*[normalize_col(c) for c in df.columns])
    return df


def load_jsonl(spark: SparkSession, path: str, schema=None,
               set_lowercase: bool = True) -> DataFrame:
    """JSON Lines ingest — the de-facto interchange format for LLM training
    corpora (one document object per line).

    With an explicit ``schema`` the read is single-pass; without one Spark
    runs a schema-inference pre-pass over the files — fine for ad-hoc use,
    but at 100 TB always pass the schema (or convert to parquet once via
    :func:`write_parquet` and query that).  Column names get the same
    normalization as CSV ingest."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if set_lowercase:
        df = df.toDF(*[normalize_col(c) for c in df.columns])
    return df


def _sqlite_conn_tables(conn: sqlite3.Connection) -> list[str]:
    rows = conn.execute(
        "SELECT name FROM sqlite_master WHERE type = 'table' "
        "AND name NOT LIKE 'sqlite_%'"
    ).fetchall()
    return [r[0] for r in rows]


def _ingest_sqlite_conn(spark: SparkSession, conn: sqlite3.Connection) -> dict[str, DataFrame]:
    return {t: _ingest_sqlite_conn_table(spark, conn, t)
            for t in _sqlite_conn_tables(conn)}


# Tables at or above this row count are read partition-parallel instead of
# through a single driver-side pandas fetch.
SQLITE_PARALLEL_THRESHOLD = 250_000


def _sqlite_partitioned_df(spark: SparkSession, db_path: str, table: str,
                           n_rows: int) -> DataFrame | None:
    """Partition-parallel SQLite scan: rowid-range splits, one stdlib
    ``sqlite3`` connection per task inside ``mapInPandas`` — the same design
    as ``spark.read.jdbc(lowerBound/upperBound/numPartitions)``, which Spark
    has no driver for sqlite.  Each task reads only its slice, so an 18M-row
    table (the reference's own README example) never materializes on the
    driver.  On a multi-node cluster the file must be task-accessible
    (``SparkContext.addFile`` / shared FS); returns None when the table has
    no usable rowid (WITHOUT ROWID) so the caller can fall back."""
    import pandas as pd

    with sqlite3.connect(db_path) as conn:
        try:
            lo, hi = conn.execute(
                f'SELECT min(rowid), max(rowid) FROM "{table}"').fetchone()
        except sqlite3.OperationalError:
            return None  # WITHOUT ROWID table
        if lo is None:
            return None
        probe = pd.read_sql_query(
            f'SELECT * FROM "{table}" LIMIT 1000', conn)
    for c in probe.columns:
        if probe[c].dtype == object and probe[c].dropna().empty:
            probe[c] = probe[c].astype("string")
    schema = spark.createDataFrame(probe).schema

    parallelism = spark.sparkContext.defaultParallelism
    # ~threshold/4 rows per split, capped at 4 splits per core.
    n_splits = max(1, min(4 * parallelism,
                          n_rows * 4 // SQLITE_PARALLEL_THRESHOLD + 1))
    step = (hi - lo + n_splits) // n_splits
    bounds = [(lo + i * step, min(hi, lo + (i + 1) * step - 1))
              for i in range(n_splits)]
    bounds = [(a, b) for a, b in bounds if a <= b]
    bounds_df = spark.createDataFrame(bounds, "lo long, hi long") \
                     .repartition(len(bounds))
    cols = ", ".join(f'"{c}"' for c in probe.columns)

    def read_slice(pdfs):
        for pdf in pdfs:
            for lo_, hi_ in pdf.itertuples(index=False):
                with sqlite3.connect(db_path) as conn:
                    for chunk in pd.read_sql_query(
                            f'SELECT {cols} FROM "{table}" '
                            f'WHERE rowid BETWEEN {lo_} AND {hi_}',
                            conn, chunksize=100_000):
                        yield chunk

    return bounds_df.mapInPandas(read_slice, schema)


def load_sqlite_tables(spark: SparkSession, db_path: str) -> dict[str, DataFrame]:
    """Every table in a ``.db/.sqlite/.sqlite3`` file as a DataFrame.  Small
    tables arrive via one Arrow ``createDataFrame``; tables with ≥
    ``SQLITE_PARALLEL_THRESHOLD`` rows stream through the rowid-partitioned
    reader and never pass through the driver."""
    small: dict[str, DataFrame] = {}
    large: dict[str, DataFrame] = {}
    with sqlite3.connect(db_path) as conn:
        names = _sqlite_conn_tables(conn)
        counts = {t: conn.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
                  for t in names}
    for t in names:
        if counts[t] >= SQLITE_PARALLEL_THRESHOLD:
            df = _sqlite_partitioned_df(spark, db_path, t, counts[t])
            if df is not None:
                large[t] = df
    with sqlite3.connect(db_path) as conn:
        for t in names:
            if t not in large:
                small.update(
                    {t: _ingest_sqlite_conn_table(spark, conn, t)})
    return {**small, **large}


def _ingest_sqlite_conn_table(spark: SparkSession, conn: sqlite3.Connection,
                              table: str) -> DataFrame:
    import pandas as pd

    pdf = pd.read_sql_query(f'SELECT * FROM "{table}"', conn)
    for c in pdf.columns:
        if pdf[c].dtype == object and pdf[c].dropna().empty:
            pdf[c] = pdf[c].astype("string")
    return spark.createDataFrame(pdf)


def load_sql_script_tables(spark: SparkSession, sql_path: str) -> dict[str, DataFrame]:
    """Execute a ``.sql`` script into :memory: and ingest the result
    (reference re-materializes per connect to avoid staleness,
    ``connection.py:64-76``; :memory: gives the same freshness for free)."""
    with open(sql_path, encoding="utf-8") as f:
        script = f.read()
    conn = sqlite3.connect(":memory:")
    try:
        conn.executescript(script)
        return _ingest_sqlite_conn(spark, conn)
    finally:
        conn.close()


_SQLITE_TYPE = {
    "long": "INTEGER", "int": "INTEGER", "smallint": "INTEGER",
    "tinyint": "INTEGER", "bigint": "INTEGER", "boolean": "INTEGER",
    "double": "REAL", "float": "REAL",
    "string": "TEXT", "binary": "BLOB",
    "date": "DATE", "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
}


def _sql_literal(v) -> str:
    """One value as a SQLite literal — '' -doubled strings, X'..' blobs,
    ISO datetimes; finite floats via repr (round-trips exactly).  NaN
    dumps as NULL (SQLite has no NaN storage class — it would store NULL
    anyway) and ±Infinity as ±9.0e999, the overflow literal sqlite3's own
    iterdump emits."""
    import datetime as _dt
    import decimal as _decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return "9.0e999" if v > 0 else "-9.0e999"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return "X'" + v.hex() + "'"
    if isinstance(v, (_dt.datetime, _dt.date)):
        v = v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else str(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def write_sql_script(tables: dict[str, DataFrame], sql_path: str,
                     batch_rows: int = 500) -> None:
    """Sink: dump Spark tables as a ``.sql`` text script (CREATE TABLE +
    multi-row INSERTs) that :func:`load_sql_script_tables` — or any SQLite —
    replays (reference ``utils.py:200-211`` round-trip parity; the reference
    dumps via sqlite3.iterdump, this streams straight from executors).

    Rows stream through ``toLocalIterator`` so only one partition is
    resident on the driver at a time; still, a single ``.sql`` text file is
    an inherently single-writer interchange format — it is the SMALL-data
    path (dims, samples, fixtures).  The 100 TB sink is
    :func:`write_parquet` / :func:`write_bucketed`."""
    def ident(name: str) -> str:
        # Identifiers need the same doubling discipline as literals
        # (ADVICE r5): a table/column name containing '"' would otherwise
        # emit a malformed — or injected — CREATE TABLE/INSERT statement.
        return '"' + name.replace('"', '""') + '"'

    with open(sql_path, "w", encoding="utf-8") as fh:
        fh.write("BEGIN TRANSACTION;\n")
        for name, df in tables.items():
            def sql_type(f):
                simple = f.dataType.simpleString()
                if simple.startswith("decimal"):
                    return "NUMERIC"
                return _SQLITE_TYPE.get(simple, "TEXT")
            cols = ", ".join(
                f'{ident(f.name)} {sql_type(f)}' for f in df.schema.fields)
            fh.write(f'CREATE TABLE {ident(name)} ({cols});\n')
            batch: list[str] = []
            for row in df.toLocalIterator():
                batch.append(
                    "(" + ", ".join(_sql_literal(v) for v in row) + ")")
                if len(batch) >= batch_rows:
                    fh.write(f'INSERT INTO {ident(name)} VALUES\n'
                             + ",\n".join(batch) + ";\n")
                    batch = []
            if batch:
                fh.write(f'INSERT INTO {ident(name)} VALUES\n'
                         + ",\n".join(batch) + ";\n")
        fh.write("COMMIT;\n")


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """Sink: the parquet analogue of the reference's sql-dump
    (``utils.py:200-211``).

    ``partition_by`` writes a Hive-layout directory tree
    (``col=value/...``); readers filtering on those columns then prune whole
    directories at planning time (PartitionFilters in the scan) — the first
    scale lever for any 100 TB layout (partition by date/source/lang, keep
    cardinality ≤ ~10⁴ directories)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   n_buckets: int = 32,
                   sort_cols: list[str] | None = None,
                   path: str | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed-table sink: pre-shuffles once at write time so every later
    equi-join or aggregation on ``bucket_cols`` runs **shuffle-free** (Spark
    plans a sort-merge join with zero Exchange when both sides are bucketed
    on the join key with equal bucket counts).

    At 100 TB this converts the biggest recurring cost — re-shuffling a fact
    table for every join — into a one-time write cost.  Bucketing metadata
    lives in the session catalog, so this writes a *table* (``saveAsTable``),
    not a bare directory; pass ``path`` for an external location."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def write_sorted(df: DataFrame, path: str, sort_cols: list[str],
                 mode: str = "overwrite",
                 partitions: int | None = None) -> None:
    """Range-clustered parquet sink — the data-skipping layout.

    ``repartitionByRange(sort_cols)`` + ``sortWithinPartitions`` gives
    every output file a narrow, non-overlapping min/max range on the sort
    key, so parquet footer statistics turn later point/range filters on
    that key into row-group SKIPS instead of scans.  The third scale
    lever after Hive partitioning (directory pruning, coarse) and
    bucketing (shuffle-free joins): range-sorting is what makes a 100 TB
    time-series scan with ``ts BETWEEN …`` read ~one file per executor
    instead of all of them.

    One range shuffle at write time (sampled range boundaries keep it
    balanced under skew).  ``partitions`` overrides the output file
    count; default lets AQE size it."""
    parts = ([F.col(c) for c in sort_cols])
    rep = (df.repartitionByRange(partitions, *parts) if partitions
           else df.repartitionByRange(*parts))
    (rep.sortWithinPartitions(*sort_cols)
        .write.mode(mode).parquet(path))


def compact_parquet(spark, path: str, out_path: str,
                    target_mb: int = 256) -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files; the
    small-file remedy for streaming sinks and over-parallel writes.

    Why it matters at scale: a 100 TB table accreted from micro-batches
    easily holds 10⁷ KB-sized files — every scan then pays 10⁷ opens and
    the NameNode/listing pays the metadata.  One compaction pass
    restores ``maxPartitionBytes``-aligned scan parallelism.

    Sizing uses the Hadoop FileSystem API (portable to HDFS/S3/local —
    never driver-side ``os`` calls).  Writes to ``out_path`` — an
    explicit separate location, because overwriting a directory while
    reading it is undefined; swap directories atomically afterwards with
    your store's rename.  Returns the output file count."""
    if target_mb <= 0:
        raise ValueError("compact_parquet: target_mb must be positive")
    if out_path == path:
        raise ValueError(
            "compact_parquet: out_path must differ from path "
            "(overwriting a directory while reading it is undefined)")
    fs, P = hadoop_fs(spark, path)
    total = fs.getContentSummary(P(path)).getLength()
    n = max(1, -(-int(total) // (target_mb << 20)))
    df = read_parquet(spark, path)
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n


def _hadoop_isdir(spark: SparkSession, path: str) -> bool:
    """Directory test through the Hadoop FileSystem API — correct for
    local, HDFS and S3A paths alike (``os.path.isdir`` only sees the
    driver's local filesystem).  Falls back to the local check ONLY when
    the JVM gateway itself is unavailable (mocked sessions in tests);
    a nonexistent path is False, but any OTHER remote-FS error
    propagates — swallowing a transient RPC failure here would route a
    directory dataset to the filename-glob branch and silently stream
    zero rows."""
    try:
        fs, P = hadoop_fs(spark, path)
    except AttributeError:
        return os.path.isdir(path)  # no JVM gateway (mocked session)
    try:
        return bool(fs.getFileStatus(P(path)).isDirectory())
    except Exception as exc:
        if "FileNotFoundException" in type(exc).__name__ + str(exc):
            return False
        raise


def events_stream_reader(spark: SparkSession, sf_dir: str):
    """``readStream`` over the events table directory — schema pinned from the
    batch read (Structured Streaming requires an explicit schema for files).
    Nanos timestamps arrive as longs and are converted like the batch path."""
    path = os.path.join(sf_dir, "events.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    schema = _read_schema(spark, path, ns_cols)
    # File stream sources need a directory.  Two dataset shapes exist:
    # a DIRECTORY named events.parquet (anything Spark wrote — the
    # production shape) streams directly from that directory; a single
    # FILE (the driver's testdata layout) needs the parent dir plus a
    # filename glob.  pathGlobFilter matches FILE names only, so using
    # the glob against a directory dataset silently matches zero part
    # files and streams nothing (r8 fix — caught by the sf1 rehearsal
    # where enrich "finished" in 0.2 s with 0 rows).  Directory-ness is
    # tested through the Hadoop FileSystem API (r9, per ADVICE r8): an
    # os.path check is driver-local, so an HDFS/S3A sf_dir would always
    # take the glob branch and silently stream zero rows again.
    if _hadoop_isdir(spark, path):
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        stream = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", "events.parquet*")
                  .parquet(sf_dir))
    return _nanos_to_ntz(stream, ns_cols)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                compression: str | None = "gzip") -> None:
    """JSON-lines sink — the interchange format most LLM-data tooling
    consumes.  One JSON object per line, written distributed (one file
    per partition; ``repartition`` upstream to control file count).
    Compressed by default: JSONL is ~10× parquet's footprint raw, and
    gzip is the codec every downstream reader speaks.  Timestamps are
    emitted ISO-8601 (Spark's JSON writer default)."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True, sep: str = ",",
              compression: str | None = None) -> None:
    """CSV sink (round-trips with ``load_csv``).  Nested/array columns
    are rejected up front — CSV cannot represent them and Spark's writer
    would error per-task deep in the job instead of at plan time."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [f.name for f in df.schema.fields
           if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    if bad:
        raise TypeError(
            f"write_csv: columns {bad} have nested types CSV cannot "
            f"represent — to_json() them first or use write_jsonl")
    w = df.write.mode(mode).option("header", str(header).lower()) \
         .option("sep", sep)
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key Column over 2-4 numeric columns — bit-
    interleaved per-column positions, the public multi-dimensional
    clustering technique (Morton 1966; used by every lakehouse engine's
    OPTIMIZE ZORDER).

    Each column is scaled to a ``bits``-bit position by LINEAR min/max
    scaling (one tiny agg to fetch the bounds, folded back as literals)
    — cheap, deterministic, and pure-JVM; heavily skewed columns get
    lopsided cells under linear scaling (documented: pre-transform, e.g.
    ``log``, or bucket by exact quantiles first when that matters).
    NULLs scale to position 0.  The interleave itself is a fixed chain
    of ``shiftleft``/``bitwiseOR`` expressions — whole-stage-codegen,
    no UDFs."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("zorder_key: interleave 2-4 columns")
    if bits * n > 62:
        raise ValueError(f"zorder_key: {bits} bits x {n} cols overflows "
                         "a long — lower bits")
    row = df.agg(*[F.min(F.col(c).cast("double")).alias(f"lo_{i}")
                   for i, c in enumerate(cols)],
                 *[F.max(F.col(c).cast("double")).alias(f"hi_{i}")
                   for i, c in enumerate(cols)]).collect()[0]
    max_pos = (1 << bits) - 1
    positions = []
    for i, c in enumerate(cols):
        lo, hi = row[f"lo_{i}"], row[f"hi_{i}"]
        span = (hi - lo) if (hi is not None and lo is not None
                             and hi > lo) else 1.0
        scaled = F.floor(((F.col(c).cast("double") - F.lit(lo))
                          / F.lit(span)) * max_pos)
        # NULL must resolve BEFORE the clamp: Spark's least/greatest SKIP
        # null arguments (least(max, NULL) = max), so clamping first
        # would silently send NULLs to max_pos instead of 0.
        scaled = F.coalesce(scaled, F.lit(0))
        positions.append(
            F.greatest(F.lit(0), F.least(F.lit(max_pos), scaled))
             .cast("long"))
    key = F.lit(0).cast("long")
    # bit b of column i lands at interleaved position b*n + i
    for b in range(bits):
        for i, p in enumerate(positions):
            bit = F.shiftright(p, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   mode: str = "overwrite", bits: int = 16,
                   partitions: int | None = None) -> None:
    """Z-order-clustered parquet sink: range-partition + sort on the
    Morton key so parquet footer min/max stats prune files for filters
    on ANY of the interleaved columns — the multi-dimensional
    complement of :func:`write_sorted` (which serves exactly one sort
    prefix).  A filter on one of k z-ordered dims skips ~(1 - N^(-1/k))
    of the files instead of the single-dim layout's all-or-nothing.

    Cost: one bounds agg + one range shuffle at write time, identical
    to ``write_sorted``."""
    key = zorder_key(df, cols, bits)
    tmp = df.withColumn("__z", key)
    rep = (tmp.repartitionByRange(partitions, F.col("__z")) if partitions
           else tmp.repartitionByRange(F.col("__z")))
    (rep.sortWithinPartitions("__z").drop("__z")
        .write.mode(mode).parquet(path))


def load_orc(spark: SparkSession, path: str,
             set_lowercase: bool = True) -> DataFrame:
    """ORC → DataFrame — the other splittable columnar format (Hive/Trino
    shops hand these over as often as parquet).  Spark's native ORC
    reader keeps the same scan-level machinery as parquet: predicate
    pushdown into stripe/row-group indexes, column pruning, and
    vectorized decoding, so every 100 TB lever documented on the parquet
    path applies unchanged.  Column names get the reference's
    lowercase/underscore normalization (``utils.py:214-239``), matching
    :func:`load_csv`."""
    df = spark.read.orc(path)
    if set_lowercase:
        df = df.toDF(*[normalize_col(c) for c in df.columns])
    return df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """Sink: ORC analogue of :func:`write_parquet` — same Hive-layout
    ``partition_by`` directory pruning semantics; useful when the
    downstream consumer is a Hive/Trino warehouse that prefers ORC
    stripes over parquet row groups."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
