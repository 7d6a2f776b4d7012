"""The one stream drain, the one replay-idempotent store write, and the
one staged swap behind every offline store rewrite.

Every streaming runner in the package drains its query through
:func:`drain` (memory sinks) or :func:`drain_batches` (``foreachBatch``
stores): an ``availableNow`` trigger processes all input present at
start, then the query stops — also when a micro-batch raises.

Replay contract: ``foreachBatch`` is at-least-once, so after a crash
Spark replays the uncommitted micro-batch under the SAME ``batch_id``.
Every per-batch store write goes through :func:`write_batch`, a dynamic
partition overwrite keyed on ``batch_id``: a replayed micro-batch
rewrites only its own partitions instead of appending a second copy.

Rewrite contract: every offline store rewrite goes through
:func:`staged_overwrite`, which parks the live copy in
``<path>.__stage_old`` until the new one is live.  Every rewrite first
rolls back a swap that crashed in between (:func:`recover_staged`), and
:func:`write_batch` refuses such a store.  :func:`compact` folds a
store's per-batch files into the reserved ``batch_id=-1`` partition,
which no real (non-negative) micro-batch id can overwrite.

Imports nothing from the package, so operator modules can use it too.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import DataStreamWriter


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer`` with an ``availableNow`` trigger, process all
    available input, and stop the query."""
    query = writer.trigger(availableNow=True).start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def drain_batches(stream_df: DataFrame, checkpoint_dir: str,
                  fn: Callable[[DataFrame, int], None]) -> None:
    """Drain ``stream_df`` through ``fn(batch_df, batch_id)`` per
    micro-batch; empty micro-batches are skipped."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fn(batch_df, batch_id)

    drain(stream_df.writeStream.foreachBatch(handle)
          .option("checkpointLocation", checkpoint_dir))


def write_batch(df: DataFrame, batch_id: int, path: str,
                *partition_cols: str) -> None:
    """Write ``df`` as micro-batch ``batch_id`` of the parquet dataset at
    ``path``, partitioned by ``("batch_id", *partition_cols)``; only the
    partitions this write produces are replaced.  Refuses a dataset
    whose staged rewrite was interrupted (:func:`assert_not_mid_swap`)."""
    assert_not_mid_swap(df.sparkSession, path)
    (df.withColumn("batch_id", F.lit(batch_id))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("batch_id", *partition_cols).parquet(path))


def hadoop_fs(spark, path: str):
    """``(fs, Path)``: the Hadoop ``FileSystem`` that holds ``path`` and
    the JVM ``Path`` class — local, HDFS and S3A paths alike."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def is_path_not_found(exc: Exception) -> bool:
    """Whether a failed Spark read failed only because its path does not
    exist."""
    cond = exc.getCondition() if hasattr(exc, "getCondition") else None
    return bool(cond and "PATH_NOT_FOUND" in cond) \
        or "Path does not exist" in str(exc)


def assert_not_mid_swap(spark, path: str) -> None:
    """Raise when the dataset at ``path`` is missing but its
    ``.__stage_old`` sibling exists: a staged rewrite crashed between its
    two renames.  Reading the store as empty, or writing a new one
    beside the old copy, would lose the old copy's data."""
    base = path.rstrip("/")
    fs, P = hadoop_fs(spark, base)
    if fs.exists(P(base + ".__stage_old")) and not fs.exists(P(base)):
        raise RuntimeError(
            f"store {base} is missing but its .__stage_old sibling "
            "exists — a staged rewrite crashed mid-swap.  Run "
            "streaming.sink.recover_staged(spark, path) (or re-run the "
            "rewrite) first; treating the store as missing would drop "
            "every row it held.")


def recover_staged(spark, path: str) -> bool:
    """Roll back a staged swap that crashed between its two renames: the
    previous copy moves back from ``.__stage_old`` and a leftover
    ``.__stage_tmp`` is deleted.  A no-op when the live directory
    exists.  Returns True when a recovery was performed."""
    base = path.rstrip("/")
    fs, P = hadoop_fs(spark, base)
    if fs.exists(P(base)):
        return False
    old, tmp = base + ".__stage_old", base + ".__stage_tmp"
    if fs.exists(P(old)):
        # roll BACK to the pre-swap state (tmp may be incomplete; old is
        # by construction the complete previous live copy)
        if not fs.rename(P(old), P(base)):
            raise IOError(f"recover_staged: rename {old} -> {base} failed")
        if fs.exists(P(tmp)):
            fs.delete(P(tmp), True)
        return True
    return False


def staged_overwrite(df: DataFrame, path: str,
                     partition_cols: tuple = (),
                     n_files: int | None = None,
                     route_cols: tuple = ()) -> None:
    """Replace the parquet dataset at ``path`` with ``df``, which may read
    from ``path`` itself (a direct ``mode("overwrite")`` would truncate
    the files the lazy read still points at).

    Layout: a dataset partitioned by ``partition_cols`` has its rows
    routed to tasks by the hash of ``route_cols`` (default: the last
    partition column, so each partition is written by one task, as one
    file) — into ``n_files`` tasks, or ``spark.sql.shuffle.partitions``
    when None; an unpartitioned dataset is coalesced to ``n_files``
    files.

    Swap: ``df`` is written to ``<path>.__stage_tmp``; then the live copy
    is renamed to ``<path>.__stage_old`` and the new one live.  Every
    rename's result is checked (Hadoop reports a failed rename by
    returning false), a failed second rename puts the old copy back, and
    the old copy is deleted only once the new one is live."""
    spark = df.sparkSession
    base = path.rstrip("/")
    tmp, old = base + ".__stage_tmp", base + ".__stage_old"
    if partition_cols:
        keys = route_cols or partition_cols[-1:]
        df = (df.repartition(n_files, *keys) if n_files
              else df.repartition(*keys))
    else:
        df = df.coalesce(n_files)
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    fs, P = hadoop_fs(spark, base)
    if fs.exists(P(old)):
        fs.delete(P(old), True)
    if fs.exists(P(base)):
        if not fs.rename(P(base), P(old)):
            raise IOError(
                f"staged_overwrite: rename {base} -> {old} failed; "
                f"live data untouched, new data left in {tmp}")
    if not fs.rename(P(tmp), P(base)):
        # put the old copy back before failing — never leave the live
        # path missing with the data stranded in a stage sibling
        fs.rename(P(old), P(base))
        raise IOError(
            f"staged_overwrite: rename {tmp} -> {base} failed; "
            "previous data restored")
    fs.delete(P(old), True)


def _fold_batches(df: DataFrame) -> tuple[DataFrame, tuple]:
    """``df`` with its ``batch_id`` column, if any, set to the reserved
    ``-1``, and the partition columns that keep the batch layout."""
    if "batch_id" not in df.columns:
        return df, ()
    return df.withColumn("batch_id", F.lit(-1)), ("batch_id",)


def dedup_rewrite(spark, path: str, key_cols: list[str],
                  n_files: int) -> None:
    """Drop the duplicate rows (one row per ``key_cols``) that
    at-least-once appends leave in the dataset at ``path`` and rewrite
    it at ``n_files`` files; a ``batch_id``-partitioned dataset keeps
    that layout with its history folded into ``batch_id=-1``, its rows
    routed to the ``n_files`` files by the hash of ``key_cols`` (every
    row shares the one ``batch_id``).  Recovers an interrupted swap
    first, so a re-run after a crash completes."""
    recover_staged(spark, path)
    df, cols = _fold_batches(
        spark.read.parquet(path).dropDuplicates(key_cols))
    staged_overwrite(df, path, cols, n_files, tuple(key_cols))


def assert_quiesced(spark, checkpoint_dir: str) -> None:
    """Raise unless the Structured Streaming checkpoint shows every
    started micro-batch COMMITTED (max offsets == max commits).  An
    uncommitted batch means a crash mid-batch left a PARTIAL
    ``batch_id=N`` partition that the resumed stream will rewrite —
    compacting it away first would make the replay a double-append."""
    fs, P = hadoop_fs(spark, checkpoint_dir)
    base = checkpoint_dir.rstrip("/")

    def newest(sub: str) -> int | None:
        d = base + "/" + sub
        if not fs.exists(P(d)):
            return None
        best = None
        for st in fs.listStatus(P(d)):
            nm = st.getPath().getName()
            if nm.isdigit():
                v = int(nm)
                best = v if best is None else max(best, v)
        return best

    off, com = newest("offsets"), newest("commits")
    if off is not None and off != com:
        raise ValueError(
            f"compaction: checkpoint {checkpoint_dir} shows batch "
            f"{off} started but not committed (last commit: {com}) — "
            "the stream is not quiesced.  Run the ingest once more "
            "(availableNow drains and commits the replay) before "
            "compacting, or the resumed stream would double-append "
            "the partial batch")


def _count_parquet_files(fs, path) -> int:
    it = fs.listFiles(path, True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def compact(spark, base: str, subs: dict[str, str | None],
            checkpoint_dir: str | None = None) -> dict:
    """Fold the file fragmentation of the datasets ``<base>/<sub>``
    row-identically: each is rewritten at one file per value of its
    partition column in ``subs`` (``None``: one file in all).  A
    stream-written dataset (``batch_id`` partitions) keeps that layout
    with every row folded into ``batch_id=-1``.

    With ``checkpoint_dir``, first refuses a stream that is not quiesced
    (:func:`assert_quiesced`).  Each dataset is recovered from an
    interrupted swap first; missing ones are skipped.  Returns
    ``{sub: {"files_before", "files_after", "layout"}}`` with layout
    ``"streaming"`` or ``"batch"``."""
    if checkpoint_dir is not None:
        assert_quiesced(spark, checkpoint_dir)
    fs, P = hadoop_fs(spark, base)
    report = {}
    for sub, part_col in subs.items():
        src = base.rstrip("/") + "/" + sub
        recover_staged(spark, src)
        if not fs.exists(P(src)):
            continue
        before = _count_parquet_files(fs, P(src))
        df, cols = _fold_batches(spark.read.parquet(src))
        if part_col:
            staged_overwrite(df, src, cols + (part_col,))
        else:
            staged_overwrite(df, src, cols, n_files=1)
        report[sub] = {"files_before": before,
                       "files_after": _count_parquet_files(fs, P(src)),
                       "layout": "streaming" if cols else "batch"}
    return report
