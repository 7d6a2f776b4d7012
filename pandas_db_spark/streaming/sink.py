"""The one stream drain and the one replay-idempotent store write.

Every streaming runner in the package drains its query through
:func:`drain` (memory sinks) or :func:`drain_batches` (``foreachBatch``
stores): an ``availableNow`` trigger processes all input present at
start, then the query stops — also when a micro-batch raises.

Replay contract: ``foreachBatch`` is at-least-once, so after a crash
Spark replays the uncommitted micro-batch under the SAME ``batch_id``.
Every per-batch store write goes through :func:`write_batch`, a dynamic
partition overwrite keyed on ``batch_id``: a replayed micro-batch
rewrites only its own partitions instead of appending a second copy.

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
    partitions this write produces are replaced."""
    (df.withColumn("batch_id", F.lit(batch_id))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("batch_id", *partition_cols).parquet(path))
