"""Stream-stream interval join (watermarked, time-range bounded).

The hardest of Spark's streaming joins: BOTH sides are unbounded, so the
engine must buffer each side's recent rows in state and needs two things
to bound that state — a watermark on each side (how late data can be)
and a TIME-RANGE join condition (how far apart matching events can be).
Given both, state for a key is evicted once the watermark passes the
range, so a 100 TB/day stream pair runs with state proportional to
(rate × range), not history.

Canonical use here: attribution — for every ``purchase``, the ``view``
events of the same user in the preceding hour.

Batch form of the same expression is the oracle: an availableNow replay
over the finite events table emits exactly the batch interval join.

Reference scope: no streaming surface in the reference (SURVEY §2.10) —
beyond-parity capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pandas_db_spark.streaming.sink import drain


def interval_join(left: DataFrame, right: DataFrame, key: str,
                  left_ts: str, right_ts: str,
                  lower: str, upper: str) -> DataFrame:
    """Inner join on ``key`` where ``right_ts`` lies in
    ``[left_ts + lower, left_ts + upper]`` (INTERVAL strings, e.g.
    ``'-1 hour'`` / ``'0 seconds'``).

    Works identically on batch frames (the oracle path).  For streaming
    inputs, both sides must carry ``withWatermark`` — Spark enforces
    this at start; the time-range condition below is what lets it evict
    state.  All non-key columns must be pre-renamed to be disjoint."""
    cond = ((left[key] == right[key])
            & (right[right_ts] >= left[left_ts] + F.expr(
                f"INTERVAL {lower.lstrip('+')}"))
            & (right[right_ts] <= left[left_ts] + F.expr(
                f"INTERVAL {upper.lstrip('+')}")))
    return left.join(right, cond, "inner").drop(right[key])


def run_interval_join(left_stream: DataFrame, right_stream: DataFrame,
                      key: str, left_ts: str, right_ts: str,
                      lower: str, upper: str, sink_name: str,
                      watermark: str = "2 hours",
                      state_partitions: int | None = None) -> DataFrame:
    """Drive the stream-stream interval join over all available data
    (availableNow, append) into a memory sink; returns the sink table.
    ``watermark`` bounds both sides' lateness (and therefore state).

    ``state_partitions`` sizes the stateful shuffle for THIS query (set
    around start, restored after): every micro-batch commits one state
    file per partition per stateful side, so partitions far above the
    key cardinality are pure commit overhead — measured 2.1× at sf0.1
    dropping 32 → 8 (~1.5k user keys).  At production rates SIZE IT UP:
    state shards bound per-task state memory, so aim for
    (rate × range) / partitions comfortably inside an executor's heap.
    The first run of a checkpoint PINS the partitioning; changing it
    later needs a fresh checkpoint (Spark state-store contract)."""
    spark = left_stream.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
    try:
        ls = left_stream.withWatermark(left_ts, watermark)
        rs = right_stream.withWatermark(right_ts, watermark)
        out = interval_join(ls, rs, key, left_ts, right_ts, lower, upper)
        drain(out.writeStream.format("memory").queryName(sink_name)
              .outputMode("append"))
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return left_stream.sparkSession.table(sink_name)
