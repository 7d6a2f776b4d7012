"""Custom stateful streaming operator via ``applyInPandasWithState``.

Per-key running totals over an event stream — the canonical "custom state
machine" shape that windowed aggregates can't express (state lives across
micro-batches, emission happens per batch, and a timeout policy controls
eviction).  The reference has no streaming surface at all (SURVEY §2.10);
this is the beyond-parity stateful piece next to the windowed forms in
``streaming/windows.py``.

Scale design:
* state is keyed by the group column → Spark shuffles each micro-batch once
  on the key and pins state to its partition; state size is O(#keys), not
  O(#events).
* totals accumulate in **integer cents** (values are 2-decimal) so the
  result is exact and independent of both micro-batch boundaries and
  accumulation order — which is what lets the converged stream hash-match a
  plain ``GROUP BY`` oracle.
* ``ttl_ms`` turns on ``GroupStateTimeout.ProcessingTimeTimeout`` for TTL'd
  state at 100 TB (idle keys evicted; timed-out invocations drop state).

Batch form (:func:`running_totals`) is the convergence oracle: after a
stream processes all available data, the emitted final state per key equals
the batch groupBy — asserted in tests/test_streaming.py and exposed to the
driver as the ``events_stateful_totals`` query.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pandas_db_spark.streaming.sink import drain

_OUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"
_STATE_SCHEMA = "n bigint, cents bigint"


def _cents(values: pd.Series) -> int:
    """Exact integer total of 2-decimal doubles (round-to-nearest kills the
    ±4e-12 float representation error before summing)."""
    return int(np.rint(values.to_numpy(dtype=np.float64) * 100).sum())


def _make_update(ttl_ms: int | None):
    """Update function factory; ``ttl_ms`` set ⇒ ProcessingTimeTimeout
    semantics (idle keys evicted after the TTL, timed-out invocations drop
    state and emit nothing)."""

    def _update(key: Tuple, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += _cents(pdf["value"])
        state.update((n, cents))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_cents": [cents]})

    return _update


def running_totals_stream(stream_df: DataFrame, key_col: str = "user_id",
                          value_col: str = "value",
                          ttl_ms: int | None = None) -> DataFrame:
    """Streaming per-key running (count, total) state machine.  Emits the
    updated totals for every key touched by each micro-batch (update
    output mode).  ``ttl_ms`` turns on ProcessingTimeTimeout state eviction
    — the 100 TB lever that keeps the state store O(active keys)."""
    events = stream_df.select(F.col(key_col).alias("user_id"),
                              F.col(value_col).alias("value"))
    timeout = (GroupStateTimeout.NoTimeout if ttl_ms is None
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (events.groupBy("user_id")
                  .applyInPandasWithState(
                      _make_update(ttl_ms), _OUT_SCHEMA, _STATE_SCHEMA,
                      "update", timeout))


def running_totals(df: DataFrame, key_col: str = "user_id",
                   value_col: str = "value") -> DataFrame:
    """Batch form / convergence oracle of :func:`running_totals_stream`."""
    cents = F.sum(F.round(F.col(value_col) * 100).cast("long"))
    return (df.groupBy(F.col(key_col).alias("user_id"))
              .agg(F.count("*").alias("n_events"),
                   cents.alias("total_cents")))


def run_to_convergence(stream_df: DataFrame, sink_name: str,
                       key_col: str = "user_id",
                       value_col: str = "value") -> DataFrame:
    """Drive the stateful stream over all available data (availableNow) into
    a memory sink and return the FINAL state per key.  n_events is strictly
    increasing per key, so max(struct(n_events, total_cents)) picks the last
    emission without assuming micro-batch count."""
    spark = stream_df.sparkSession
    drain(running_totals_stream(stream_df, key_col, value_col)
          .writeStream.format("memory").queryName(sink_name)
          .outputMode("update"))
    emitted = spark.table(sink_name)
    final = F.max(F.struct("n_events", "total_cents")).alias("f")
    return (emitted.groupBy("user_id").agg(final)
                   .select("user_id", F.col("f.n_events").alias("n_events"),
                           F.col("f.total_cents").alias("total_cents")))
