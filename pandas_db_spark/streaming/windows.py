"""Windowed aggregation over event streams (tumbling / sliding / session)
with watermarked Structured-Streaming forms.

Design: every operator is defined on a *batch* DataFrame (so it is
oracle-checkable — the batch form of a windowed agg is the ground truth the
stream must converge to) and gains its streaming form by the same expression
applied to a ``readStream`` source plus ``withWatermark``.  That is exactly
Spark's unified model: the logical plan is shared, only the sink/trigger
differ.

The reference has no streaming surface (SURVEY §2.10); this module is the
beyond-parity mandate over the ``events`` table (event_id, ts, user_id,
event_type, value).

Scale notes:
* window aggs shuffle once on (keys, window) — the watermark bounds state.
* session windows use Spark's native ``session_window`` (state-store backed
  in streaming mode; gap merging handled by the engine, not Python).
* sums of float columns go through DECIMAL so results are order-independent
  (a 100 TB shuffle reorders everything; bit-stable aggregates are the only
  aggregates worth testing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _value_aggs(value_col: str) -> list:
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
         .alias("sum_value"),
    ]


def tumbling(df: DataFrame, ts_col: str = "ts", duration: str = "1 hour",
             value_col: str = "value", keys: tuple[str, ...] = ()) -> DataFrame:
    """Tumbling-window aggregate; window start exposed as epoch seconds
    (integer) so results hash identically across engines."""
    w = F.window(ts_col, duration)
    return (df.groupBy(*keys, w.alias("w"))
              .agg(*_value_aggs(value_col))
              .select(*keys,
                      F.unix_timestamp("w.start").alias("window_start"),
                      "n_events", "min_value", "max_value", "sum_value"))


def sliding(df: DataFrame, ts_col: str = "ts", duration: str = "1 hour",
            slide: str = "30 minutes", value_col: str = "value") -> DataFrame:
    """Sliding-window aggregate — each event lands in duration/slide
    windows; Spark expands them engine-side (no Python, no explode UDF)."""
    w = F.window(ts_col, duration, slide)
    return (df.groupBy(w.alias("w"))
              .agg(*_value_aggs(value_col))
              .select(F.unix_timestamp("w.start").alias("window_start"),
                      "n_events", "min_value", "max_value", "sum_value"))


def session(df: DataFrame, ts_col: str = "ts", gap: str = "15 minutes",
            keys: tuple[str, ...] = ("user_id",)) -> DataFrame:
    """Session windows per key: a session extends while the next event
    arrives strictly within ``gap`` of the previous one.  Uses native
    ``session_window`` — in streaming mode this is the state-store-backed
    operator, the batch form here is its oracle."""
    w = F.session_window(ts_col, gap)
    return (df.groupBy(*keys, w.alias("w"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(*keys,
                      F.unix_timestamp("w.start").alias("session_start"),
                      "n_events"))


def tumbling_stream(stream_df: DataFrame, ts_col: str = "ts",
                    duration: str = "1 hour", watermark: str = "2 hours",
                    value_col: str = "value") -> DataFrame:
    """Streaming form of :func:`tumbling`: watermark bounds the state store
    and admits late data up to ``watermark``.  Feed with
    ``sources.registry.events_stream_reader``; write with
    ``.writeStream.outputMode("append")`` once the watermark passes.

    Watermarks require TIMESTAMP (not NTZ); the session timezone is pinned
    to UTC (session.py), so the cast is value-preserving."""
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return tumbling(stream_df.withWatermark(ts_col, watermark),
                    ts_col, duration, value_col)


def sliding_stream(stream_df: DataFrame, ts_col: str = "ts",
                   duration: str = "1 hour", slide: str = "30 minutes",
                   watermark: str = "2 hours",
                   value_col: str = "value") -> DataFrame:
    """Streaming form of :func:`sliding` — each event updates
    duration/slide open windows; the watermark closes and emits them."""
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return sliding(stream_df.withWatermark(ts_col, watermark),
                   ts_col, duration, slide, value_col)

