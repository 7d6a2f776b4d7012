"""Stream-static join enrichment.

The most common streaming pattern in a data platform: a high-volume event
stream joined against a slowly-changing dimension (user → account,
document → source, device → fleet).  Spark's stream-static join is
STATELESS — each micro-batch joins against the current snapshot of the
static side, no watermark or state store involved — which makes it the
cheapest enrichment available: with the dimension broadcast, the stream
side never shuffles at all.

Scale notes:
* ``broadcast_dim=True`` (default) is right whenever the dimension fits
  executor memory (~10 GB compressed at 1000-executor scale); the join
  becomes a map-side hash probe inside whole-stage codegen.
* For dimensions too large to broadcast, set False: Spark shuffles both
  sides on the key — still stateless, but every micro-batch pays the
  dim-side scan+shuffle, so pre-bucket the dimension on the join key
  (``sources.registry.write_bucketed``) to keep that one-sided.
* Static-side updates are picked up per micro-batch boundary (snapshot
  semantics), the standard Spark contract for slowly-changing dims.

The batch form of the same expression is the oracle: an availableNow
replay of the stream-static join lands exactly the batch join's rows.

Reference scope: the reference engine has no streaming surface
(SURVEY §2.10) — beyond-parity capability.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from pandas_db_spark.streaming.sink import drain


def stream_static_join(stream_df: DataFrame, dim_df: DataFrame,
                       on: str | Sequence[str], how: str = "left",
                       broadcast_dim: bool = True) -> DataFrame:
    """Join a (streaming or batch) frame against a static dimension.

    Works identically on batch frames — Spark's unified model — which is
    how the oracle checks it.  ``how`` is restricted to the types Spark
    supports stateless on a stream left side: inner / left / left_semi /
    left_anti."""
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(
            f"stream_static_join: unsupported join type {how!r} for a "
            "stream-static join (stateless types only: inner, left, "
            "left_semi, left_anti)")
    dim = F.broadcast(dim_df) if broadcast_dim else dim_df
    return stream_df.join(dim, on=on, how=how)


def run_enriched(stream_df: DataFrame, dim_df: DataFrame,
                 on: str | Sequence[str], sink_name: str,
                 how: str = "left",
                 broadcast_dim: bool = True) -> DataFrame:
    """Drive the stream-static join over all available data (availableNow
    trigger, append mode) into a named in-memory sink and return the
    sink's table — the converged result equals the batch join."""
    out = stream_static_join(stream_df, dim_df, on, how=how,
                             broadcast_dim=broadcast_dim)
    drain(out.writeStream.format("memory").queryName(sink_name)
          .outputMode("append"))
    return stream_df.sparkSession.table(sink_name)
