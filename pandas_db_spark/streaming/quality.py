"""Streaming data-quality monitor — the expectation suite
(operators/quality.py) evaluated continuously over a stream.

Shape: the SAME single-aggregate + in-plan unpivot as the batch
`check_expectations`, run as a streaming aggregation in COMPLETE output
mode — Spark keeps one tiny state row of running counters (O(#rules)
longs, no watermark needed because the aggregate is unkeyed and
monotone), and every trigger overwrites the sink with the totals so far.
After an ``availableNow`` replay the converged table equals the batch
suite exactly — which is how the oracle checks it.

Restrictions (enforced, not discovered mid-job):

* only ROW-level rules — distinct aggregates (the ``unique`` rule) are
  unsupported inside streaming aggregations by Spark; key-uniqueness on
  a stream is a dedup concern, see ``streaming/dedup.py``
  (``dropDuplicatesWithinWatermark``);
* complete mode holds the one result row per rule in the sink — trivial
  state, but it means the monitor reports corpus-to-date totals, not
  per-window ones.  For windowed quality trends, compose the rule
  conditions with ``streaming/windows.py`` aggregates instead.

Reference scope: no reference analogue (the reference has no streaming
at all, SURVEY §2.10) — beyond-parity, same mandate as the rest of
``streaming/``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from pandas_db_spark.operators.quality import Rule, check_expectations
from pandas_db_spark.streaming.sink import drain


def stream_expectations(stream_df: DataFrame,
                        rules: Sequence[Rule]) -> DataFrame:
    """The expectation suite as a streaming aggregation plan (one row
    per rule, running totals).  Row-level rules only — see module
    docstring."""
    bad = [r.name for r in rules if r.kind != "row"]
    if bad:
        raise ValueError(
            f"stream_expectations: rules {bad} need distinct aggregates, "
            "which Spark does not support in streaming aggregations — "
            "check key uniqueness with streaming/dedup.py instead")
    return check_expectations(stream_df, rules)


def run_quality_monitor(stream_df: DataFrame, rules: Sequence[Rule],
                        sink_name: str) -> DataFrame:
    """Drive the monitor over all available data (availableNow trigger,
    complete mode) into a named in-memory sink; returns the sink table —
    converged totals equal the batch ``check_expectations`` row for row."""
    out = stream_expectations(stream_df, rules)
    drain(out.writeStream.format("memory").queryName(sink_name)
          .outputMode("complete"))
    return stream_df.sparkSession.table(sink_name)


def windowed_expectations(df: DataFrame, ts_col: str,
                          rules: Sequence[Rule],
                          duration: str = "1 hour",
                          watermark: str | None = None) -> DataFrame:
    """Quality TREND: violation counts per tumbling time window — one row
    per (window_start, rule), window start as epoch seconds (the same
    engine-neutral contract as ``streaming/windows.py``).

    Works identically on a batch frame (the oracle) and on a stream:
    pass ``watermark`` on a stream so the keyed aggregation state is
    bounded and windows emit once the watermark passes (append mode).
    Row-level rules only on streams (same Spark distinct restriction as
    :func:`stream_expectations`); on a batch frame ``unique`` rules work
    and count duplicate keys WITHIN each window."""
    from pyspark.sql import functions as F

    if not rules:
        raise ValueError("windowed_expectations: empty rule list")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(
            f"windowed_expectations: duplicate rule names in {names}")
    if df.isStreaming:
        bad = [r.name for r in rules if r.kind != "row"]
        if bad:
            raise ValueError(
                f"windowed_expectations: rules {bad} need distinct "
                "aggregates, unsupported in streaming aggregations")
        if watermark is None:
            raise ValueError(
                "windowed_expectations: a stream needs a watermark to "
                "bound window state")
        # Watermarks require TIMESTAMP, not NTZ; session tz is pinned
        # UTC (session.py) so the cast is value-preserving — same
        # discipline as streaming/windows.py.
        df = (df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
                .withWatermark(ts_col, watermark))

    aggs = [F.count(F.lit(1)).cast("long").alias("__rows")]
    for i, r in enumerate(rules):
        if r.kind == "row":
            viol = F.when(r._cond, F.lit(0)).otherwise(F.lit(1))
            aggs.append(F.sum(viol).cast("long").alias(f"__v{i}"))
        else:
            aggs.append(
                (F.count(F.lit(1)) -
                 F.count_distinct(*[F.col(c) for c in r.cols]))
                .cast("long").alias(f"__v{i}"))
    one = df.groupBy(F.window(ts_col, duration).alias("w")).agg(*aggs)

    pairs = []
    for i, r in enumerate(rules):
        pairs.append(F.lit(r.name))
        pairs.append(F.col(f"__v{i}"))
    return (one.select(
                F.unix_timestamp("w.start").alias("window_start"),
                F.stack(F.lit(len(rules)), *pairs)
                 .alias("rule", "violations"),
                F.col("__rows").alias("n_rows"))
            .select("window_start", "rule", "violations", "n_rows",
                    (F.col("violations") == 0).alias("ok")))
