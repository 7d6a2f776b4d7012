"""Temporal joins Spark has no native operator for: as-of join and
range (interval) join.

Both are implemented as *shuffle-minimal compositions* of built-in
operators — no cross join, no per-row Python:

* :func:`asof_join` — "latest right row at or before each left row" is not
  a join here at all: tag the sides, union them, and take a keyed
  running-``last`` window over the right side's payload.  One shuffle on
  the ``by`` keys; state per window frame is O(1) (only the previous right
  row's payload).  This is the plan a 100 TB tick-data as-of wants —
  ``merge_asof``-style broadcast variants die when both sides are large.
* :func:`range_join` — "left points inside right intervals" joins on a
  coarse time *bucket*: intervals explode to the buckets they span, points
  map to exactly one bucket, the equi-join runs hash-partitioned on
  (keys..., bucket), and the exact containment predicate filters within
  buckets.  Candidate volume scales with interval/bucket ratio, never
  |L|×|R|.

The reference has no temporal surface; these are the beyond-parity custom
operators named in the build mandate (as-of join / range join).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandas_db_spark.session import tiny_df

from pandas_db_spark.plans.checkpoint import truncate_lineage

_SIDE = "__side"
_TS = "__ts"


_PAY = "__rpay"
_CHUNK = "__chunk"


def asof_join(left: DataFrame, right: DataFrame, by: Sequence[str],
              left_ts: str = "ts", right_ts: str = "ts",
              suffix: str = "_r",
              tolerance_s: int | None = None,
              chunk_s: int | None = None) -> DataFrame:
    """Left as-of join: every ``left`` row gains the payload of the latest
    ``right`` row with ``right_ts <= left_ts`` within the same ``by`` keys
    (ties at equal timestamps match, like DuckDB/pandas ``>=`` as-of);
    unmatched left rows keep NULLs.

    The entire right payload travels as ONE struct through a single
    ``last(ignorenulls=True)`` — the matched output row is always a single
    right row, and a right row whose payload column is legitimately NULL
    stays NULL (it is never back-filled from an older row).

    ``tolerance_s`` nulls the match when it is older than the given number
    of seconds (pandas ``merge_asof(tolerance=...)`` semantics).

    ``chunk_s`` (hot-key hardening): when set, the running-``last`` window
    partitions on ``(by..., floor(ts / chunk_s))`` instead of ``by`` alone,
    so one power-law key (a user with 10⁸ events) is processed by many
    tasks — one per time chunk — instead of serializing through a single
    window task.  A boundary pass then carries the last right row of each
    chunk forward: per-(key, chunk) last-right payloads (a tiny aggregate,
    one row per key per chunk) get a running-``last`` over chunks, and
    left rows with no in-chunk predecessor coalesce to that carry-in.  The
    big side shuffles once on (by, chunk); the boundary frame is O(#keys ×
    #chunks).  Pick ``chunk_s`` near (time span / desired parallelism per
    key).  Default ``None`` keeps the single-window plan (one Exchange).

    Right payload columns arrive suffixed (``value`` → ``value_r``).  If
    several right rows share (by, right_ts) the surviving payload is
    plan-order-dependent — deduplicate the right side first for a
    deterministic result."""
    by = list(by)
    rvals = [c for c in right.columns if c not in by and c != right_ts]
    matched_cols = [f"{right_ts}{suffix}"] + [f"{c}{suffix}" for c in rvals]

    l2 = (left.withColumn(_SIDE, F.lit(1))
              .withColumn(_TS, F.col(left_ts)))
    r2 = right.select(
        *by,
        F.lit(0).alias(_SIDE),
        F.col(right_ts).alias(_TS),
        F.struct(
            F.col(right_ts).alias(f"{right_ts}{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in rvals],
        ).alias(_PAY),
    )
    both = l2.unionByName(r2, allowMissingColumns=True)

    # right rows (side=0) sort before left rows at equal ts → `last` at a
    # left row sees the equal-ts right row: inclusive (<=) semantics.
    # Left rows carry a NULL struct, which ignorenulls skips.
    if chunk_s is None:
        w = (Window.partitionBy(*by).orderBy(_TS, _SIDE)
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = (both.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(w))
                   .filter(F.col(_SIDE) == 1))
    else:
        both = both.withColumn(
            _CHUNK, F.floor(F.col(_TS).cast("timestamp").cast("long")
                            / chunk_s))
        w_in = (Window.partitionBy(*by, _CHUNK).orderBy(_TS, _SIDE)
                      .rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))
        within = (both.withColumn(_PAY,
                                  F.last(_PAY, ignorenulls=True).over(w_in))
                      .filter(F.col(_SIDE) == 1))
        # boundary carry: last right payload of each (key, chunk) — a
        # map-side-combining aggregate on the window's own shuffle keys —
        # then a running-last over *chunks* (frame is one row per key per
        # chunk, so the hot key costs #chunks rows here, not #events).
        per_chunk = (both.filter(F.col(_SIDE) == 0)
                         .groupBy(*by, _CHUNK)
                         .agg(F.max_by(_PAY, F.col(_TS)).alias(_PAY)))
        all_chunks = both.select(*by, _CHUNK).distinct()
        w_carry = (Window.partitionBy(*by).orderBy(_CHUNK)
                         .rowsBetween(Window.unboundedPreceding, -1))
        carry = (all_chunks.join(per_chunk, by + [_CHUNK], "left")
                           .withColumn("__carry",
                                       F.last(_PAY, ignorenulls=True)
                                        .over(w_carry))
                           .select(*by, _CHUNK, "__carry"))
        out = (within.join(carry, by + [_CHUNK])
                     .withColumn(_PAY, F.coalesce(_PAY, F.col("__carry")))
                     .drop("__carry", _CHUNK))

    if tolerance_s is not None:
        # NTZ → timestamp is value-preserving (session tz pinned UTC in
        # session.py); NTZ has no direct long cast.
        fresh = (F.col(_TS).cast("timestamp").cast("long")
                 - F.col(_PAY)[f"{right_ts}{suffix}"]
                   .cast("timestamp").cast("long")) <= tolerance_s
        out = out.withColumn(_PAY, F.when(fresh, F.col(_PAY)))

    return out.select(
        *[c for c in left.columns],
        *[F.col(f"{_PAY}.{c}").alias(c) for c in matched_cols],
    )


def range_join(points: DataFrame, intervals: DataFrame,
               by: Sequence[str] = (), point_ts: str = "ts",
               lo: str = "lo", hi: str = "hi",
               bucket_s: int = 3600) -> DataFrame:
    """Interval-containment join: rows of ``points`` matched to every
    ``intervals`` row with ``lo <= point_ts <= hi`` (and equal ``by`` keys).

    Plan: intervals explode to the ``bucket_s``-second buckets they span,
    points map to one bucket, equi-join on (by..., bucket), exact predicate
    inside the bucket.  Pick ``bucket_s`` near the typical interval length:
    candidate volume ≈ |matches| + |intervals| × (len/bucket_s).  Long-tail
    intervals fatten the explode linearly — cap them upstream or raise
    ``bucket_s``."""
    by = list(by)

    def _epoch(c):  # NTZ-safe epoch seconds (session tz pinned UTC)
        return F.col(c).cast("timestamp").cast("long")

    p_bucket = F.floor(_epoch(point_ts) / bucket_s)
    i_buckets = F.sequence(F.floor(_epoch(lo) / bucket_s),
                           F.floor(_epoch(hi) / bucket_s))

    p = points.withColumn("__bucket", p_bucket)
    i = intervals.withColumn("__bucket", F.explode(i_buckets))
    joined = p.join(i, by + ["__bucket"])
    return (joined.filter((F.col(point_ts) >= F.col(lo))
                          & (F.col(point_ts) <= F.col(hi)))
                  .drop("__bucket"))


def resample_ffill(obs: DataFrame, by: Sequence[str], ts_col: str,
                   step_s: int, tolerance_s: int | None = None,
                   suffix: str = "_r") -> DataFrame:
    """Resample irregular observations onto a regular ``step_s``-second
    grid per key, forward-filling each grid point from the latest
    observation at-or-before it — the standard time-series alignment
    step before joining feeds of different cadences.

    Grid contract (closed-form, engine-portable): per key, every epoch
    multiple of ``step_s`` in ``[ceil(min_sec/step)·step,
    floor(max_sec/step)·step]``; emitted as ``grid_sec`` (epoch seconds,
    long) plus ``grid_ts`` (timestamp convenience).  Matching happens at
    SECOND granularity (timestamps floor to epoch seconds — the same
    documented truncation as rolling_range), so an observation at
    12:00:00.7 fills the 12:00:00 grid point.  ``tolerance_s`` nulls
    fills older than the given age (gap detection).

    Scale shape: grid generation is one tiny per-key min/max aggregate +
    a JVM ``sequence``/``explode`` (rows ∝ span/step, streamed — the
    grid never materializes on the driver), then ONE :func:`asof_join`
    — which is itself a single union + keyed running-last window, no
    join node.  Hot keys: pass a finer ``by`` or use asof_join's
    ``chunk_s`` escape hatch downstream.

    Honest cost note: ``obs`` is scanned TWICE (once for the bounds agg,
    once as the fill side) — ``.persist()`` the projected observation
    frame first when the upstream is expensive; the planner cannot share
    the scan across the two differently-shaped jobs.
    """
    if step_s <= 0:
        raise ValueError("resample_ffill: step_s must be positive")
    by = list(by)
    sec = F.unix_timestamp(F.col(ts_col))
    bounds = (obs.groupBy(*by)
              .agg(F.min(sec).alias("__lo"), F.max(sec).alias("__hi")))
    lo = (F.ceil(F.col("__lo") / F.lit(step_s)) * step_s).cast("long")
    hi = (F.floor(F.col("__hi") / F.lit(step_s)) * step_s).cast("long")
    grid = (bounds
            .where(lo <= hi)
            .select(*by,
                    F.explode(F.sequence(lo, hi, F.lit(step_s)))
                    .alias("grid_sec"))
            .withColumn("grid_ts",
                        F.timestamp_seconds(F.col("grid_sec"))))
    obs2 = obs.withColumn("__obs_sec", sec)
    out = asof_join(grid, obs2, by=by, left_ts="grid_sec",
                    right_ts="__obs_sec", suffix=suffix,
                    tolerance_s=tolerance_s)
    return out.drop(f"__obs_sec{suffix}")


def history_intervals(changes: DataFrame, by: Sequence[str], ts_col: str,
                      attr_cols: Sequence[str],
                      collapse_unchanged: bool = True) -> DataFrame:
    """Build SCD-type-2 validity intervals from a change log: one row per
    (key, attribute version) with ``valid_from`` / ``valid_to``
    (``valid_to`` NULL = current).  The standard dimension-history shape
    for incremental warehouses.

    ``collapse_unchanged`` drops change rows whose ``attr_cols`` all equal
    the previous row's (no-op updates), so consecutive intervals always
    differ — compared null-safely (``<=>``), a NULL→NULL attribute is
    "unchanged".

    Determinism: rows tie-broken by the full attribute tuple after
    ``ts_col``; two changes at the SAME timestamp with different attrs
    produce a zero-length interval for the lesser tuple (documented —
    dedup upstream if the log can carry same-instant conflicts).

    Scale shape: one keyed shuffle; both the collapse filter and the
    ``lead`` ride the SAME window sort (Catalyst folds the two windows
    over one partitioning into one Exchange + one in-task sort)."""
    by, attr_cols = list(by), list(attr_cols)
    if not attr_cols:
        raise ValueError("history_intervals: need attr_cols")
    order = [F.asc(ts_col)] + [F.asc_nulls_first(c) for c in attr_cols]
    w = Window.partitionBy(*by).orderBy(*order)
    out = changes
    if collapse_unchanged:
        # lag(attr) is NULL both when there IS no previous row and when
        # the previous attr IS NULL — a first row with NULL attrs must
        # not collapse, so gate on an explicit has-previous marker.
        same = F.lag(F.lit(1)).over(w).isNotNull()
        for c in attr_cols:
            same = same & F.col(c).eqNullSafe(F.lag(c).over(w))
        out = (out.withColumn("__dup", F.coalesce(same, F.lit(False)))
                  .where(~F.col("__dup")).drop("__dup"))
    out = (out.withColumn("valid_from", F.col(ts_col))
              .withColumn("valid_to", F.lead(ts_col).over(w)))
    return out.select(*by, *attr_cols, "valid_from", "valid_to")


def interval_join(left: DataFrame, right: DataFrame,
                  lo_l: str, hi_l: str, lo_r: str, hi_r: str,
                  by: Sequence[str] = (),
                  bucket_s: int = 3600) -> DataFrame:
    """Interval-OVERLAP join: every (left, right) row pair whose CLOSED
    intervals intersect — ``lo_l <= hi_r AND lo_r <= hi_l`` (plus equal
    ``by`` keys).  The interval×interval sibling of :func:`range_join`
    (point-in-interval): concurrency analysis (overlapping sessions,
    co-active incidents), temporal record linkage, validity-window
    reconciliation between two SCD histories.

    Plan — the chunked equi-join that keeps this off the cartesian
    cliff at 100 TB: BOTH sides explode to the ``bucket_s``-second
    epoch buckets they span, the join is an equi-join on
    ``(by..., bucket)`` (hash-partitioned, AQE-skew-splittable), the
    exact overlap predicate prices candidates inside the bucket, and
    each qualifying pair is kept exactly once WITHOUT a distinct: an
    overlapping pair shares the bucket containing ``max(lo_l, lo_r)``
    (that instant lies in both intervals), so only the copy landing in
    that bucket survives.  No dedup shuffle, and genuine duplicate
    input rows pass through unharmed — ids are not required.

    Cost model is :func:`range_join`'s: candidate volume ≈ |matches| +
    Σ intervals × (span/bucket_s); pick ``bucket_s`` near the typical
    interval length, and cap long-tail intervals upstream (a single
    year-long interval explodes to 8760 hourly buckets — real, but
    linear and partition-parallel).

    Output: all columns of ``left`` then ``right`` (``by`` keys once,
    from the left).  Column names outside ``by`` must be disjoint
    between the sides — raises otherwise (rename upstream; silent
    ambiguity is worse).  NULL bounds never match (SQL comparison
    semantics); intervals with ``lo > hi`` are empty and match
    nothing (the sequence() explode yields no buckets)."""
    by = list(by)
    overlap_l = set(left.columns) & set(right.columns) - set(by)
    if overlap_l:
        raise ValueError(
            "interval_join: column name(s) "
            f"{sorted(overlap_l)} appear on both sides — rename one "
            "side (only `by` keys may be shared)")
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be > 0, got {bucket_s}")

    def _epoch(c):  # NTZ-safe epoch seconds (session tz pinned UTC)
        return F.col(c).cast("timestamp").cast("long")

    l_buckets = F.sequence(F.floor(_epoch(lo_l) / bucket_s),
                           F.floor(_epoch(hi_l) / bucket_s))
    r_buckets = F.sequence(F.floor(_epoch(lo_r) / bucket_s),
                           F.floor(_epoch(hi_r) / bucket_s))
    lt = left.withColumn("__bucket", F.explode(l_buckets))
    rt = right.withColumn("__bucket", F.explode(r_buckets))
    joined = lt.join(rt, by + ["__bucket"])
    anchor = F.floor(
        F.greatest(_epoch(lo_l), _epoch(lo_r)) / bucket_s)
    return (joined
            .filter((F.col(lo_l) <= F.col(hi_r))
                    & (F.col(lo_r) <= F.col(hi_l))
                    & (F.col("__bucket") == anchor))
            .drop("__bucket"))


def merge_intervals(df: DataFrame, by: Sequence[str],
                    lo: str = "lo", hi: str = "hi",
                    gap_s: int = 0) -> DataFrame:
    """Gaps-and-islands: coalesce each key's overlapping (or
    ``gap_s``-close) CLOSED intervals into maximal islands —
    ``(by…, island_idx, lo, hi, n_intervals)``, ``island_idx`` 0-based
    per key in time order.  The coverage primitive: activity windows →
    sessions, validity fragments → contiguous history, incident spans
    → outage episodes.

    Semantics: intervals belong to one island iff they chain through
    overlaps-or-gaps ≤ ``gap_s`` seconds (touching endpoints merge at
    the default 0).  Rows with a NULL bound are dropped (an unbounded
    fragment has no island semantics); ``lo > hi`` rows are empty
    intervals and are dropped too.

    Plan: ONE keyed shuffle.  Within the (by…)-partitioned
    (lo, hi)-sorted window, an island starts where ``lo`` exceeds the
    RUNNING MAX of all previous ``hi`` (the running max — not lag(hi)
    — is what makes a long interval absorb short ones that start and
    end inside it); the island id is the running sum of those starts,
    and the final fold is a groupBy over the same partitioning, so
    Catalyst plans window + window + agg behind a single Exchange.
    Per-key memory is O(1) per row (two running accumulators), never
    the island's member list."""
    by = list(by)
    if gap_s < 0:
        raise ValueError(f"gap_s must be >= 0, got {gap_s}")
    from pyspark.sql import Window

    def _us(c):  # NTZ-safe epoch micros (session tz pinned UTC)
        return F.unix_micros(F.col(c).cast("timestamp"))

    w = Window.partitionBy(*by).orderBy(_us(lo), _us(hi))
    prev_max_hi = F.max(_us(hi)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    starts = F.when(
        prev_max_hi.isNull()
        | (_us(lo) > prev_max_hi + gap_s * 1_000_000),
        F.lit(1)).otherwise(F.lit(0))
    labeled = (df
               .where(F.col(lo).isNotNull() & F.col(hi).isNotNull()
                      & (_us(lo) <= _us(hi)))
               .withColumn("__island",
                           F.sum(starts).over(
                               w.rowsBetween(Window.unboundedPreceding,
                                             0)) - 1))
    return (labeled.groupBy(*by, "__island")
            .agg(F.min(lo).alias(lo), F.max(hi).alias(hi),
                 F.count(F.lit(1)).alias("n_intervals"))
            .select(*by, F.col("__island").cast("long")
                    .alias("island_idx"), lo, hi, "n_intervals"))


def concurrency_profile(intervals: DataFrame, lo: str = "lo",
                        hi: str = "hi",
                        by: Sequence[str] = ()) -> DataFrame:
    """Sweep-line concurrency: ``(by…, ts_us, n_active)`` — one row per
    instant where the number of simultaneously-active CLOSED intervals
    changes, ``n_active`` = the count active from that instant until
    the next row.  Peak concurrency, capacity sizing, "how many
    sessions were live at once" — the aggregate view
    :func:`interval_join` prices pairwise.

    Semantics: interval [lo, hi] contributes +1 at ``lo`` and −1 at
    ``hi + 1 µs`` (closed-interval convention, micros precision);
    same-instant deltas collapse before the running sum, so touching
    endpoints hand over without a spurious dip.  NULL-bounded and
    inverted rows are dropped (:func:`merge_intervals` semantics).

    Scale shape: with ``by`` keys the running sum is one keyed window
    (one Exchange).  KEYLESS — the global profile — is the interesting
    case: a naive ``Window.orderBy(ts)`` moves everything to ONE task
    (Spark's own WindowExec warning).  Instead the prefix sum runs in
    two phases: range-repartition by ``ts``, per-partition running sums
    (each task sums only its slice), then the per-partition TOTALS —
    one row per partition, never data — collect to the driver and
    broadcast back as exclusive-prefix offsets.  Exactly the
    broadcast-offset ordinal discipline (``plans/ordinal.py``) applied
    to a sum instead of a count; correct for ANY range boundary
    placement because offsets come from the actual totals."""
    by = list(by)

    def _us(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    base = intervals.where(
        F.col(lo).isNotNull() & F.col(hi).isNotNull()
        & (_us(lo) <= _us(hi)))
    deltas = (base.select(*by, _us(lo).alias("ts_us"),
                          F.lit(1).alias("__d"))
              .union(base.select(*by, (_us(hi) + 1).alias("ts_us"),
                                 F.lit(-1).alias("__d")))
              .groupBy(*by, "ts_us").agg(F.sum("__d").alias("__d")))
    from pyspark.sql import Window
    if by:
        w = (Window.partitionBy(*by).orderBy("ts_us")
             .rowsBetween(Window.unboundedPreceding, 0))
        return deltas.select(*by, "ts_us",
                             F.sum("__d").over(w).cast("long")
                             .alias("n_active"))
    part = (deltas.repartitionByRange(
                max(2, deltas.sparkSession.sparkContext
                    .defaultParallelism), "ts_us")
            .withColumn("__pid", F.spark_partition_id())
            .transform(truncate_lineage))
    w = (Window.partitionBy("__pid").orderBy("ts_us")
         .rowsBetween(Window.unboundedPreceding, 0))
    run = part.withColumn("__run", F.sum("__d").over(w))
    totals = (part.groupBy("__pid").agg(F.sum("__d").alias("__t"))
              .collect())
    offs = {}
    acc = 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offs[r["__pid"]] = acc
        acc += r["__t"]
    spark = intervals.sparkSession
    off_df = tiny_df(
        spark, [(int(p), int(o)) for p, o in offs.items()],
        "__pid int, __off long")
    return (run.join(F.broadcast(off_df), "__pid")
            .select("ts_us", (F.col("__run") + F.col("__off"))
                    .cast("long").alias("n_active")))
