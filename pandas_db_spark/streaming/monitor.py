"""Streaming corpus-drift monitor — term-distribution TVD per micro-batch.

The batch drift report (``operators/stats.term_drift`` /
``tvd_summary``) answers "did the mix move?" between two snapshots.  A
rolling ingest needs the same answer CONTINUOUSLY: after every
micro-batch, how far has the accumulated corpus drifted from the pinned
reference distribution (yesterday's corpus, the training mix the model
was tuned on)?  This module maintains that series with the module's
standard ``foreachBatch`` + partitioned-parquet-store contract.

Layout under ``monitor_dir`` (plain partitioned parquet):

* ``reference/``            — the pinned reference vocab counts
  ``(term, c)``, written ONCE when the monitor first runs; later runs
  must not pass a different reference (the series would silently
  change meaning), so a reference re-supply is ignored once pinned.
* ``counts/batch_id=N/``    — each micro-batch's exact ``(term, c)``
  counts.  Pre-aggregated vocab tables, never documents: the store
  grows with |vocab|·batches, not corpus size.
* ``drift/batch_id=N/``     — one row per batch:
  ``(batch_id, tvd_num, n_corpus, n_ref)`` where the CUMULATIVE corpus
  (all batches up to and including N) has
  ``TVD = tvd_num / (2·n_corpus·n_ref)`` against the reference — the
  same exact-integer surface as ``corpus_drift_tvd``, so the series
  hash-compares against a whole-corpus batch replay bit-for-bit.

Draining and replay idempotence live in ``streaming/sink.py``: every
runner here drains through ``drain_batches`` and every per-batch write is
a ``write_batch`` dynamic partition overwrite keyed on ``batch_id``, so a
crash replay rewrites only its own partitions.  The drift row for batch
N is recomputed FROM THE COUNTS STORE, so a replayed batch N produces the
identical row even though later batches may already exist (the
cumulative fold filters ``batch_id <= N``).

Scale shape: per-batch cost is one token-count aggregate over the BATCH
plus a groupBy-sum fold over the persisted per-batch vocab tables and
one full-outer join against the reference vocab — all |vocab|-sized,
none corpus-sized.  At 100 TB the counts store is the only thing that
grows; fold it offline by summing old batches into one partition if
batch count ever matters (the same shape as the index compactors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pandas_db_spark.operators.stats import drift_from_counts, term_counts
from pandas_db_spark.streaming.sink import (assert_quiesced, compact,
                                            drain_batches, hadoop_fs,
                                            is_path_not_found, write_batch)

from pandas_db_spark.session import tiny_df as _tiny_df


def _sql_path(path: str) -> str:
    """Validate a store path before interpolation into SQL text (ADVICE
    r14): the drift fold embeds ``parquet.`<path>/...``` in one
    ``spark.sql`` string, so a path containing a backtick (or a newline,
    which would let following text escape the identifier) would break —
    or worse, rewrite — the query.  Store dirs are internal ``mkdtemp``
    paths in practice; anything exotic fails fast here instead of
    deep inside the parser."""
    if any(ch in path for ch in ("`", "\n", "\r")):
        raise ValueError(
            f"monitor_dir {path!r} contains a backtick/newline — unsafe "
            "to embed in SQL text; use a plain filesystem path")
    return path


def _reference_counts(spark: SparkSession, monitor_dir: str,
                      reference_df: DataFrame | None,
                      text_col: str) -> DataFrame:
    """Load the pinned reference vocab, writing it exactly once."""
    from pyspark.errors import AnalysisException
    ref_path = monitor_dir + "/reference"
    try:
        return spark.read.parquet(ref_path)
    except AnalysisException as exc:
        # ONLY path-not-found means "first run"; a corrupted reference
        # or IO error must propagate — silently refitting would change
        # the series' meaning (the _read_store discipline)
        if not is_path_not_found(exc):
            raise
    if reference_df is None:
        raise ValueError(
            "drift monitor has no pinned reference at "
            f"{ref_path} and no reference_df was supplied — the first "
            "run must provide the distribution to drift against")
    term_counts(reference_df, text_col).write.mode(
        "error").parquet(ref_path)
    return spark.read.parquet(ref_path)


def append_drift_batch(batch_df: DataFrame, batch_id: int,
                       monitor_dir: str,
                       reference_df: DataFrame | None = None,
                       text_col: str = "text") -> None:
    """Fold one micro-batch into the monitor: persist its vocab counts,
    recompute the cumulative-corpus-vs-reference TVD, persist the drift
    row.  Factored out of the ``foreachBatch`` handler so the driver
    gate can replay batches deterministically without a checkpoint."""
    spark = batch_df.sparkSession
    _reference_counts(spark, monitor_dir, reference_df, text_col)
    write_batch(term_counts(batch_df, text_col), batch_id,
                monitor_dir + "/counts")
    # cumulative fold FROM THE STORE, bounded at this batch id, so a
    # replay of batch N yields batch N's row even after N+1 landed.
    # The fold is ONE spark.sql text (r14): the DataFrame form of the
    # same plan paid ~690 py4j round-trips of per-op analysis per
    # append and measured 2.3× slower end-to-end with bit-identical
    # output (exact integer ops only — same full-outer join, same
    # coalesce/abs/sum, same _guarded_totals overflow raise).
    monitor_dir = _sql_path(monitor_dir)
    maxl = (1 << 63) - 1
    guard = ("term_drift: n_a*n_b would exceed 2^63-1 — the "
             "exact-integer cross-multiplication would wrap silently "
             "under non-ANSI longs; shard the snapshots or compute "
             "with DECIMAL(38) arithmetic").replace("'", "''")
    row = spark.sql(f"""
        WITH cum AS (SELECT term, sum(c) AS c_a
                     FROM parquet.`{monitor_dir}/counts`
                     WHERE batch_id <= {int(batch_id)}
                     GROUP BY term),
        ref AS (SELECT term, c AS c_b
                FROM parquet.`{monitor_dir}/reference`),
        na AS (SELECT sum(c_a) AS n_a FROM cum),
        nb AS (SELECT sum(c_b) AS n_b FROM ref),
        sc AS (SELECT CASE WHEN n_a IS NULL OR coalesce(n_b, 0) = 0
                           OR n_a <= {maxl} div n_b THEN n_a
                           ELSE raise_error('{guard}') END AS n_a,
                      n_b
               FROM na CROSS JOIN nb),
        u AS (SELECT coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
              FROM cum FULL OUTER JOIN ref USING (term))
        SELECT cast(sum(abs(u.c_a * sc.n_b - u.c_b * sc.n_a)) AS BIGINT)
                   AS tvd_num,
               cast(first(sc.n_a) AS BIGINT) AS n_corpus,
               cast(first(sc.n_b) AS BIGINT) AS n_ref
        FROM u CROSS JOIN sc""")
    write_batch(row, batch_id, monitor_dir + "/drift")


def run_drift_monitor(stream_df: DataFrame, monitor_dir: str,
                      checkpoint_dir: str,
                      reference_df: DataFrame | None = None,
                      text_col: str = "text") -> None:
    """Drive the monitor from a document stream
    (``sink.drain_batches``).  ``reference_df`` is only consulted
    on the very first batch ever; thereafter the pinned reference under
    ``monitor_dir/reference`` is authoritative."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_drift_batch(
                      b, i, monitor_dir, reference_df, text_col))


def drift_history(spark: SparkSession, monitor_dir: str) -> DataFrame:
    """The monitor's output series: one exact-integer row per drained
    batch, ascending ``batch_id``."""
    return (spark.read.parquet(monitor_dir + "/drift")
            .select("batch_id", "tvd_num", "n_corpus", "n_ref")
            .orderBy("batch_id"))


def drift_top_terms(spark: SparkSession, monitor_dir: str,
                    k: int = 20) -> DataFrame:
    """Which terms moved: the full per-term drift report of the CURRENT
    cumulative corpus vs the pinned reference, top-k by exact integer
    drift (ties broken by term so the cut is deterministic)."""
    ref = spark.read.parquet(monitor_dir + "/reference")
    cum = (spark.read.parquet(monitor_dir + "/counts")
           .groupBy("term").agg(F.sum("c").alias("c")))
    return (drift_from_counts(cum, ref)
            .orderBy(F.col("drift_num").desc(), "term").limit(k))


def vocab_top_streamed(spark: SparkSession, monitor_dir: str,
                       k: int = 50) -> DataFrame:
    """Streaming heavy hitters: the top-k terms of the cumulative
    corpus AS OF the last drained batch, served from the monitor's
    per-batch counts store — ``(term, cf)`` with the deterministic
    ``(cf DESC, term)`` tie-break.

    The store IS the sketch: each micro-batch wrote its own exact
    vocab partition, so serving is one vocab-sized ``groupBy(term)``
    fold over ``counts/`` plus a TakeOrdered — never a corpus re-scan,
    and exact (no count-min error term), replay-idempotent because the
    underlying partitions are.  Cost grows with STORE vocab, not
    corpus; ``compact_drift_counts`` folds the per-batch partitions
    when batch count dominates vocab size."""
    cum = (spark.read.parquet(monitor_dir + "/counts")
           .groupBy("term").agg(F.sum("c").alias("cf")))
    return cum.orderBy(F.col("cf").desc(), "term").limit(k)


def compact_drift_counts(spark: SparkSession, monitor_dir: str,
                         checkpoint_dir: str | None = None) -> dict:
    """Fold the monitor's per-batch fragmentation offline (one counts
    file and one drift file land per batch): both stores rewrite
    row-identically under the reserved ``batch_id=-1`` partition at one
    file each — the cumulative fold's ``batch_id <= N`` filter keeps
    including them (−1 ≤ anything), so a resumed stream composes and
    later replays of POST-compaction batches stay idempotent.  The fold
    is ``streaming.sink.compact`` (staged swap, crash rollback), shared
    with the index compactors, and so are the rules: run OFFLINE, keep
    the checkpoint, pass ``checkpoint_dir`` to refuse while a batch is
    started-but-uncommitted."""
    return compact(spark, monitor_dir, {"counts": None, "drift": None},
                   checkpoint_dir)


def drift_alert(spark: SparkSession, monitor_dir: str,
                threshold_ppm: int) -> DataFrame:
    """Batches whose cumulative drift exceeded the budget: rows of
    :func:`drift_history` with ``TVD > threshold_ppm / 1e6`` — the
    trigger a rolling ingest wires to pause intake or page when a crawl
    shifts the mix.  The compare runs as EXACT DECIMAL(38) integer
    cross-multiplication (``tvd_num·10⁶ > thr·2·n_corpus·n_ref`` — both
    sides can exceed int64, so the int64 surface is never trusted with
    the product), keeping the alert decision bit-identical to any SQL
    replay, same as the series itself."""
    if threshold_ppm < 0:
        raise ValueError(
            f"threshold_ppm must be >= 0, got {threshold_ppm}")
    h = drift_history(spark, monitor_dir)
    d = "decimal(38,0)"
    lhs = F.col("tvd_num").cast(d) * F.lit(1_000_000).cast(d)
    rhs = (F.lit(int(threshold_ppm)).cast(d) * F.lit(2).cast(d)
           * F.col("n_corpus").cast(d) * F.col("n_ref").cast(d))
    return h.where(lhs > rhs)


# ---------------------------------------------------------------------------
# Bounded-memory streaming heavy hitters — mergeable Misra-Gries summaries
# (VERDICT r12 Next #6).  vocab_top_streamed above is EXACT but its counts
# store is vocab-sized, and at 100 TB of web text the vocab IS the data;
# this family keeps a store of AT MOST `capacity` rows per batch partition
# with a PROVEN deviation bound, mirroring the repo's exact/sketch pairing
# (median/quantile_approx, nunique/approx_count_distinct).
#
# Guarantee (Misra-Gries 1982; merge rule + proof: Agarwal, Cormode,
# Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012): with
# capacity k, every estimate satisfies
#
#     c_est(t)  <=  c_true(t)  <=  c_est(t) + err_ub,   err_ub <= N/(k+1)
#
# (terms absent from the summary have c_est = 0), because each trim that
# subtracts delta removes >= delta*(k+1) mass from the running total N.
# The store additionally records the EXACT cumulative err_ub (the sum of
# applied deltas), which is typically far below the worst-case N/(k+1).
#
# Determinism: batch counts are exact integers, the merge is a keyed sum,
# and the trim threshold is the (k+1)-th largest VALUE (never a row pick),
# so for a fixed batch split the summary is bit-identical across
# partitionings/engines and the whole fold SQL-replays — the registry's
# heavy_hitters_mg query hash-checks it against a DuckDB replay.


def mg_trim(counts: DataFrame, capacity: int) -> tuple[DataFrame, int]:
    """One Misra-Gries reduction: if ``counts`` (``term``, ``c``) has
    more than ``capacity`` rows, subtract the (capacity+1)-th largest
    count from every row and keep the positive remainder (at most
    ``capacity`` rows survive, since only counts strictly above the
    threshold stay).  Returns ``(trimmed, delta)`` — delta is the exact
    error this reduction added to every surviving/dropped estimate.

    The threshold probe is one TakeOrdered job over the count table
    (bounded: capacity+1 rows reach the driver)."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    top = (counts.orderBy(F.col("c").desc()).limit(capacity + 1)
           .agg(F.count(F.lit(1)).alias("n"),
                F.min("c").alias("m")).collect()[0])
    if int(top["n"] or 0) <= capacity:
        return counts, 0
    delta = int(top["m"])
    return (counts.where(F.col("c") > delta)
            .select("term", (F.col("c") - delta).cast("long").alias("c")),
            delta)


def _read_hh_state(spark: SparkSession, store_dir: str,
                   before_batch: int) -> tuple[DataFrame | None, int, int]:
    """Latest (summary, n_tokens_cum, err_ub_cum) persisted STRICTLY
    before ``before_batch`` — a replay of batch N folds exactly the
    state batch N saw the first time, even after N+1 landed."""
    from pyspark.errors import AnalysisException
    try:
        meta = (spark.read.parquet(store_dir + "/hhmeta")
                .where(F.col("batch_id") < before_batch))
        row = meta.orderBy(F.col("batch_id").desc()).limit(1).collect()
    except AnalysisException as exc:
        if not is_path_not_found(exc):
            raise
        return None, 0, 0
    if not row:
        return None, 0, 0
    prev_id = int(row[0]["batch_id"])
    prev_n, prev_err = int(row[0]["n_tokens"]), int(row[0]["err_ub"])
    # Integrity receipt: hhmeta records how many rows its batch's
    # summary held (n_rows), so a prev partition that reads
    # back SHORT means the summary was pruned/lost out of band — folding
    # an EMPTY/partial previous state would silently restart the
    # estimates while the meta ledger keeps accumulating: a wrong answer
    # with no error.  A legitimately empty summary (every merged row
    # tied at the trim threshold — valid MG state) has n_rows=0 recorded
    # and is served without touching summary/ (whose batch_id=prev
    # partition was never written).  Stores written before n_rows
    # existed lack the column and skip the check rather than refuse to
    # load.
    expect = (int(row[0]["n_rows"])
              if "n_rows" in [f.name for f in meta.schema.fields]
              and row[0]["n_rows"] is not None else None)
    if expect == 0:
        return None, prev_n, prev_err
    # Explicit schema: if EVERY summary partition was pruned out of band
    # the dir reads as 0 rows (instead of UNABLE_TO_INFER_SCHEMA) so the
    # n_rows receipt below raises the documented inconsistency error.
    summary = (spark.read.schema("term string, c long, batch_id long")
               .parquet(store_dir + "/summary")
               .where(F.col("batch_id") == prev_id)
               .select("term", "c"))
    if expect is not None:
        have = summary.count()
        if have != expect:
            raise IOError(
                f"heavy-hitter store at {store_dir} is inconsistent: "
                f"hhmeta says summary/batch_id={prev_id} holds {expect} "
                f"rows but reading it yields {have} — the partition was "
                "pruned or lost out of band; restore it or rebuild the "
                "store")
    return summary, prev_n, prev_err


def append_heavy_hitters_batch(batch_df: DataFrame, batch_id: int,
                               store_dir: str, capacity: int = 4096,
                               text_col: str = "text") -> None:
    """Fold one micro-batch into the bounded heavy-hitter store:
    exact batch term counts (batch-bounded, the only corpus-touching
    step) merge into the previous <=capacity-row summary by keyed sum,
    then ONE Misra-Gries trim bounds the result back to ``capacity``
    rows; the new summary and the exact cumulative ``(n_tokens,
    err_ub)`` land under ``batch_id=N`` dynamic-overwrite partitions
    (the module's replay-idempotent sink contract).

    Store size: <= capacity rows per batch partition + a 1-row meta —
    FLAT in corpus size and vocab size, the property the exact monitor
    store can't have.  Old partitions serve only replay determinism;
    prune them offline to the latest if batch count ever matters (the
    compact_drift_counts note)."""
    from pyspark import StorageLevel
    spark = batch_df.sparkSession
    prev, prev_n, prev_err = _read_hh_state(spark, store_dir, batch_id)
    # r14 optimization: the batch term count is the only corpus-touching
    # step, but it used to execute THREE times (the batch-total agg,
    # mg_trim's threshold probe, and the summary write each re-ran the
    # explode+groupBy).  Persist it (batch-vocab-bounded, spilled under
    # pressure) so the corpus folds exactly once, and replace the
    # probe-then-write pair with ONE TakeOrdered of capacity+1 rows: the
    # trim threshold is the min of that set (exactly mg_trim's value)
    # and every surviving row (c > delta) is necessarily inside it, so
    # the <= capacity-row summary is derived and written from the
    # already-bounded driver rows — no second distributed execution.
    # Measured at sf0.1: append 1.6 s -> 0.9 s, identical store bytes.
    batch_counts = term_counts(batch_df, text_col).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        batch_n = int(batch_counts.agg(
            F.coalesce(F.sum("c"), F.lit(0))).collect()[0][0])
        if prev is None:
            merged = batch_counts
        else:
            merged = (prev.withColumnRenamed("c", "c_a")
                      .join(batch_counts.withColumnRenamed("c", "c_b"),
                            "term", "full_outer")
                      .select("term",
                              (F.coalesce("c_a", F.lit(0))
                               + F.coalesce("c_b", F.lit(0)))
                              .cast("long").alias("c")))
        # bounded: capacity+1 rows reach the driver — the same bound
        # mg_trim's probe already had; the terms just ride along now
        top = (merged.orderBy(F.col("c").desc())
               .limit(capacity + 1).collect())
    finally:
        batch_counts.unpersist()
    if len(top) <= capacity:
        # fewer than capacity+1 rows exist → merged was returned whole
        delta = 0
        rows = [(r["term"], int(r["c"])) for r in top]
    else:
        # Misra-Gries trim: subtract the (capacity+1)-th largest COUNT
        # (a value, never a row pick — deterministic under ties) and
        # keep the positive remainders, all of which sit inside `top`
        delta = min(int(r["c"]) for r in top)
        rows = [(r["term"], int(r["c"]) - delta)
                for r in top if int(r["c"]) > delta]
    n_rows = len(rows)
    # the write is issued even when empty (valid MG state: every merged
    # row tied at the trim threshold) — exactly as before, an empty
    # dynamic overwrite writes no partition; n_rows is the count of rows
    # just written (the integrity receipt _read_hh_state checks, ADVICE
    # r13), now known without re-reading the partition
    write_batch(_tiny_df(spark, rows, "term string, c long"), batch_id,
                store_dir + "/summary")
    meta = _tiny_df(spark, [(prev_n + batch_n, prev_err + delta, n_rows)],
                    "n_tokens long, err_ub long, n_rows long")
    write_batch(meta, batch_id, store_dir + "/hhmeta")


def run_heavy_hitter_ingest(stream_df: DataFrame, store_dir: str,
                            checkpoint_dir: str, capacity: int = 4096,
                            text_col: str = "text") -> None:
    """Drive the bounded heavy-hitter store from a document stream
    (``sink.drain_batches``)."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_heavy_hitters_batch(
                      b, i, store_dir, capacity, text_col))


def heavy_hitters_topk(spark: SparkSession, store_dir: str,
                       k: int = 50) -> DataFrame:
    """Top-k heavy hitters AS OF the last drained batch —
    ``(term, c_low)`` with the deterministic ``(c_low DESC, term)``
    tie-break, served from the LATEST <=capacity-row summary partition
    only (partition-pruned read; never a corpus or vocab scan).
    ``c_low`` is the Misra-Gries lower bound: true count is within
    ``err_ub`` above it (see :func:`heavy_hitters_meta`)."""
    from pyspark.sql.functions import max as smax
    latest = (spark.read.parquet(store_dir + "/hhmeta")
              .agg(smax("batch_id")).collect()[0][0])
    return (spark.read.parquet(store_dir + "/summary")
            .where(F.col("batch_id") == int(latest))
            .select("term", F.col("c").alias("c_low"))
            .orderBy(F.col("c_low").desc(), "term").limit(k))


def heavy_hitters_meta(spark: SparkSession, store_dir: str) -> DataFrame:
    """The per-batch guarantee ledger: ``(batch_id, n_tokens, err_ub)``
    cumulative rows, ascending.  For every term, ``c_low <= c_true <=
    c_low + err_ub``; ``err_ub <= n_tokens / (capacity + 1)`` by the
    Misra-Gries bound, and the stored value is the exact (usually far
    smaller) sum of applied trim deltas."""
    return (spark.read.parquet(store_dir + "/hhmeta")
            .select("batch_id", "n_tokens", "err_ub")
            .orderBy("batch_id"))


# ---------------------------------------------------------------------------
# Streaming distinct-count store — one mergeable HLL sketch row per batch.
# The cardinality companion to the heavy hitters above: "how large is the
# vocab so far?" without storing the vocab (the exact monitor's counts
# store answers it at vocab-sized cost; this answers it at ~KB/batch).
# Spark's built-in DataSketches HLL functions (hll_sketch_agg /
# hll_union_agg / hll_sketch_estimate) do the work JVM-side; register
# merges are max-based, so the sketch and its estimate are independent
# of row order and partitioning — deterministic for a fixed batch split.


def append_distinct_sketch_batch(batch_df: DataFrame, batch_id: int,
                                 store_dir: str, text_col: str = "text",
                                 lg_k: int = 12) -> None:
    """Fold one micro-batch into the distinct-token sketch store: ONE
    row ``(sk: binary, n_tokens: long)`` lands under
    ``sketches/batch_id=N`` (dynamic overwrite — the module's
    replay-idempotent contract).  ``lg_k`` fixes the sketch's register
    count (2^lg_k; relative standard error ~1.04/sqrt(2^lg_k), ~1.6%
    at the default 12) and must be the same for every batch of a
    store."""
    if not 4 <= lg_k <= 21:
        raise ValueError(f"lg_k must be in [4, 21], got {lg_k}")
    toks = batch_df.select(F.explode(
        F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"))
    row = toks.agg(
        F.hll_sketch_agg("term", F.lit(lg_k)).alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"))
    write_batch(row.withColumn("lg_k", F.lit(lg_k)).coalesce(1), batch_id,
                store_dir + "/sketches")


def distinct_estimate(spark: SparkSession, store_dir: str) -> DataFrame:
    """Cumulative distinct-token estimate AS OF the last drained batch:
    one row ``(n_batches, n_tokens, estimate)`` — a union-merge of the
    per-batch sketches (one tiny job over n_batches KB-sized rows,
    never a vocab or corpus scan)."""
    sk = spark.read.parquet(store_dir + "/sketches")
    return sk.agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long").alias("estimate"))


def run_distinct_sketch_ingest(stream_df: DataFrame, store_dir: str,
                               checkpoint_dir: str,
                               text_col: str = "text",
                               lg_k: int = 12) -> None:
    """Drive the sketch store from a document stream
    (``sink.drain_batches``)."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_distinct_sketch_batch(
                      b, i, store_dir, text_col, lg_k))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-SAMPLE store (r14) — the sample-bearing
# companion to the HLL store above (Bar-Yossef et al., RANDOM 2002;
# Beyer et al., SIGMOD 2007 unbiased estimator).  HLL answers "how many
# distinct?" in KBs but can never answer "show me some" — KMV keeps the
# k lexicographically-smallest MD5 digests of the distinct items seen,
# which is simultaneously
#
#   * a UNIFORM without-replacement sample of the distinct-item
#     population (a cryptographic hash orders items uniformly, and the
#     bottom-k of a uniform order is a uniform sample) — the sampled
#     items ride along, so "sample 256 distinct URLs from 100 TB" is a
#     store probe;
#   * a distinct-count estimator: n_hat = (k-1) / r_k with r_k the k-th
#     smallest hash as a fraction of hash space (RSE ~ 1/sqrt(k-2));
#   * mergeable by plain UNION + bottom-k (identical items hash
#     identically, so merge order cannot matter), and intersectable:
#     two stores' samples support Jaccard / overlap estimates between
#     corpus snapshots.
#
# Everything is DETERMINISTIC for a fixed item set (MD5 is a pure
# function; both Spark and DuckDB produce the same lowercase-hex
# digest), so unlike HLL the store AND the estimate are value-
# oracle-able: the fraction uses the first 12 hex chars as a 48-bit
# integer (exactly representable in a double, so the (k-1)*16^12/r
# arithmetic replays bit-for-bit in SQL).  Store size: <= k rows per
# batch + 1 meta row — flat in corpus and vocab size.

_KMV_HEX_DIGITS = 12                     # 48 bits: double-exact in SQL
_KMV_SPACE = 16 ** _KMV_HEX_DIGITS       # 2^48


def append_kmv_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                     text_col: str = "text", k: int = 256) -> None:
    """Fold one micro-batch into the KMV store: the batch's distinct
    tokens hash (MD5 hex), the ``k`` smallest land as ``(h, item)``
    rows under ``kmv/batch_id=N`` plus the batch ledger ``(n_tokens,
    n_rows)`` under ``kmvmeta/batch_id=N`` — dynamic overwrites, the
    module's replay-idempotent contract.  The bottom-k is a
    TakeOrdered (never a global sort); ``k`` must match across a
    store's batches for the estimator's bottom-k semantics to compose
    (enforced at serve time via the ledger row bound)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark import StorageLevel
    spark = batch_df.sparkSession
    toks = (batch_df.select(F.explode(
        F.split(F.trim(F.col(text_col)), r"\s+")).alias("item"))
        .where(F.col("item") != ""))
    # r14 optimization: the batch used to tokenize THREE times (the
    # token-total count, the bottom-k's own count, and the write each
    # re-ran the explode; the distinct additionally shuffled twice).
    # One grouped pass gives both numbers: per-item counts are the
    # distinct set (bottom-k input) AND sum to the token total; the
    # <= k surviving rows are collected (bounded, the mg_trim-probe
    # class) and written from the driver — no second distributed
    # execution.  Measured at sf0.1: append 1.1 s -> 0.7 s, identical
    # store bytes.
    g = (toks.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        n_tokens = int(g.agg(
            F.coalesce(F.sum("cnt"), F.lit(0))).collect()[0][0])
        kept = (g.select(F.md5(F.col("item")).alias("h"), "item")
                .orderBy("h").limit(k).collect())
    finally:
        g.unpersist()
    n_rows = len(kept)
    # the write is issued even for an empty batch — exactly as before,
    # so the dataset directory exists and serves read it as 0 rows
    write_batch(_tiny_df(spark, [(r["h"], r["item"]) for r in kept],
                         "h string, item string"),
                batch_id, store_dir + "/kmv")
    meta = _tiny_df(spark, [(n_tokens, int(n_rows), int(k))],
                    "n_tokens long, n_rows long, k long")
    write_batch(meta, batch_id, store_dir + "/kmvmeta")


def kmv_sample(spark: SparkSession, store_dir: str) -> DataFrame:
    """The cumulative bottom-k distinct sample AS OF the last drained
    batch: ``(h, item)`` — union the per-batch bottom-k rows, drop
    duplicate digests (the same item kept by two batches), take the k
    smallest.  A uniform without-replacement sample of every distinct
    item ever streamed, served from <= k·n_batches stored rows — never
    a corpus or vocab scan.  Integrity: stored rows are counted
    against the kmvmeta ledger; a mismatch raises."""
    meta = spark.read.parquet(store_dir + "/kmvmeta").agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.min("k"), F.lit(0)).alias("k_min"),
        F.coalesce(F.max("k"), F.lit(0)).alias("k_max")).collect()[0]
    if int(meta["k_min"]) != int(meta["k_max"]):
        raise ValueError(
            f"KMV store at {store_dir} mixes k={int(meta['k_min'])} and "
            f"k={int(meta['k_max'])} batches — bottom-k semantics only "
            "compose at one k; rebuild the store")
    rows = (spark.read.schema("h string, item string, batch_id long")
            .parquet(store_dir + "/kmv"))
    have = rows.count()
    if have != int(meta["n_rows"]):
        raise IOError(
            f"KMV store at {store_dir} is inconsistent: kmvmeta ledgers "
            f"{int(meta['n_rows'])} rows but kmv/ yields {have} — a "
            "partition was pruned or lost out of band; restore it or "
            "rebuild the store")
    k = int(meta["k_max"])
    return (rows.select("h", "item").distinct()
            .orderBy("h").limit(k))


def kmv_estimate(spark: SparkSession, store_dir: str) -> DataFrame:
    """Distinct-count estimate from the cumulative sample: one row
    ``(k, n_sample, kth_hash48, estimate, n_tokens)``.  If the sample
    holds fewer than k digests the population was smaller than k and
    the count is EXACT (estimate = n_sample); otherwise the unbiased
    KMV estimator (k-1)/frac(r_k), with r_k the k-th smallest digest's
    first 12 hex chars as a 48-bit integer — double-exact, so the
    estimate value itself SQL-replays (the property the HLL store's
    register folds can't give)."""
    sample = kmv_sample(spark, store_dir)
    n_tok = spark.read.parquet(store_dir + "/kmvmeta").agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0))).collect()[0][0]
    k = int(spark.read.parquet(store_dir + "/kmvmeta")
            .agg(F.max("k")).collect()[0][0])
    agg = sample.agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        F.max("h").alias("h_max"))
    r48 = F.conv(F.substring("h_max", 1, _KMV_HEX_DIGITS), 16, 10) \
           .cast("long")
    # numerator as ONE exact integer literal ((k-1)*16^12 < 2^63), so
    # the only float ops are a cast and a division — single-op IEEE,
    # bit-replayable in SQL
    est = F.when(F.col("n_sample") < k,
                 F.col("n_sample").cast("double")) \
           .otherwise(F.lit((k - 1) * _KMV_SPACE).cast("double")
                      / r48.cast("double"))
    return agg.select(
        F.lit(k).cast("long").alias("k"), "n_sample",
        r48.alias("kth_hash48"), est.alias("estimate"),
        F.lit(int(n_tok)).cast("long").alias("n_tokens"))


def kmv_overlap(spark: SparkSession, store_a: str,
                store_b: str) -> DataFrame:
    """Overlap estimates between two KMV stores — one row ``(k,
    n_union_sample, n_both, jaccard, union_est, inter_est)``: the
    bottom-k coordinated-sample estimator (Beyer et al. SIGMOD 2007;
    Cohen & Kaplan's k-min coordinated samples).  Because both stores
    hash with the SAME function, their bottom-k samples are
    coordinated: the k smallest digests of A ∪ B are a uniform sample
    of the union, and the fraction of them present in BOTH stores'
    samples estimates the Jaccard similarity —

        J_hat = |bottom_k(A ∪ B) ∩ sample(A) ∩ sample(B)| / k

    with ``union_est`` the union's own KMV estimate from the k-th
    smallest union digest and ``inter_est = J_hat · union_est``.  When
    the union sample holds fewer than k digests both samples are
    COMPLETE distinct sets and every number is exact.  This is the
    cross-snapshot question two stores exist to answer ("how much of
    today's crawl is yesterday's?") at k-row cost — no corpus or vocab
    ever re-scans, and determinism (pure MD5, exact-integer numerator)
    makes every output value SQL-replayable.  The two stores must use
    the same k (each enforces its own single-k rule; the smaller of
    the two k's bounds the estimator)."""
    sa = kmv_sample(spark, store_a)
    sb = kmv_sample(spark, store_b)
    ka = int(spark.read.parquet(store_a + "/kmvmeta")
             .agg(F.max("k")).collect()[0][0])
    kb = int(spark.read.parquet(store_b + "/kmvmeta")
             .agg(F.max("k")).collect()[0][0])
    k = min(ka, kb)
    union_k = (sa.unionByName(sb).distinct().orderBy("h").limit(k)
               .cache())
    try:
        n_union = union_k.count()
        both = (union_k.join(sa.select("h"), "h", "left_semi")
                .join(sb.select("h"), "h", "left_semi"))
        n_both = both.count()
        denom = min(k, n_union) or 1
        jaccard = n_both / denom
        if n_union < k:
            union_est = float(n_union)
        else:
            h_max = union_k.agg(F.max("h")).collect()[0][0]
            r48 = int(h_max[:_KMV_HEX_DIGITS], 16)
            union_est = float((k - 1) * _KMV_SPACE) / float(r48)
        return _tiny_df(
            spark, [(k, n_union, n_both, jaccard, union_est,
                     jaccard * union_est)],
            "k long, n_union_sample long, n_both long, jaccard double, "
            "union_est double, inter_est double")
    finally:
        union_k.unpersist()


def run_kmv_ingest(stream_df: DataFrame, store_dir: str,
                   checkpoint_dir: str, text_col: str = "text",
                   k: int = 256) -> None:
    """Drive the KMV store from a document stream
    (``sink.drain_batches``)."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_kmv_batch(
                      b, i, store_dir, text_col, k))


def compact_kmv_store(spark: SparkSession, store_dir: str,
                      checkpoint_dir: str | None = None) -> dict:
    """Row-identical fragmentation fold for the KMV store — the
    compact_sketch_store contract over ``kmv``/``kmvmeta``.  (A
    size-reducing fold to ONE bottom-k partition is also sound —
    serving is a bottom-k over the union — but would rewrite the
    ledger; the in-place fold keeps every receipt intact.)"""
    return compact(spark, store_dir, {"kmv": None, "kmvmeta": None},
                   checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming quantile monitor — bounded equi-width histogram store.
# The latency/value-percentile companion to the stores above: per batch,
# ONE <= (n_bins + 2)-row bin-count table lands under batch_id=N; serving
# folds the bins and answers any quantile with a PROVEN bracket (the true
# quantile lies inside the answered bin, so the error is at most one bin
# width for in-range data).  Everything is exact integers over fixed IEEE
# bin arithmetic, so both the store and the served bounds are
# bit-deterministic and SQL-replayable — unlike a GK/KLL sketch, whose
# compaction order would defeat a value oracle.  The trade is declared up
# front: the value domain [lo, hi) and resolution are fixed at store
# creation; out-of-range values land in visible underflow (-1) /
# overflow (n_bins) bins rather than silently clamping.


def append_histogram_batch(batch_df: DataFrame, batch_id: int,
                           store_dir: str, value_col: str,
                           lo: float, hi: float,
                           n_bins: int = 256) -> None:
    """Fold one micro-batch's values into the histogram store:
    ``bin = floor((v - lo) / width)`` for v in [lo, hi), -1 below,
    ``n_bins`` at-or-above; NULLs are dropped.  The per-batch counts
    (<= n_bins + 2 rows) land under ``hist/batch_id=N`` dynamic
    overwrite — the module's replay-idempotent contract.  ``lo``, ``hi``
    and ``n_bins`` must be identical for every batch of a store (the
    bins ARE the schema); they are persisted beside the counts and
    enforced on append."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    if not 1 <= n_bins <= 65536:
        raise ValueError(f"n_bins must be in [1, 65536], got {n_bins}")
    spark = batch_df.sparkSession
    from pyspark.errors import AnalysisException
    geom_path = store_dir + "/geometry"
    try:
        g = spark.read.parquet(geom_path).collect()[0]
        if (float(g["lo"]), float(g["hi"]), int(g["n_bins"])) != \
                (float(lo), float(hi), int(n_bins)):
            raise ValueError(
                "histogram store geometry mismatch: store has "
                f"(lo={g['lo']}, hi={g['hi']}, n_bins={g['n_bins']}), "
                f"append asked (lo={lo}, hi={hi}, n_bins={n_bins}) — "
                "the bins are the store's schema; build a new store to "
                "change them")
    except AnalysisException as exc:
        if not is_path_not_found(exc):
            raise
        _tiny_df(
            spark, [(float(lo), float(hi), int(n_bins))],
            "lo double, hi double, n_bins int").write.mode(
            "error").parquet(geom_path)
    width = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_expr = (F.when(v < F.lit(float(lo)), F.lit(-1))
                .when(v >= F.lit(float(hi)), F.lit(n_bins))
                # least() guards the FP edge where (v-lo)/width rounds
                # up to n_bins for v just under hi
                .otherwise(F.least(
                    F.floor((v - F.lit(float(lo))) / F.lit(width)),
                    F.lit(n_bins - 1)))).cast("int")
    counts = (batch_df.where(v.isNotNull())
              .groupBy(bin_expr.alias("bin"))
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    write_batch(counts.coalesce(1), batch_id, store_dir + "/hist")


def histogram_quantile_bounds(spark: SparkSession, store_dir: str,
                              qs: list) -> DataFrame:
    """Served quantile brackets over the cumulative store: for each q
    in ``qs`` (0 < q <= 1), the row ``(q_ppm, bin, bin_lo, bin_hi, n)``
    where the value of rank ``ceil(q*n)`` falls in ``bin`` — so
    ``bin_lo <= quantile_q < bin_hi`` exactly (NULL bounds for the
    underflow/overflow bins, whose presence means the answer left the
    declared domain).  The rank is computed in EXACT integer ppm
    arithmetic (``ceil(q_ppm*n/10^6)`` as an integer ceil-div, never a
    float product — a double ``0.9*10000`` lands at 9000.000000000002
    and would off-by-one the rank), so the serve is engine-exact.  One
    tiny job: the fold is <= n_bins + 2 rows per batch partition, never
    the value stream."""
    if not qs or not all(0 < q <= 1 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs}")
    from pyspark.sql import Window
    g = spark.read.parquet(store_dir + "/geometry").collect()[0]
    lo, hi, n_bins = float(g["lo"]), float(g["hi"]), int(g["n_bins"])
    width = (hi - lo) / n_bins
    cum = (spark.read.parquet(store_dir + "/hist")
           .groupBy("bin").agg(F.sum("c").alias("c"))
           .withColumn("cum", F.sum("c").over(
               Window.orderBy("bin")
               .rowsBetween(Window.unboundedPreceding, 0))))
    qdf = _tiny_df(
        spark, [(int(round(q * 1_000_000)),) for q in qs], "q_ppm long")
    n = F.max(F.col("cum")).over(Window.partitionBy())
    # integer ceil-div (DIV, not /: the float path loses exactness past
    # 2^53 — q_ppm*n reaches 1e18 at a trillion rows, still inside int64)
    rank = F.expr("(q_ppm * n + 999999) DIV 1000000")
    ranked = (cum.crossJoin(qdf)
              .withColumn("n", n)
              .where(F.col("cum") >= rank))
    first = (ranked.groupBy("q_ppm")
             .agg(F.min("bin").alias("bin"),
                  F.max("n").cast("long").alias("n")))
    bin_lo = F.when(F.col("bin") >= 0,
                    F.lit(lo) + F.col("bin") * F.lit(width))
    bin_hi = F.when(F.col("bin") < n_bins,
                    F.lit(lo) + (F.col("bin") + 1) * F.lit(width))
    return (first.select("q_ppm", "bin",
                         bin_lo.cast("double").alias("bin_lo"),
                         bin_hi.cast("double").alias("bin_hi"), "n")
            .orderBy("q_ppm"))


def run_histogram_ingest(stream_df: DataFrame, store_dir: str,
                         checkpoint_dir: str, value_col: str,
                         lo: float, hi: float,
                         n_bins: int = 256) -> None:
    """Drive the histogram store from a stream
    (``sink.drain_batches``)."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_histogram_batch(
                      b, i, store_dir, value_col, lo, hi, n_bins))


# ---------------------------------------------------------------------------
# Domain-free mergeable quantile summary store (VERDICT r13 Next #5).
# The histogram store above is exact-bracket but its geometry (lo/hi/bins)
# is pinned at creation — a drifting value domain (the 100 TB web reality)
# forces a new store and loses history.  This store needs NO domain: per
# batch it keeps the values at every m-th rank of the SORTED batch
# (m = ceil(n/k), each kept value carrying weight m; the last remainder
# rank carries n mod m), i.e. a deterministic equal-weight equi-depth
# summary — the rank-stratified member of the GK/MRL/KLL mergeable-
# quantile-sketch family (Greenwald & Khanna SIGMOD 2001; Manku,
# Rajagopalan & Lindsay SIGMOD 1998; Karnin, Lang & Liberty FOCS 2016),
# chosen over randomized KLL compaction because every step here is a
# deterministic function of the value MULTISET, so the whole fold
# SQL-replays and the driver gate can hash-check served VALUES, not just
# invariants (the events_value_histq discipline).
#
# Guarantee (one-sided, exactly the Misra-Gries shape): with
# est_rank(x) = sum of weights of kept values <= x, each batch satisfies
#
#     est_rank(x)  <=  true_rank(x)  <=  est_rank(x) + (m_b - 1)
#
# (kept value j sits at exact sorted rank j*m_b, so est jumps match true
# ranks at the kept points and lag by < m_b between them).  Summaries
# merge by plain UNION of their weighted rows — per-batch summaries are
# independent (no prev-state fold), so merge order cannot matter — and
# the bounds ADD: the store's exact cumulative error ledger is
# err_ub = sum_b (m_b - 1), recorded per batch in qmeta.
#
# Store size: <= ceil(n_b/m_b) <= k rows + 1 meta row per batch — flat in
# stream size and value domain.  Fragmentation compacts row-identically
# (compact_quantile_store); when batch COUNT dominates, restratify_summary
# collapses the whole fold back to <= k rows at a declared +
# (ceil(W/k) - 1) addition to the ledger.


def append_quantile_summary_batch(batch_df: DataFrame, batch_id: int,
                                  store_dir: str, value_col: str,
                                  k: int = 256) -> None:
    """Fold one micro-batch's values into the quantile summary store:
    sort the batch's non-NULL values (ONE range-repartition + in-
    partition sorts + the shuffle-free broadcast ordinal — the
    sorted-neighborhood rank shape, never a single-task global window),
    keep ranks m, 2m, ..., n (m = ceil(n/k)) as ``(v, w)`` rows under
    ``qsummary/batch_id=N`` plus the batch ledger row ``(n_values,
    stride, err_ub, n_rows)`` under ``qmeta/batch_id=N`` — dynamic
    overwrites, the module's replay-idempotent contract.  ``k`` may
    vary per batch (the bound adapts); the VALUE DOMAIN never has to be
    declared — the histogram store's geometry pin is exactly what this
    store exists to avoid.

    Plan shape (r14): the kept rows are the values at EXACT ranks
    m, 2m, ..., plus n — a multi-rank selection, so they resolve via
    ``stats.exact_order_stats`` (codegen histogram refinement: one
    count/min/max agg that doubles as the ledger source, one histogram
    pass, one bounded bin collect) with ZERO shuffle, instead of the
    old range-repartition + full in-partition sort + ordinal-broadcast
    pipeline.  Output rows are bit-identical (same ranks, same
    weights); non-finite data (NaN/inf bounds) falls back to the sort
    path, correctness first."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import math
    from pandas_db_spark.operators.stats import (OrderStatsUnresolved,
                                                 exact_order_stats)
    spark = batch_df.sparkSession
    v = F.col(value_col).cast("double")
    vals = batch_df.where(v.isNotNull()).select(v.alias("v"))
    st = vals.agg(F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"),
                  F.max("v").alias("hi")).collect()[0]
    n = int(st["n"])
    m = (n + k - 1) // k if n else 1
    n_rows = -(-n // m) if n else 0   # ceil(n/m) <= k
    if n:
        ranks = list(range(m, n + 1, m))
        if n % m:
            ranks.append(n)
        lo, hi = float(st["lo"]), float(st["hi"])
        rows = None
        if math.isfinite(lo) and math.isfinite(hi):
            try:
                got = exact_order_stats(vals, "v", ranks, lo, hi, n)
                rows = [(got[r], m if r % m == 0 else n % m)
                        for r in ranks]
            except OrderStatsUnresolved:
                rows = None
        if rows is not None:
            keep = _tiny_df(spark, rows, "v double, w long")
        else:  # sort-path fallback: NaN/inf data or degenerate range
            keep = _qsummary_keep_sorted(vals, n, m)
        write_batch(keep.coalesce(1), batch_id, store_dir + "/qsummary")
    meta = _tiny_df(
        spark, [(int(n), int(m), int(m - 1 if n else 0), int(n_rows))],
        "n_values long, stride long, err_ub long, n_rows long")
    write_batch(meta, batch_id, store_dir + "/qmeta")


def _qsummary_keep_sorted(vals: DataFrame, n: int, m: int) -> DataFrame:
    """The pre-r14 sort-based stratification (range repartition +
    in-partition sorts + the shuffle-free broadcast ordinal), kept as
    :func:`append_quantile_summary_batch`'s fallback for data the
    histogram selection refuses (NaN/inf, sub-resolution ranges)."""
    from pandas_db_spark.plans.ordinal import (ORDINAL_COL,
                                               with_ordinal_and_count)
    spark = vals.sparkSession
    n_part = max(2, spark.sparkContext.defaultParallelism)
    ranked, _n = with_ordinal_and_count(
        vals.repartitionByRange(n_part, F.col("v"))
            .sortWithinPartitions("v"))
    rank = F.col(ORDINAL_COL) + 1
    return (ranked.where((rank % m == 0) | (rank == n))
            .select("v",
                    F.when(rank % m == 0, F.lit(m))
                    .otherwise(F.lit(n % m)).cast("long").alias("w")))


def quantile_estimates(spark: SparkSession, store_dir: str,
                       qs: list) -> DataFrame:
    """Served quantiles over the cumulative store: for each q in ``qs``
    (0 < q <= 1) the row ``(q_ppm, value, n, err_ub)`` where ``value``
    is the smallest summary value whose cumulative weight reaches rank
    ``ceil(q*n)`` — exact integer ppm arithmetic, the
    histogram_quantile_bounds discipline.  The guarantee, checkable
    against the raw stream:  ``count(<= value) >= rank`` exactly, and
    ``count(< value) <= rank - 1 + err_ub`` — i.e. the served value's
    rank error is bounded by the store's exact ledger (``err_ub =
    sum_b (m_b - 1)``), never by a declared domain.  The fold is
    <= k rows per batch partition BY CONSTRUCTION, never the value
    stream — so it collects to the driver (bounded, the classifier_fit
    discipline; r14 — the old <= 258-row Window/crossJoin/groupBy job
    was pure scheduler overhead) and the picks run in exact Python
    integer arithmetic, returning a one-slice driver-rows frame.
    Integrity: the fold COUNTS its rows against the qmeta ledger and
    raises on mismatch — a summary partition lost out of band can never
    silently skew the quantiles (the _read_hh_state receipt shape)."""
    if not qs or not all(0 < q <= 1 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs}")
    import math
    meta = spark.read.parquet(store_dir + "/qmeta").agg(
        F.coalesce(F.sum("n_values"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("err_ub"), F.lit(0)).alias("err_ub"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows")).collect()[0]
    n, err_ub = int(meta["n"]), int(meta["err_ub"])
    # Explicit schema: a store whose every summary partition was pruned
    # out of band reads as 0 rows (instead of UNABLE_TO_INFER_SCHEMA)
    # so the ledger check below can surface the inconsistency.
    fold = (spark.read.schema("v double, w long, batch_id long")
            .parquet(store_dir + "/qsummary")
            .select("v", "w").collect()) if n else []
    if len(fold) != int(meta["n_rows"]):
        raise IOError(
            f"quantile summary store at {store_dir} is inconsistent: "
            f"qmeta ledgers {int(meta['n_rows'])} summary rows but "
            f"qsummary/ yields {len(fold)} — a partition was pruned or "
            "lost out of band; restore it or rebuild the store")
    q_ppms = [int(round(q * 1_000_000)) for q in qs]
    if n == 0:
        return _tiny_df(spark, [(p, None, 0, 0) for p in q_ppms],
                        "q_ppm long, value double, n long, err_ub long")
    # NaN sorts greatest (Spark's double order); cum weights are exact
    # ints; pick = smallest summary value whose cum reaches ceil(q*n);
    # one served row per DISTINCT q_ppm, ascending (the old groupBy
    # + orderBy contract).
    fold.sort(key=lambda r: (math.isnan(r["v"]), r["v"]))
    out = []
    for p in sorted(set(q_ppms)):
        tgt = (p * n + 999_999) // 1_000_000
        cum = 0
        for r in fold:
            cum += r["w"]
            if cum >= tgt:
                out.append((p, float(r["v"]), n, err_ub))
                break
    return _tiny_df(spark, out,
                    "q_ppm long, value double, n long, err_ub long")


def run_quantile_summary_ingest(stream_df: DataFrame, store_dir: str,
                                checkpoint_dir: str, value_col: str,
                                k: int = 256) -> None:
    """Drive the quantile summary store from a stream
    (``sink.drain_batches``)."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_quantile_summary_batch(
                      b, i, store_dir, value_col, k))


def restratify_summary(spark: SparkSession, store_dir: str,
                       k: int = 256) -> tuple[DataFrame, dict]:
    """Collapse the store's whole weighted fold back to <= ``k`` rows —
    the size valve for when batch COUNT dominates (<= k rows/batch still
    grows with batches; re-stratifying W total weight at stride
    M = ceil(W/k) returns to <= k rows at a DECLARED ledger cost of
    M - 1 added rank error, the same one-sided shape: picking the
    summary value at each cumulative-weight multiple of M lags the old
    est_rank by < M).  Returns ``(rows, meta)`` where ``rows`` is the
    <= k-row ``(v, w)`` frame and ``meta`` the new ledger
    ``{"n_values", "stride", "err_ub", "n_rows"}`` — seed a NEW store
    with them (write under ``batch_id=-1`` + fresh qmeta); the in-place
    fragmentation-only fold is :func:`compact_quantile_store`."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window
    meta = spark.read.parquet(store_dir + "/qmeta").agg(
        F.coalesce(F.sum("n_values"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("err_ub"), F.lit(0)).alias("err_ub")).collect()[0]
    w_total, err_old = int(meta["n"]), int(meta["err_ub"])
    if w_total == 0:
        empty = _tiny_df(spark, [], "v double, w long")
        return empty, {"n_values": 0, "stride": 1, "err_ub": 0,
                       "n_rows": 0}
    big_m = (w_total + k - 1) // k
    rows = spark.read.parquet(store_dir + "/qsummary")
    cum = rows.withColumn("cum", F.sum("w").over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
    n_keep = -(-w_total // big_m)
    grid = spark.range(1, n_keep + 1).select(
        (F.col("id") * big_m).alias("tgt"),
        F.when(F.col("id") < n_keep, F.lit(big_m))
        .otherwise(F.lit(w_total - (n_keep - 1) * big_m))
        .cast("long").alias("w_new"))
    out = (cum.crossJoin(grid)
           .where(F.least(F.col("cum"), F.lit(w_total)) >= F.least(
               F.col("tgt"), F.lit(w_total)))
           .groupBy("tgt", "w_new").agg(F.min("v").alias("v"))
           .select("v", F.col("w_new").alias("w")))
    return out, {"n_values": w_total, "stride": big_m,
                 "err_ub": err_old + big_m - 1, "n_rows": n_keep}


def compact_quantile_store(spark: SparkSession, store_dir: str,
                           checkpoint_dir: str | None = None) -> dict:
    """Fold the quantile store's per-batch fragmentation (one small file
    lands per batch under each of ``qsummary/`` and ``qmeta/``)
    row-identically into the reserved ``batch_id=-1`` partition — the
    serve path folds ALL rows, so the fold changes nothing it reads
    (the compact_sketch_store contract; quiesce rule identical)."""
    return compact(spark, store_dir, {"qsummary": None, "qmeta": None},
                   checkpoint_dir)


# ---------------------------------------------------------------------------
# Grouped quantile summary store (r14) — the keyed sibling of the flat
# store above: per-ENDPOINT / per-SOURCE value percentiles, the actual
# production monitoring ask ("p99 latency PER route"), which a single
# flat summary cannot answer.  Same rank-stratified construction applied
# PER KEY with a group-adaptive stride m_g = ceil(n_g/k): a key with 50
# values this batch keeps <= 50 rows at stride 1 (exact), a key with 50M
# keeps <= k.  Store size: <= k rows per (key, batch) + 1 ledger row —
# bounded by |keys|·k·batches, never by stream size; per-key bounds and
# determinism are inherited unchanged from the flat store (each key's
# fold IS a flat fold over that key's value multiset), so the whole
# thing still SQL-replays per key.
#
# Plan shape: ranks come from a KEYED window (partitionBy key — the
# standard hash-partitioned aggregate shape, never the single-task
# global window; a pathologically hot key degrades to one partition
# sorting that key's BATCH-bounded values, the same bound every keyed
# agg has).


def append_grouped_quantile_batch(batch_df: DataFrame, batch_id: int,
                                  store_dir: str, key_col: str,
                                  value_col: str, k: int = 64) -> None:
    """Fold one micro-batch into the grouped quantile summary store:
    for each key, the values at every m_g-th sorted rank of that key's
    non-NULL batch values (m_g = ceil(n_g/k), remainder rank carries
    n_g mod m_g) land as ``(key, v, w)`` under
    ``gqsummary/batch_id=N``, plus per-key ledger rows ``(key,
    n_values, stride, err_ub, n_rows)`` under ``gqmeta/batch_id=N`` —
    dynamic overwrites, the module's replay-idempotent contract.  NULL
    keys are kept as their own group (monitoring drops nothing
    silently)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window
    v = F.col(value_col).cast("double")
    # key canonicalizes to string so the store's read schema is stable
    # across key types (the explicit-schema integrity read below)
    vals = (batch_df.where(v.isNotNull())
            .select(F.col(key_col).cast("string").alias("key"),
                    v.alias("v")))
    w_rank = Window.partitionBy("key").orderBy("v")
    w_all = Window.partitionBy("key")
    ranked = (vals.withColumn("rnk", F.row_number().over(w_rank))
              .withColumn("n", F.count(F.lit(1)).over(w_all)))
    m = F.ceil(F.col("n") / F.lit(k)).cast("long")
    keep = (ranked
            .where((F.col("rnk") % m == 0) | (F.col("rnk") == F.col("n")))
            .select("key", "v",
                    F.when(F.col("rnk") % m == 0, m)
                    .otherwise(F.col("n") % m).cast("long").alias("w")))
    spark = batch_df.sparkSession
    # NOT coalesce(1): unlike the flat store's <= k rows, this write is
    # <= k * |keys| rows — at web key cardinalities a single writer task
    # would bottleneck.  A small bounded fan-in keeps file counts sane
    # (compact_grouped_quantile_store folds the rest).
    write_batch(keep.coalesce(8), batch_id, store_dir + "/gqsummary")
    # r14 optimization: the per-key ledger used to re-run the whole
    # batch window pass (a second sort of every value) just to count
    # per-key rows.  The weights of the rows just written already carry
    # the exact counts: per key, Σw = floor(n/m)·m + (n mod m) = n (the
    # remainder rank holds n mod m when m ∤ n, and rank n is an
    # m-multiple otherwise), the row count is ceil(n/m), and stride
    # recomputes as the same ceil(n/k) the window used — so the ledger
    # folds from the <= k·|keys|-row summary partition instead of the
    # value stream.  Measured at sf0.1: append 1.4 s -> 0.9 s,
    # bit-identical meta rows.
    # explicit schema: an empty batch writes a partitionless dataset
    # dir, which must read as 0 rows (not UNABLE_TO_INFER_SCHEMA)
    meta = (spark.read
            .schema("key string, v double, w long, batch_id long")
            .parquet(store_dir + "/gqsummary")
            .where(F.col("batch_id") == batch_id)
            .groupBy("key")
            .agg(F.sum("w").cast("long").alias("n_values"),
                 F.count(F.lit(1)).cast("long").alias("__rows"))
            .select("key", "n_values",
                    F.ceil(F.col("n_values") / F.lit(k)).cast("long")
                    .alias("stride"), F.col("__rows"))
            .select("key", "n_values", "stride",
                    (F.col("stride") - 1).cast("long").alias("err_ub"),
                    F.col("__rows").alias("n_rows")))
    write_batch(meta.coalesce(8), batch_id, store_dir + "/gqmeta")


def grouped_quantile_estimates(spark: SparkSession, store_dir: str,
                               qs: list) -> DataFrame:
    """Served per-key quantiles over the cumulative store: for each key
    and each q in ``qs`` the row ``(key, q_ppm, value, n, err_ub)``
    with the flat store's exact semantics applied per key — value is
    the smallest summary value whose per-key cumulative weight reaches
    rank ceil(q*n_key), err_ub is that key's exact cumulative ledger.
    Integrity: total summary rows are counted against the gqmeta
    ledger and a mismatch raises (the _read_hh_state receipt shape)."""
    if not qs or not all(0 < q <= 1 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs}")
    from pyspark.sql import Window
    meta = (spark.read.parquet(store_dir + "/gqmeta")
            .groupBy("key")
            .agg(F.sum("n_values").alias("n"),
                 F.sum("err_ub").alias("err_ub"),
                 F.sum("n_rows").alias("n_rows")))
    ledger = meta.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).collect()[0][0]
    rows = (spark.read
            .schema("key string, v double, w long, batch_id long")
            .parquet(store_dir + "/gqsummary"))
    have = rows.count()
    if have != int(ledger):
        raise IOError(
            f"grouped quantile store at {store_dir} is inconsistent: "
            f"gqmeta ledgers {int(ledger)} summary rows but gqsummary/ "
            f"yields {have} — a partition was pruned or lost out of "
            "band; restore it or rebuild the store")
    cum = rows.withColumn("cum", F.sum("w").over(
        Window.partitionBy("key").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)))
    qdf = _tiny_df(
        spark, [(int(round(q * 1_000_000)),) for q in qs], "q_ppm long")
    # null-safe key join: a NULL key is a real group (kept at append),
    # so its quantiles must serve too
    need = (cum.crossJoin(F.broadcast(qdf)).alias("s")
            .join(meta.alias("m"),
                  F.col("s.key").eqNullSafe(F.col("m.key")))
            .select(F.col("s.key").alias("key"), "s.v", "s.cum",
                    "q_ppm", "m.n", "m.err_ub"))
    rank = F.expr("(q_ppm * n + 999999) DIV 1000000")
    picked = (need.where(F.col("cum") >= rank)
              .groupBy("key", "q_ppm", "n", "err_ub")
              .agg(F.min("v").alias("value")))
    return (picked.select("key", "q_ppm", "value",
                          F.col("n").cast("long").alias("n"),
                          F.col("err_ub").cast("long").alias("err_ub"))
            .orderBy("key", "q_ppm"))


def restratify_grouped_summary(spark: SparkSession, store_dir: str,
                               k: int = 64
                               ) -> tuple[DataFrame, DataFrame]:
    """The grouped store's size valve — the per-key form of
    :func:`restratify_summary`: each key's whole weighted fold
    collapses back to <= ``k`` rows at a PER-KEY stride
    M_g = ceil(W_g/k), at a declared per-key ledger cost of M_g - 1
    added rank error (same one-sided shape).  A key with few values
    keeps stride 1 (exact); only heavy keys pay.  Returns ``(rows,
    meta)`` — ``rows`` the <= k-rows-per-key ``(key, v, w)`` frame,
    ``meta`` the new per-key ledger ``(key, n_values, stride, err_ub,
    n_rows)`` — seed a NEW store with them; the in-place
    fragmentation-only fold is :func:`compact_grouped_quantile_store`.

    Plan shape: the pick join is per-key bounded — each key's summary
    (<= k·batches rows) meets its own <= k-row grid on an equi-key
    join, so the work is |keys|-parallel and never a cross-key
    product."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window
    meta = (spark.read.parquet(store_dir + "/gqmeta")
            .groupBy("key")
            .agg(F.sum("n_values").alias("wt"),
                 F.sum("err_ub").alias("err0")))
    big = (meta
           .withColumn("stride", F.ceil(F.col("wt") / F.lit(k))
                       .cast("long"))
           .withColumn("nk", F.ceil(F.col("wt") / F.col("stride"))
                       .cast("long")))
    grid = (big.select(
        "key", "wt", "stride", "err0",
        F.explode(F.expr("sequence(1, nk)")).alias("i"),
        F.col("nk"))
        .select("key", "wt", "stride", "err0",
                (F.col("i") * F.col("stride")).alias("tgt"),
                F.when(F.col("i") < F.col("nk"), F.col("stride"))
                .otherwise(F.col("wt")
                           - (F.col("nk") - 1) * F.col("stride"))
                .cast("long").alias("w")))
    rows = (spark.read
            .schema("key string, v double, w long, batch_id long")
            .parquet(store_dir + "/gqsummary"))
    cum = rows.withColumn("cum", F.sum("w").over(
        Window.partitionBy("key").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)))
    picked = (cum.alias("s")
              .join(grid.alias("g"),
                    F.col("s.key").eqNullSafe(F.col("g.key"))
                    & (F.least(F.col("s.cum"), F.col("g.wt"))
                       >= F.least(F.col("g.tgt"), F.col("g.wt"))))
              .groupBy(F.col("g.key").alias("key"), "g.tgt", "g.w")
              .agg(F.min("s.v").alias("v"))
              .select("key", "v", F.col("w").cast("long").alias("w")))
    new_meta = big.select(
        "key", F.col("wt").cast("long").alias("n_values"),
        F.col("stride").cast("long"),
        (F.col("err0") + F.col("stride") - 1).cast("long")
        .alias("err_ub"),
        F.col("nk").cast("long").alias("n_rows"))
    return picked, new_meta


def run_grouped_quantile_ingest(stream_df: DataFrame, store_dir: str,
                                checkpoint_dir: str, key_col: str,
                                value_col: str, k: int = 64) -> None:
    """Drive the grouped quantile store from a stream
    (``sink.drain_batches``)."""
    drain_batches(stream_df, checkpoint_dir,
                  lambda b, i: append_grouped_quantile_batch(
                      b, i, store_dir, key_col, value_col, k))


def compact_grouped_quantile_store(spark: SparkSession, store_dir: str,
                                   checkpoint_dir: str | None = None
                                   ) -> dict:
    """Row-identical fragmentation fold for the grouped store — the
    compact_quantile_store contract over ``gqsummary``/``gqmeta``."""
    return compact(spark, store_dir, {"gqsummary": None, "gqmeta": None},
                   checkpoint_dir)


def compact_histogram_store(spark: SparkSession, store_dir: str,
                            checkpoint_dir: str | None = None) -> dict:
    """Fold the histogram store's per-batch fragmentation (one
    <= n_bins+2-row file lands per batch under ``hist/``) row-
    identically into the reserved ``batch_id=-1`` partition — the serve
    path (histogram_quantile_bounds) groups over ALL rows, so the fold
    is serve-identical by construction; ``geometry/`` is already a
    single file and is left alone.  Quiesce rule identical to every
    compactor: run OFFLINE, keep the streaming checkpoint, pass
    ``checkpoint_dir`` to refuse while a batch is
    started-but-uncommitted."""
    return compact(spark, store_dir, {"hist": None}, checkpoint_dir)


# ---------------------------------------------------------------------------
# Store lifecycle for the heavy-hitter and sketch monitors — same
# contract family as compact_drift_counts / compact_index: run OFFLINE,
# keep the streaming checkpoint, pass checkpoint_dir to refuse while a
# batch is started-but-uncommitted.  Two shapes, matched to each store's
# read path:
#
# * the HH store SERVES from the latest batch partition only, so old
#   partitions PRUNE (replay determinism needs the immediately-previous
#   partition, hence keep_last >= 2 by default);
# * the sketch store FOLDS over all rows at serve time, so fragmentation
#   compacts row-identically (the drift-counts shape).


def prune_heavy_hitter_store(spark: SparkSession, store_dir: str,
                             keep_last: int = 2,
                             checkpoint_dir: str | None = None) -> dict:
    """Delete heavy-hitter batch partitions older than the newest
    ``keep_last`` from BOTH ``summary/`` and ``hhmeta/`` (one aligned
    cutoff — a summary without its meta, or vice versa, would break the
    guarantee ledger).  Serving only ever reads the latest partition
    and a replayed batch N folds the state at N-1, so ``keep_last=2``
    preserves both; older partitions exist purely as history.  All
    filesystem ops go through the Hadoop ``FileSystem`` API (HDFS/S3A
    real).  Returns ``{"deleted": ..., "kept": ...}``."""
    if keep_last < 2:
        raise ValueError(
            f"keep_last must be >= 2 (serving reads the latest "
            f"partition, a replay of batch N reads N-1), got {keep_last}")
    if checkpoint_dir is not None:
        assert_quiesced(spark, checkpoint_dir)
    fs, P = hadoop_fs(spark, store_dir)
    # A half-written store (exactly one of summary/ and hhmeta/ present)
    # must surface, not be reported as empty: the pair is written
    # together by every append, so a lone survivor means the other was
    # deleted out of band and the guarantee ledger no longer matches
    # its summaries.
    present = {sub: fs.exists(P(store_dir.rstrip("/") + "/" + sub))
               for sub in ("summary", "hhmeta")}
    if present["summary"] != present["hhmeta"]:
        have = "summary" if present["summary"] else "hhmeta"
        miss = "hhmeta" if present["summary"] else "summary"
        raise IOError(
            f"heavy-hitter store at {store_dir} is half-written: "
            f"{have}/ exists but {miss}/ does not — appends write both; "
            "the missing half was deleted out of band.  Restore it or "
            "rebuild the store before pruning")
    if not present["summary"]:
        return {"deleted": 0, "kept": 0}
    ids: set[int] = set()
    for sub in ("summary", "hhmeta"):
        p = P(store_dir.rstrip("/") + "/" + sub)
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("batch_id="):
                ids.add(int(name.split("=", 1)[1]))
    keep = set(sorted(ids)[-keep_last:])
    deleted = 0
    for sub in ("summary", "hhmeta"):
        for bid in ids - keep:
            p = P(store_dir.rstrip("/") + f"/{sub}/batch_id={bid}")
            if fs.exists(p):
                if not fs.delete(p, True):
                    raise IOError(f"prune: delete of {p} failed")
                deleted += 1
    return {"deleted": deleted, "kept": len(keep)}


def compact_sketch_store(spark: SparkSession, store_dir: str,
                         checkpoint_dir: str | None = None) -> dict:
    """Fold the distinct-sketch store's per-batch fragmentation (one
    KB-sized file lands per batch) row-identically into the reserved
    ``batch_id=-1`` partition — the serve path unions ALL rows, so the
    fold changes nothing it reads; a resumed stream appends fresh
    non-negative batch ids beside it and composes (the
    compact_drift_counts contract; replays of PRE-compaction batch ids
    are forbidden by the quiesce rule, same as there)."""
    return compact(spark, store_dir, {"sketches": None}, checkpoint_dir)
