"""Streaming windows: batch forms are oracle-checked by the driver; here we
assert (a) window semantics against hand-computed slices and (b) the
streaming form converges to the batch answer (the Structured Streaming
contract) via a file source → memory sink run."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pandas_db_spark.sources.registry import events_stream_reader, read_parquet
from pandas_db_spark.streaming import windows as W
from tests.conftest import nanos_events_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return read_parquet(spark, f"{SF_DIR}/events.parquet")


def test_tumbling_counts_sum_to_total(events):
    out = W.tumbling(events, duration="1 hour").collect()
    assert sum(r["n_events"] for r in out) == events.count()
    starts = [r["window_start"] for r in out]
    assert all(s % 3600 == 0 for s in starts)


def test_sliding_doubles_event_mass(events):
    out = W.sliding(events, duration="1 hour", slide="30 minutes").collect()
    # each event is in exactly duration/slide = 2 windows
    assert sum(r["n_events"] for r in out) == 2 * events.count()
    assert all(r["window_start"] % 1800 == 0 for r in out)


def test_session_windows_respect_gap(events):
    sessions = W.session(events, gap="15 minutes").collect()
    assert sum(r["n_events"] for r in sessions) == events.count()
    # per-user session starts must be >= 15 min apart
    by_user: dict[int, list[int]] = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r["session_start"])
    for starts in by_user.values():
        starts.sort()
        assert all(b - a >= 900 for a, b in zip(starts, starts[1:]))


def test_stateful_running_totals_converge(spark, events):
    """applyInPandasWithState per-user totals: after an availableNow run the
    final emitted state per key must equal the batch groupBy (integer-cents
    accumulation → exact regardless of micro-batch boundaries)."""
    from pandas_db_spark.streaming import stateful as ST
    stream = events_stream_reader(spark, SF_DIR)
    got = {tuple(r) for r in
           ST.run_to_convergence(stream, "t_stateful_conv").collect()}
    want = {tuple(r) for r in ST.running_totals(events).collect()}
    assert got == want
    assert len(got) > 0


def test_sliding_stream_converges_to_batch(spark, events):
    """Sliding-window streaming form must converge to its batch oracle."""
    stream = events_stream_reader(spark, SF_DIR)
    agg = W.sliding_stream(stream, duration="1 hour", slide="30 minutes",
                           watermark="2 hours")
    query = (agg.writeStream.format("memory")
                .queryName("t_sliding_conv")
                .outputMode("complete")
                .trigger(availableNow=True)
                .start())
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    got = {tuple(r) for r in
           spark.sql("SELECT * FROM t_sliding_conv").collect()}
    want = {tuple(r) for r in
            W.sliding(events, duration="1 hour", slide="30 minutes").collect()}
    assert got == want


def test_stateful_timeout_state_machine():
    """The TTL update function, unit-tested against a fake GroupState: a
    timed-out invocation must evict state and emit nothing; a data invocation
    must accumulate and re-arm the timeout.  (A live availableNow run with
    ProcessingTimeTimeout never reaches quiescence in local Spark — the
    engine loops in 'cleaning up state' — so the eviction contract is pinned
    here and the live-stream path is covered by the NoTimeout tests.)"""
    import pandas as pd
    from pandas_db_spark.streaming.stateful import _make_update

    class FakeState:
        def __init__(self, value=None):
            self._v = value
            self.removed = False
            self.timeouts = []
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.removed = None, True

        def setTimeoutDuration(self, ms):
            self.timeouts.append(ms)

    update = _make_update(60_000)

    # data arrives: accumulate + arm the TTL
    st = FakeState()
    batches = iter([pd.DataFrame({"value": [1.25, 2.50]})])
    out = list(update(("u1",), batches, st))
    assert st.get == (2, 375)
    assert st.timeouts == [60_000]
    assert len(out) == 1 and out[0]["total_cents"].iloc[0] == 375

    # TTL fires: state evicted, nothing emitted, timeout not re-armed
    st2 = FakeState(value=(5, 1000))
    st2.hasTimedOut = True
    out2 = list(update(("u1",), iter([]), st2))
    assert out2 == [] and st2.removed and st2.timeouts == []

    # NoTimeout variant never arms a timeout
    st3 = FakeState()
    list(_make_update(None)(("u2",), iter([pd.DataFrame({"value": [1.0]})]), st3))
    assert st3.timeouts == [] and st3.get == (1, 100)


def test_stream_converges_to_batch(spark, events):
    """readStream over the events files → watermarked tumbling agg → memory
    sink; after processing all available data the sink must hold exactly the
    batch answer (complete mode: no rows are withheld by the watermark)."""
    stream = events_stream_reader(spark, SF_DIR)
    agg = W.tumbling_stream(stream, duration="1 hour", watermark="2 hours")
    query = (agg.writeStream.format("memory")
                .queryName("t_stream_conv")
                .outputMode("complete")
                .trigger(availableNow=True)
                .start())
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    got = {tuple(r) for r in
           spark.sql("SELECT * FROM t_stream_conv").collect()}
    want = {tuple(r) for r in W.tumbling(events, duration="1 hour").collect()}
    assert got == want


def test_stream_dedup_converges_to_batch_distinct(spark, events):
    """Streaming exact dedup on (user_id, event_type): after an availableNow
    run the sink holds exactly the batch dropDuplicates answer (keys only —
    the surviving row per key is arbitrary in both forms)."""
    from pandas_db_spark.streaming import dedup as SD
    stream = events_stream_reader(spark, SF_DIR)
    out = SD.dedup_stream_unbounded(
        stream.select("user_id", "event_type"), ["user_id", "event_type"])
    q = (out.writeStream.format("memory").queryName("t_dedup_conv")
            .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["user_id"], r["event_type"])
           for r in spark.table("t_dedup_conv").collect()}
    want = {(r["user_id"], r["event_type"])
            for r in events.select("user_id", "event_type").distinct().collect()}
    assert got == want
    # no key emitted twice
    assert spark.table("t_dedup_conv").count() == len(got)


def test_stream_dedup_watermarked_runs(spark):
    """The watermark-bounded form (dropDuplicatesWithinWatermark) starts,
    processes all available data, and emits each in-watermark key once."""
    from pandas_db_spark.streaming import dedup as SD
    stream = events_stream_reader(spark, SF_DIR)
    out = SD.dedup_stream(
        stream.select("ts", "user_id", "event_type"),
        ["user_id", "event_type"], watermark="10 days")
    q = (out.writeStream.format("memory").queryName("t_dedup_wm")
            .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("t_dedup_wm").select("user_id", "event_type").collect()
    keys = {(r["user_id"], r["event_type"]) for r in rows}
    # every in-watermark duplicate collapsed: emitted rows == distinct keys
    assert len(rows) == len(keys) > 0


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_nanos_reads_never_change_session_conf(spark, tmp_path, layout):
    """Reading TIMESTAMP(NANOS) parquet as a batch, as a stream and by
    draining that stream leaves spark.sql.legacy.parquet.nanosAsLong of
    the caller's session as it was, so a later plain batch read in the
    same session never silently gets longs."""
    import datetime as dt

    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType, TimestampNTZType

    path = tmp_path / "events.parquet"
    if layout == "dir":
        path.mkdir()
    pq.write_table(nanos_events_table(),
                   str(path / "part-0.parquet" if layout == "dir" else path),
                   coerce_timestamps=None)
    key = "spark.sql.legacy.parquet.nanosAsLong"

    def conf():
        return spark.conf.getAll.get(key), spark.conf.get(key)

    before = conf()
    batch = read_parquet(spark, str(path))
    assert conf() == before
    stream = events_stream_reader(spark, str(tmp_path))
    assert conf() == before
    name = f"t_nanos_conf_{layout}"
    q = (stream.writeStream.format("memory").queryName(name)
               .trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert conf() == before

    want = [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 0, 1, 500000),
            dt.datetime(2024, 1, 1, 0, 1)]
    for df in (batch, spark.table(name)):
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
        assert [r.ts for r in df.orderBy("event_id").collect()] == want
    try:
        plain = spark.read.parquet(str(path)).schema["ts"].dataType
    except AnalysisException:
        plain = None  # PARQUET_TYPE_ILLEGAL: Spark's own nanos refusal
    assert not isinstance(plain, LongType)


def test_nanos_schema_matches_caller_inference(spark, tmp_path):
    """The schema inferred for a nanos file is the one the caller's own
    session infers with nanosAsLong on: micros-NTZ and UTC-adjusted
    columns follow the caller's inferTimestampNTZ setting."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, TimestampType

    from pandas_db_spark.sources.registry import _read_schema

    path = str(tmp_path / "events.parquet")
    pq.write_table(nanos_events_table(
        tm=pa.array([1, 2, 3], pa.timestamp("us")),
        tz=pa.array([1, 2, 3], pa.timestamp("us", tz="UTC"))),
        path, coerce_timestamps=None)
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    prior = {k: spark.conf.getAll.get(k) for k in (ntz, nanos)}
    spark.conf.set(ntz, "false")
    try:
        got = _read_schema(spark, path, ["ts"])
        spark.conf.set(nanos, "true")
        want = spark.read.parquet(path).schema
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want
    assert isinstance(got["ts"].dataType, LongType)
    assert isinstance(got["tm"].dataType, TimestampType)


def test_stream_static_join_batch_equals_stream(spark, db):
    """Stream-static enrichment: availableNow replay equals the batch
    join; unsupported join types are rejected."""
    from pandas_db_spark.sources.registry import events_stream_reader
    from pandas_db_spark.streaming import enrich as EN
    import pytest as _pytest
    from pyspark.sql import functions as F

    dim = (db.customer.df
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_nationkey").alias("nationkey")))
    batch = EN.stream_static_join(
        db.events.df.select("event_id", "user_id"), dim, "user_id")
    stream = events_stream_reader(spark, db._path).select(
        "event_id", "user_id")
    got = EN.run_enriched(stream, dim, "user_id", "t_enrich_test")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, batch.collect()))
    # broadcast hash join on the batch form (the stream form shares it)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with _pytest.raises(ValueError, match="unsupported join type"):
        EN.stream_static_join(stream, dim, "user_id", how="full")


def test_stream_stream_interval_join_equals_batch(spark, db):
    """Watermarked stream-stream interval join: availableNow replay
    equals the batch interval join (attribution: views in the hour
    before each purchase)."""
    from pandas_db_spark.sources.registry import events_stream_reader
    from pandas_db_spark.streaming import join as SJ
    from pyspark.sql import functions as F

    def sides(src):
        p = (src.where(F.col("event_type") == "purchase")
             .select("user_id", F.col("event_id").alias("purchase_id"),
                     F.col("ts").cast("timestamp").alias("p_ts")))
        v = (src.where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("user_id"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").cast("timestamp").alias("v_ts")))
        return p, v

    bp, bv = sides(db.events.df)
    batch = SJ.interval_join(bp, bv, "user_id", "p_ts", "v_ts",
                             "-1 hour", "0 seconds") \
        .select("purchase_id", "view_id")
    sp, sv = sides(events_stream_reader(spark, db._path))
    got = SJ.run_interval_join(sp, sv, "user_id", "p_ts", "v_ts",
                               "-1 hour", "0 seconds",
                               "t_ssjoin_test") \
        .select("purchase_id", "view_id")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_stream_quality_matches_batch(spark, db):
    """Real availableNow run of the streaming expectation monitor equals
    the batch suite row for row; unique rules are rejected up front."""
    import pytest
    from pandas_db_spark.operators import quality as Q
    from pandas_db_spark.sources.registry import events_stream_reader
    from pandas_db_spark.streaming.quality import (run_quality_monitor,
                                                   stream_expectations)

    rules = [Q.not_null("value"), Q.in_range("value", 0, 10_000)]
    stream = events_stream_reader(spark, str(db._path)).select(
        "event_id", "value")
    got = {r["rule"]: (r["violations"], r["n_rows"], r["ok"])
           for r in run_quality_monitor(stream, rules,
                                        "t_stream_quality").collect()}
    exp = {r["rule"]: (r["violations"], r["n_rows"], r["ok"])
           for r in Q.check_expectations(
               db.events.df.select("event_id", "value"), rules).collect()}
    assert got == exp
    with pytest.raises(ValueError, match="unique"):
        stream_expectations(stream, [Q.unique("event_id")])


def test_windowed_quality_stream_matches_batch(spark, db):
    import pytest
    from pandas_db_spark.operators import quality as Q
    from pandas_db_spark.sources.registry import events_stream_reader
    from pandas_db_spark.streaming.quality import windowed_expectations

    rules = [Q.not_null("value"), Q.in_range("value", 0, 10_000)]
    batch = windowed_expectations(db.events.df, "ts", rules,
                                  duration="1 day")
    stream = events_stream_reader(spark, str(db._path)).select(
        "event_id", "ts", "value")
    out = windowed_expectations(stream, "ts", rules, duration="1 day",
                                watermark="2 days")
    qr = (out.writeStream.format("memory").queryName("t_quality_trend")
          .outputMode("append").trigger(availableNow=True).start())
    try:
        qr.processAllAvailable()
    finally:
        qr.stop()
    got = {(r["window_start"], r["rule"]): (r["violations"], r["n_rows"])
           for r in spark.table("t_quality_trend").collect()}
    exp = {(r["window_start"], r["rule"]): (r["violations"], r["n_rows"])
           for r in batch.collect()}
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch totals exactly, and all but the last
    # few watermark-open days must have emitted
    assert got and all(got[k] == exp[k] for k in got)
    assert len(got) >= len(exp) - len({r for _, r in exp}) * 4
    with pytest.raises(ValueError, match="watermark"):
        windowed_expectations(stream, "ts", rules)
    with pytest.raises(ValueError, match="distinct"):
        windowed_expectations(stream, "ts", [Q.unique("event_id")],
                              watermark="1 day")


def test_dedup_ingest_pipeline(spark, tmp_path):
    """Multi-batch streaming ingest never admits a seen document: plant
    duplicates across micro-batches, assert the final corpus holds
    exactly one doc per normalized-text equivalence class."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    src = tmp_path / "incoming"
    batches = [
        [(1, "alpha text"), (2, "beta text"), (3, "alpha  TEXT")],
        [(4, "beta text"), (5, "gamma text")],
        [(6, "GAMMA text"), (7, "delta text"), (8, "delta text")],
    ]
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{i}"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    from pandas_db_spark.operators.dedup import normalized_text
    from pyspark.sql import functions as F
    classes = corpus.select(
        normalized_text(F.col("text")).alias("k")).distinct().count()
    # 4 equivalence classes (alpha/beta/gamma/delta), one survivor each
    assert corpus.count() == 4 and classes == 4
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.count() == 4 and store.select("digest").distinct().count() == 4


def test_near_dup_ingest_pipeline(spark, tmp_path):
    """mode='near': a later batch's near-duplicate (not exact) of an
    ingested doc is dropped; novel docs survive."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen")
    src = tmp_path / "in"
    batches = [
        [(1, base), (2, "totally different words that share nothing "
                        "with the first document at all here")],
        [(3, base + " seventeen"),   # near-dup of doc 1 (J ~ 0.8+)
         (4, "another genuinely novel piece of text with its own "
             "vocabulary and no overlap whatsoever")],
    ]
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{i}"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     mode="near", threshold=0.5)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert kept == {1, 2, 4}
    import pytest
    with pytest.raises(ValueError, match="unknown mode"):
        run_dedup_ingest(stream, "text", "doc_id", "x", "y", "z",
                         mode="fuzzy")


def test_near_ingest_dedupes_within_batch(spark, tmp_path):
    """mode='near' must dedupe INSIDE a micro-batch too: a batch carrying
    an exact duplicate AND a near-duplicate of the same doc admits only
    one representative (ADVICE r6 medium)."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen")
    src = tmp_path / "in"
    rows = [(1, base),
            (2, base),                     # exact dup, same batch
            (3, base + " seventeen"),      # near dup, same batch
            (4, "a wholly different document with disjoint vocabulary "
                "sharing nothing at all with the base text")]
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.parquet(f"{src}/b0"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     mode="near", threshold=0.5)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert kept == {1, 4}


def test_ingest_crash_replay_idempotent(spark, tmp_path):
    """Crash between corpus append and store append, then replay of the
    same batch: with partition_by_batch=True the batch-id partition is
    dynamically overwritten, so the corpus holds no duplicates (VERDICT
    r6 #7).  Simulated by wiping the store + checkpoint after a full run
    and re-ingesting the same input."""
    import shutil
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    src = tmp_path / "in"
    rows = [(1, "alpha text"), (2, "beta text")]
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.parquet(f"{src}/b0"))

    def ingest():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(f"{src}/b*"))
        run_dedup_ingest(stream, "text", "doc_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(tmp_path / "store"),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         partition_by_batch=True)

    ingest()
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 2
    # crash before the store append + lost checkpoint → full replay of
    # batch 0 with an empty store (worst case)
    shutil.rmtree(tmp_path / "store")
    shutil.rmtree(tmp_path / "ckpt")
    ingest()
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    assert corpus.count() == 2
    assert corpus.select("doc_id").distinct().count() == 2


def test_ingest_skips_empty_micro_batch(spark, tmp_path):
    """sink.drain_batches skips empty micro-batches: a stream whose only
    micro-batch is empty leaves the corpus and the store without data
    rows, and the next non-empty batch lands exactly as usual."""
    import os

    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    schema = "doc_id long, text string"
    src, corpus, store = (str(tmp_path / d) for d in ("in", "corpus",
                                                      "store"))

    def ingest():
        stream = spark.readStream.schema(schema).parquet(f"{src}/b*")
        run_dedup_ingest(stream, "text", "doc_id", corpus_dir=corpus,
                         store_dir=store,
                         checkpoint_dir=str(tmp_path / "ckpt"))

    def rows(path, schema):
        return spark.read.schema(schema).parquet(path).collect() \
            if os.path.exists(path) else []

    (spark.createDataFrame([], schema).coalesce(1)
     .write.parquet(f"{src}/b0"))
    ingest()
    assert rows(corpus, schema) == []
    assert rows(store, "digest string, id long") == []

    (spark.createDataFrame([(1, "alpha text"), (2, "alpha  TEXT"),
                            (3, "beta text")], schema)
     .coalesce(1).write.parquet(f"{src}/b1"))
    ingest()
    got = {tuple(r) for r in rows(corpus, schema + ", batch_id int")}
    assert got == {(1, "alpha text", 1), (3, "beta text", 1)}
    assert len(rows(store, "digest string, id long")) == 2


def test_ingest_store_read_error_propagates(spark, tmp_path):
    """A corrupted store must fail the ingest loudly, not silently reset
    dedup state (ADVICE r6 low): a store dir containing a non-parquet
    file raises instead of being treated as 'first batch ever'."""
    import pytest
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    src = tmp_path / "in"
    (spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
     .coalesce(1).write.parquet(f"{src}/b0"))
    store = tmp_path / "store"
    store.mkdir()
    (store / "garbage.parquet").write_bytes(b"not parquet at all")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(f"{src}/b*"))
    with pytest.raises(Exception) as ei:
        run_dedup_ingest(stream, "text", "doc_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(store),
                         checkpoint_dir=str(tmp_path / "ckpt"))
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_events_stream_reader_directory_dataset(spark, tmp_path, db):
    """r8: a directory-shaped events.parquet (anything Spark wrote — the
    production layout) must stream its rows; the filename glob used for
    the single-file testdata layout matches zero part files inside a
    directory dataset and silently streamed nothing."""
    from pandas_db_spark.sources.registry import events_stream_reader

    out = str(tmp_path / "sfdir")
    db.events.df.limit(123).write.parquet(out + "/events.parquet")
    stream = events_stream_reader(spark, out)
    q = (stream.writeStream.format("memory").queryName("r8_dirstream")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("r8_dirstream").count() == 123


def test_embedding_ingest_pipeline(spark, tmp_path):
    """r8 mode='embedding': a later batch's exact-copy vector of an
    ingested one is dropped, an in-batch duplicate pair admits one, and
    orthogonal/novel vectors survive; the pinned band geometry is
    written once and reused."""
    import math
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    def vec(i, dim=64):
        # unit basis-ish vectors: v_i and v_j (i != j) are orthogonal
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    src = tmp_path / "in"
    batches = [
        [(1, vec(0)), (2, vec(1)),
         (3, vec(1))],                 # in-batch duplicate of 2
        [(4, vec(0)),                  # cross-batch duplicate of 1
         (5, vec(2))],                 # novel
    ]
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
         .coalesce(1).write.parquet(f"{src}/b{i}"))
    stream = (spark.readStream.schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "embedding", "vec_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     mode="embedding", threshold=0.95,
                     expected_corpus=10_000)
    kept = {r["vec_id"] for r in
            spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert kept == {1, 2, 5}
    meta = spark.read.parquet(str(tmp_path / "store/meta")).collect()
    assert len(meta) == 1
    # pinned geometry satisfies the documented recall bound at 0.95
    b, r = int(meta[0]["bands"]), int(meta[0]["rows"])
    p = 1.0 - math.acos(0.95) / math.pi
    assert (1.0 - p ** r) ** b <= 1e-6
    # store state: keys for the 3 survivors at `bands` rows each + vecs
    keys = spark.read.parquet(str(tmp_path / "store/keys"))
    assert keys.count() == 3 * b
    assert spark.read.parquet(str(tmp_path / "store/vecs")).count() == 3


def test_embedding_ingest_store_partitioned_and_replay(spark, tmp_path):
    """r9 (ADVICE r8): with partition_by_batch=True the embedding store
    appends (/keys, /vecs) are batch-id-partitioned dynamic overwrites —
    a full replay of a committed batch (checkpoint lost) rewrites its
    own partitions instead of double-appending, so corpus AND store row
    counts are unchanged."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest
    import os
    import shutil

    def vec(i, dim=64):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    src = tmp_path / "in"
    rows = [(1, vec(0)), (2, vec(1)), (3, vec(2))]
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .coalesce(1).write.parquet(f"{src}/b0"))

    def ingest():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>")
                  .parquet(f"{src}/b*"))
        run_dedup_ingest(stream, "embedding", "vec_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(tmp_path / "store"),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         mode="embedding", threshold=0.95,
                         expected_corpus=10_000)

    ingest()
    store = str(tmp_path / "store")
    assert os.path.isdir(store + "/keys/batch_id=0")
    assert os.path.isdir(store + "/vecs/batch_id=0")
    k0 = spark.read.parquet(store + "/keys").count()
    v0 = spark.read.parquet(store + "/vecs").count()
    assert v0 == 3
    # committed batch replays wholesale (at-least-once): counts unchanged
    shutil.rmtree(tmp_path / "ckpt")
    ingest()
    assert spark.read.parquet(store + "/keys").count() == k0
    assert spark.read.parquet(store + "/vecs").count() == v0
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 3


def test_embedding_ingest_growth_warning(spark, tmp_path):
    """r9 (VERDICT r8 #2): once the stored corpus outgrows the pinned
    expected_corpus design density, the ingest warns and names the
    reband_store migration; under the pin it stays silent."""
    import warnings
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    def vec(i, dim=64):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    src = tmp_path / "in"
    for b, ids in enumerate(([1, 2, 3], [4, 5, 6])):
        (spark.createDataFrame([(i, vec(i)) for i in ids],
                               "vec_id long, embedding array<float>")
         .coalesce(1).write.parquet(f"{src}/b{b}"))

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_dedup_ingest(stream, "embedding", "vec_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(tmp_path / "store"),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         mode="embedding", threshold=0.95,
                         expected_corpus=2)  # pin below the real corpus
    msgs = [str(w.message) for w in caught
            if "reband_store" in str(w.message)]
    assert msgs, "growth past the pin did not warn"
    assert "design density" in msgs[0]


def test_compact_dedup_store_exact_and_near(spark, tmp_path):
    """r9: the exact/near ingest stores compact like the embedding one —
    duplicate appended rows collapse, batch history lands in the
    batch_id=-1 sentinel, and incremental dedup against the compacted
    store answers unchanged."""
    import os
    from pandas_db_spark.operators.dedup import (compact_dedup_store,
                                                 dedup_incremental,
                                                 fingerprint_store,
                                                 minhash_store)

    docs = spark.createDataFrame(
        [(i, f"doc number {i} body text alpha beta gamma") for i in range(20)],
        "doc_id long, text string")

    exact_dir = str(tmp_path / "exact")
    fp = fingerprint_store(docs, "text", "doc_id")
    for b in (0, 1):
        for _ in range(2):  # double-append = simulated replays
            (fp.withColumn("batch_id", F.lit(b)).write.mode("append")
             .partitionBy("batch_id").parquet(exact_dir))
    assert spark.read.parquet(exact_dir).count() == 80
    compact_dedup_store(spark, exact_dir, mode="exact")
    store = spark.read.parquet(exact_dir)
    assert store.count() == 20
    assert os.path.isdir(exact_dir + "/batch_id=-1")
    # probe: the same docs are all recognized as already-ingested
    assert dedup_incremental(docs, store, "text", "doc_id").count() == 0

    near_dir = str(tmp_path / "near")
    sigs = minhash_store(docs, "text", "doc_id")
    for _ in range(2):  # unpartitioned store stays unpartitioned
        sigs.write.mode("append").parquet(near_dir + "/sigs")
        docs.write.mode("append").parquet(near_dir + "/docs")
    compact_dedup_store(spark, near_dir, mode="near")
    assert spark.read.parquet(near_dir + "/sigs").count() == 20
    assert spark.read.parquet(near_dir + "/docs").count() == 20
    assert "batch_id" not in spark.read.parquet(near_dir + "/sigs").columns
    # a swap interrupted between its renames: the re-run recovers first
    os.rename(near_dir + "/sigs", near_dir + "/sigs.__stage_old")
    compact_dedup_store(spark, near_dir, mode="near")
    assert spark.read.parquet(near_dir + "/sigs").count() == 20

    with pytest.raises(ValueError, match="unknown mode"):
        compact_dedup_store(spark, near_dir, mode="embedding")


def test_embedding_ingest_auto_migrate(spark, tmp_path):
    """r9: with auto_migrate=True a store that outgrew its pin is
    re-banded BEFORE the stream starts — meta re-pinned for 2x the
    current corpus, keys re-keyed — and the migrated store still drops
    cross-run duplicates exactly."""
    import warnings
    from pandas_db_spark.operators.similarity import auto_sign_geometry
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    def vec(i, dim=64):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    src = tmp_path / "in"
    (spark.createDataFrame([(i, vec(i)) for i in (1, 2, 3)],
                           "vec_id long, embedding array<float>")
     .coalesce(1).write.parquet(f"{src}/b0"))

    def ingest(auto_migrate):
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>")
                  .parquet(f"{src}/b*"))
        run_dedup_ingest(stream, "embedding", "vec_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(tmp_path / "store"),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         mode="embedding", threshold=0.95,
                         expected_corpus=2,  # pinned too small on purpose
                         auto_migrate=auto_migrate)

    ingest(auto_migrate=False)  # first run: builds the tiny-pinned store
    meta0 = spark.read.parquet(str(tmp_path / "store/meta")).collect()[0]
    assert (int(meta0["bands"]), int(meta0["rows"])) == \
        auto_sign_geometry(2, 0.95)

    # second run: 3 stored > pin 2 → migrate to geometry for 2*3=6,
    # then batch 1 (one dup of vec 1, one novel) probes the REBANDED keys
    (spark.createDataFrame([(10, vec(1)), (11, vec(5))],
                           "vec_id long, embedding array<float>")
     .coalesce(1).write.parquet(f"{src}/b1"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ingest(auto_migrate=True)
    meta1 = spark.read.parquet(str(tmp_path / "store/meta")).collect()[0]
    assert (int(meta1["bands"]), int(meta1["rows"])) == \
        auto_sign_geometry(6, 0.95)
    assert int(meta1["expected_corpus"]) == 6
    kept = {r["vec_id"] for r in
            spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert kept == {1, 2, 3, 11}  # dup of vec 1 dropped via migrated keys
    # pin now covers the corpus → no growth warning during the run
    assert not [w for w in caught if "reband_store" in str(w.message)]


def test_embedding_ingest_crash_compact_migrate_end_to_end(spark,
                                                          tmp_path):
    """VERDICT r9 #7: the staged rename and store compaction are proven
    offline; this drives them INSIDE the ingest loop.  Timeline: ingest
    b0 → ingest b1 → crash BETWEEN b1's corpus write and its store
    append (batch_id=1 store partitions wiped, checkpoint lost — the
    dangerous replay case) → mid-stream maintenance window: a crashed
    staged swap on /keys is recovered, the store is compacted
    (batch_id=-1 sentinel), and the restart runs auto_migrate (store
    outgrew its pin → reband) → replay of b0+b1 and fresh b2 process
    against the recovered+compacted+rebanded store.  The survivor set
    must equal an uninterrupted run's."""
    import shutil
    from pandas_db_spark.operators.similarity import compact_signlsh_store
    from pandas_db_spark.streaming.sink import recover_staged
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    def vec(i, dim=64):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    batches = [
        [(1, vec(0)), (2, vec(1)), (3, vec(2)), (4, vec(3))],
        [(5, vec(0)), (6, vec(4)), (7, vec(5))],   # 5 dups 1
        [(8, vec(4)), (9, vec(6))],                # 8 dups 6
    ]
    schema = "vec_id long, embedding array<float>"

    def run(root, upto, auto_migrate=False):
        src = root / "in"
        for b in range(upto):
            if not (src / f"b{b}").exists():
                (spark.createDataFrame(batches[b], schema)
                 .coalesce(1).write.parquet(str(src / f"b{b}")))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/b*"))
        run_dedup_ingest(stream, "embedding", "vec_id",
                         corpus_dir=str(root / "corpus"),
                         store_dir=str(root / "store"),
                         checkpoint_dir=str(root / "ckpt"),
                         mode="embedding", threshold=0.95,
                         expected_corpus=3,  # < |b0| → migration fires
                         auto_migrate=auto_migrate)

    # reference: uninterrupted run over all three batches
    ref_root = tmp_path / "ref"
    run(ref_root, 3)
    ref = {r["vec_id"] for r in
           spark.read.parquet(str(ref_root / "corpus")).collect()}
    assert ref == {1, 2, 3, 4, 6, 7, 9}

    # interrupted run
    root = tmp_path / "crash"
    run(root, 2)
    store = str(root / "store")
    # crash between b1's corpus write and store append: the corpus holds
    # batch 1 but the store never saw it, and the checkpoint is lost
    shutil.rmtree(store + "/keys/batch_id=1")
    shutil.rmtree(store + "/vecs/batch_id=1")
    shutil.rmtree(root / "ckpt")
    # plus a crashed staged swap on /keys (mid-rename: live dir gone,
    # old copy in the .__stage_old sibling)
    shutil.move(store + "/keys", store + "/keys.__stage_old")
    # maintenance window: recover the swap, compact the store
    assert recover_staged(spark, store + "/keys")
    compact_signlsh_store(spark, store)
    assert spark.read.parquet(store + "/keys") \
        .select("batch_id").distinct().collect()[0]["batch_id"] == -1
    # restart: 4 stored > pin 3 → auto_migrate rebands, then b0+b1
    # replay and b2 processes against the migrated store
    run(root, 3, auto_migrate=True)
    got = {r["vec_id"] for r in
           spark.read.parquet(str(root / "corpus")).collect()}
    assert got == ref
    # store state consistent: every corpus survivor has exactly one
    # /vecs row (replay did not double-append through the compaction)
    vecs = spark.read.parquet(store + "/vecs")
    assert vecs.count() == vecs.select("vec_id").distinct().count()
    assert {r["vec_id"] for r in vecs.select("vec_id").collect()} == ref


def test_span_ingest_pipeline(spark, tmp_path):
    """mode='span' (r9): a later batch's doc embedding an 11-token span
    copied from an ingested doc is dropped (winnowing catches runs
    >= k+w-1 = 11); within a batch the smaller-id owner of a shared
    span survives; novel docs always survive."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    span = " ".join(f"s{i}" for i in range(11))
    src = tmp_path / "in"
    batches = [
        [(1, "intro words " + span + " trailing text here today"),
         (2, "a wholly different document with disjoint vocabulary "
             "of its own kind and nothing shared at all anywhere")],
        [(3, "fresh prefix then " + span + " and a new ending"),  # span dup
         (4, "novel body with totally separate tokens beyond any "
             "overlap whatsoever in this stream of words friend"),
         (5, "novel body with totally separate tokens beyond any "
             "overlap whatsoever in this stream of words friend")],  # dup of 4, same batch
    ]
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{i}"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     mode="span", span_k=8, span_w=4)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert kept == {1, 2, 4}
    # the store accumulated fingerprints + docs for the survivors only
    fps = spark.read.parquet(str(tmp_path / "store" / "fps"))
    docs = spark.read.parquet(str(tmp_path / "store" / "docs"))
    assert {r["doc_id"] for r in docs.collect()} == {1, 2, 4}
    assert fps.count() > 0


def test_span_ingest_catches_short_verbatim_dups(spark, tmp_path):
    """r9 review: winnowing emits no fingerprint for docs shorter than
    k+w-1 tokens, so the span mode's exact-digest layer must still drop
    a verbatim copy of a short doc arriving in a LATER batch."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    short = "only eight tokens live in this tiny doc"  # 8 tokens < 11
    src = tmp_path / "in"
    batches = [
        [(1, short),
         (2, "a longer companion document with plenty of its own tokens "
             "to stand apart from everything else")],
        [(3, short),      # verbatim copy of a short doc, next batch
         (4, "fresh vocabulary forming a wholly new document body for "
             "the second batch of this stream")],
    ]
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{i}"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     mode="span", span_k=8, span_w=4)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert kept == {1, 2, 4}


def test_ingest_eval_bloom_screen(spark, tmp_path):
    """eval_bloom decontaminates each batch BEFORE dedup: a planted
    verbatim eval leak never reaches the corpus or the digest store,
    clean duplicates still dedup, and the embedding mode rejects the
    option."""
    from pandas_db_spark.operators.decontam import build_ngram_bloom
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    leak = "the secret benchmark answer is forty two exactly here"
    ev = spark.createDataFrame(
        [(1, f"eval question: {leak}")], "doc_id long, text string")
    bloom = build_ngram_bloom(ev, m_bits=1 << 16)

    src = tmp_path / "incoming"
    batches = [
        [(10, f"padding words then {leak} trailing tail"),   # contaminated
         (11, "a clean document about spark plans")],
        [(12, "a clean document about spark plans"),          # dup of 11
         (13, f"{leak} verbatim leak again"),                 # contaminated
         (14, "another clean fresh document entirely")],
    ]
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{i}"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     eval_bloom=bloom)
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    # contaminated 10/13 screened out; 12 deduped against 11
    assert ids == {11, 14}, ids
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.count() == 2  # contaminated docs never seeded the store
    with pytest.raises(ValueError, match="embedding mode carries vectors"):
        run_dedup_ingest(stream, "embedding", "doc_id", "x", "y", "z",
                         mode="embedding", eval_bloom=bloom)


def test_ingest_quality_screen_drops_failing_docs(spark, tmp_path):
    """quality_screen=True drops Gopher-failing docs before dedup: a
    too-short doc and an all-numeric doc never reach the corpus; a
    passing doc survives; embedding mode rejects the option."""
    from pandas_db_spark.streaming.ingest import run_dedup_ingest

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs away to be with the other foxes that have made "
            "their home beyond the river of glass with ample speed "
            "and grace that none of the hounds could ever hope to "
            "match even on the best of days for they have trained") * 2
    src = tmp_path / "incoming"
    rows = [(1, good), (2, "way too short"),
            (3, " ".join(["1234"] * 80))]
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.parquet(f"{src}/b0"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(f"{src}/b*"))
    run_dedup_ingest(stream, "text", "doc_id",
                     corpus_dir=str(tmp_path / "corpus"),
                     store_dir=str(tmp_path / "store"),
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     quality_screen=True)
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    assert {r.doc_id for r in corpus.select("doc_id").collect()} == {1}
    with pytest.raises(ValueError, match="quality_screen needs a text"):
        run_dedup_ingest(stream, "embedding", "doc_id", "x", "y", "z",
                         mode="embedding", quality_screen=True)


def test_ingest_web_curation_screens_match_batch_pipeline(spark, tmp_path):
    """r11 (VERDICT r10 Next #7): pipeline_web_clean's stages run
    INCREMENTALLY — the URL + blocklist screens per micro-batch inside
    run_dedup_ingest, the corpus-global boilerplate strip as the
    post-pass batch job over the accumulated corpus — and the final
    survivor set (ids, cleaned text, strip counts) EQUALS the
    all-at-once batch pipeline on the same input.  Also: a replay
    (re-run with the same checkpoint, no new files) changes nothing,
    and exact dedup still operates alongside the screens."""
    from pandas_db_spark.operators.dedup import strip_common_paragraphs
    from pandas_db_spark.streaming.ingest import run_dedup_ingest
    from pandas_db_spark.streaming.screens import (make_blocklist_screen,
                                                   make_url_screen)

    boil = "please accept our cookie policy to continue browsing"
    rows = []
    for i in range(30):
        url = ("https://ads.tracker-net.com/x" if i % 10 == 3 else
               "https://10.0.0.9/y" if i % 10 == 6 else
               f"https://site{i}.example.org/p{i}")
        text = f"unique body paragraph number {i} with enough characters"
        if i % 10 == 8:
            text += " spamword"
        if i < 16:          # boilerplate lands in 16 docs across batches
            text += "\n\n" + boil
        rows.append((i, text, url))
    rows.append((100, rows[4][1], "https://dupe.example.org/z"))  # exact dup

    src = tmp_path / "incoming"
    batches = [rows[:10], rows[10:20], rows[20:]]
    screens = [make_url_screen("url", ["tracker-net.com"]),
               make_blocklist_screen("text", ["spamword"])]

    def ingest():
        stream = (spark.readStream
                  .schema("doc_id long, text string, url string")
                  .parquet(f"{src}/b*"))
        run_dedup_ingest(stream, "text", "doc_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(tmp_path / "store"),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         screens=screens)

    for bi, chunk in enumerate(batches):   # three incremental runs
        (spark.createDataFrame(chunk, "doc_id long, text string, url string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        ingest()
    ingest()                               # replay: no new files -> no-op

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    # the global post-pass batch job over the accumulated corpus
    inc = {tuple(r) for r in strip_common_paragraphs(
        corpus.select("doc_id", "text"), "text", "doc_id",
        max_docs=5).collect()}

    # all-at-once batch reference: same screens, exact keep-min-id
    # dedup, same global strip
    full = spark.createDataFrame(rows, "doc_id long, text string, url string")
    for s in screens:
        full = s(full)
    w_min = full.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    ref_docs = full.join(w_min, ["text", "doc_id"], "left_semi")
    ref = {tuple(r) for r in strip_common_paragraphs(
        ref_docs.select("doc_id", "text"), "text", "doc_id",
        max_docs=5).collect()}
    assert inc == ref
    ids = {t[0] for t in inc}
    assert 100 not in ids                  # exact dup dropped (id 4 kept)
    assert 4 in ids
    assert all(i not in ids for i in (3, 13, 23, 6, 16, 26, 8, 18, 28))
    # boilerplate really was stripped by the post-pass
    assert all(boil not in t[1] for t in inc)
    assert any(t[2] == 1 for t in inc)


def test_ingest_gopher_and_classifier_screens_match_batch(spark, tmp_path):
    """r12 (VERDICT r11 Next #5): the quality battery's remaining
    stateless stages run as ingest screens — Gopher rules and the
    TRAINED linear classifier — and the incremental survivor set EQUALS
    the batch application of the same stages: the classifier screen's
    row-local logit reproduces classifier_score_hashed's ascending-
    bucket float sequence bit-for-bit, so the threshold decision can
    never diverge between the door and the corpus pass.  Replay is a
    no-op, and kwargs (min_words) pass through the Gopher screen."""
    from pandas_db_spark.functions.text import gopher_flags
    from pandas_db_spark.operators.lm import (classifier_fit,
                                              classifier_score_hashed)
    from pandas_db_spark.streaming.ingest import run_dedup_ingest
    from pandas_db_spark.streaming.screens import (make_classifier_screen,
                                                   make_gopher_screen)

    # fluent filler with >= 2 distinct Gopher stopwords per doc, plus a
    # separable marker pair for the classifier
    def body(i):
        base = (f"the document number {i} explains its topic clearly "
                f"and walks through details of item {i} with care")
        return base + (" useful useful useful" if i % 2 else
                       " junk junk junk")

    rows = []
    for i in range(30):
        t = body(i)
        if i % 10 == 4:
            t = f"tiny {i} text"                # fails min_words=8
        if i % 10 == 7:
            t = "#" * 40 + " " + t              # fails symbol_ok
        rows.append((i, t, i % 2))
    train = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b = classifier_fit(train, "y", n_buckets=128, n_iter=20, lr=1.0)

    screens = [make_gopher_screen("text", min_words=8),
               make_classifier_screen("text", w, bias=b, threshold=0.0)]

    src = tmp_path / "incoming"

    def ingest():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(f"{src}/b*"))
        run_dedup_ingest(stream, "text", "doc_id",
                         corpus_dir=str(tmp_path / "corpus"),
                         store_dir=str(tmp_path / "store"),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         screens=screens)

    data = [(i, t) for i, t, _ in rows]
    for bi, chunk in enumerate([data[:15], data[15:]]):
        (spark.createDataFrame(chunk, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        ingest()
    ingest()                                   # replay: no-op

    inc_ids = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "corpus")).select("doc_id").collect()}

    # batch reference: gopher flags + the BATCH scorer's thresholding
    full = spark.createDataFrame(data, "doc_id long, text string")
    gok = full.where(gopher_flags(F.col("text"), min_words=8)
                     ["gopher_keep"])
    scored = classifier_score_hashed(gok, w, bias=b)
    ref_ids = {r["doc_id"] for r in
               gok.join(scored.where(F.col("logit") > 0), "doc_id")
                  .select("doc_id").collect()}
    assert inc_ids == ref_ids
    # classifier kept odd ids (useful-marker class), gopher dropped the
    # planted violations regardless of class
    assert all(i % 2 == 1 for i in inc_ids)
    assert 7 not in inc_ids and 17 not in inc_ids and 27 not in inc_ids
    assert len(inc_ids) > 5


def test_bm25_index_ingest_serves_prunes_and_replays(spark, tmp_path):
    """run_bm25_index_ingest (r12): a document stream maintains a
    servable BM25 text index — per-batch postings under
    batch_id/tbucket dynamic overwrite, exact-integer per-batch meta
    summed at serve — and bm25_topk_streamed's ranking EQUALS
    bm25_topk_indexed over a from-scratch catalog build on the same
    corpus (scores too, not just ranks).  A replay with no new files is
    a byte-identical no-op, a resumed stream extends the corpus, the
    probe partition-prunes on tbucket, and n_buckets geometry is
    honored."""
    from pandas_db_spark.operators.retrieval import (bm25_topk_indexed,
                                                     bm25_topk_streamed,
                                                     build_inverted_index)
    from pandas_db_spark.plans.explain import formatted_plan
    from pandas_db_spark.streaming.ingest import run_bm25_index_ingest

    words = ["merge", "vector", "stream", "apple", "banana", "cosine",
             "delta", "engine", "filter", "gather"]
    def body(i):
        return " ".join(words[(i + j) % len(words)]
                        for j in range(3 + (i % 7)))
    rows = [(i, body(i)) for i in range(120)]

    src = tmp_path / "docs_in"
    idx = str(tmp_path / "bm25idx")

    def ingest():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(f"{src}/b*"))
        run_bm25_index_ingest(stream, idx,
                              checkpoint_dir=str(tmp_path / "ck"),
                              n_buckets=8)

    for bi, chunk in enumerate([rows[:50], rows[50:100]]):
        (spark.createDataFrame(chunk, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        ingest()

    before = sorted(map(tuple, spark.read.parquet(
        idx + "/postings").collect()))
    ingest()                        # replay: no new files -> no-op
    after = sorted(map(tuple, spark.read.parquet(
        idx + "/postings").collect()))
    assert after == before

    q = "merge vector stream"
    served = bm25_topk_streamed(spark, idx, q, k=10, n_buckets=8)
    assert "PartitionFilters" in formatted_plan(served)
    got = [tuple(r) for r in served.collect()]

    corpus = spark.createDataFrame(rows[:100], "doc_id long, text string")
    build_inverted_index(corpus, "text", "doc_id", "r12bmref",
                         n_buckets=8)
    ref = [tuple(r) for r in bm25_topk_indexed(
        spark, "r12bmref", q, k=10).collect()]
    assert got == ref and len(got) == 10

    # resume: batch 2 extends the corpus; served == rebuild over 120
    (spark.createDataFrame(rows[100:], "doc_id long, text string")
     .coalesce(1).write.parquet(f"{src}/b2"))
    ingest()
    full = spark.createDataFrame(rows, "doc_id long, text string")
    build_inverted_index(full, "text", "doc_id", "r12bmref2",
                         n_buckets=8)
    got2 = [tuple(r) for r in bm25_topk_streamed(
        spark, idx, q, k=10, n_buckets=8).collect()]
    ref2 = [tuple(r) for r in bm25_topk_indexed(
        spark, "r12bmref2", q, k=10).collect()]
    assert got2 == ref2

    # meta sums are the exact integers of the batch-build discipline
    m = (spark.read.parquet(idx + "/meta")
         .groupBy().sum("n_docs", "sum_dl").collect()[0])
    ref_meta = spark.table("r12bmref2_meta").collect()[0]
    assert m[0] == ref_meta["n_docs"] == 120
    assert m[1] == ref_meta["sum_dl"]

    import pytest
    with pytest.raises(ValueError, match="no terms"):
        bm25_topk_streamed(spark, idx, "   ")
    for t in ("r12bmref", "r12bmref2"):
        for s in ("_postings", "_terms", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


def test_bm25_stream_index_quiesce_compact_resume(spark, tmp_path):
    """compact_bm25_stream_index (r12): the BM25 twin of the IVF
    quiesce-compact-resume contract — per-batch fragmentation folds
    into batch_id=-1 at one postings file per tbucket and a single
    meta file, content row-identical, served ranking unchanged, an
    uncommitted checkpoint is refused, and a resumed stream appends
    batch 2 beside the compacted partition with serving equal to a
    from-scratch build over the full corpus."""
    import pytest
    from pandas_db_spark.operators.retrieval import (
        bm25_topk_indexed, bm25_topk_streamed, build_inverted_index,
        compact_bm25_stream_index)
    from pandas_db_spark.streaming.ingest import run_bm25_index_ingest

    words = ["merge", "vector", "stream", "apple", "banana", "cosine",
             "delta", "engine", "filter", "gather"]
    rows = [(i, " ".join(words[(i + j) % len(words)]
                         for j in range(3 + (i % 7))))
            for i in range(90)]
    src = tmp_path / "docs_in"
    idx = str(tmp_path / "bmidx")
    ck = str(tmp_path / "ck")

    def ingest():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(f"{src}/b*"))
        run_bm25_index_ingest(stream, idx, checkpoint_dir=ck,
                              n_buckets=8)

    for bi, chunk in enumerate([rows[:30], rows[30:60]]):
        (spark.createDataFrame(chunk, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        ingest()

    fake = tmp_path / "fake_ck"
    (fake / "offsets").mkdir(parents=True)
    (fake / "commits").mkdir()
    (fake / "offsets" / "0").write_text("{}")
    (fake / "offsets" / "1").write_text("{}")
    (fake / "commits" / "0").write_text("{}")
    with pytest.raises(ValueError, match="not quiesced"):
        compact_bm25_stream_index(spark, idx, checkpoint_dir=str(fake))

    q = "merge vector stream"
    pre = [tuple(r) for r in bm25_topk_streamed(
        spark, idx, q, k=10, n_buckets=8).collect()]
    pre_posts = sorted(map(tuple, spark.read.parquet(
        idx + "/postings").select("term", "doc_id", "tf", "dl",
                                  "tbucket").collect()))
    rep = compact_bm25_stream_index(spark, idx, checkpoint_dir=ck)
    assert rep["postings"]["layout"] == "streaming"
    assert rep["postings"]["files_after"] <= 8 \
        < rep["postings"]["files_before"]
    assert rep["meta"]["files_after"] == 1
    post_posts = sorted(map(tuple, spark.read.parquet(
        idx + "/postings").select("term", "doc_id", "tf", "dl",
                                  "tbucket").collect()))
    assert post_posts == pre_posts
    assert [tuple(r) for r in bm25_topk_streamed(
        spark, idx, q, k=10, n_buckets=8).collect()] == pre

    # resume beside the compacted partition; no double-ingest
    (spark.createDataFrame(rows[60:], "doc_id long, text string")
     .coalesce(1).write.parquet(f"{src}/b2"))
    ingest()
    bids = {r[0] for r in spark.read.parquet(idx + "/postings")
            .select("batch_id").distinct().collect()}
    assert bids == {-1, 2}
    build_inverted_index(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "text", "doc_id", "r12bmcomp", n_buckets=8)
    got = [tuple(r) for r in bm25_topk_streamed(
        spark, idx, q, k=10, n_buckets=8).collect()]
    ref = [tuple(r) for r in bm25_topk_indexed(
        spark, "r12bmcomp", q, k=10).collect()]
    assert got == ref
    for s in ("_postings", "_terms", "_meta"):
        spark.sql(f"DROP TABLE IF EXISTS r12bmcomp{s}")


def test_classifier_screen_threshold_bit_parity(spark):
    """The classifier screen's row-local logit is BIT-IDENTICAL to
    classifier_score_hashed's: using a document's exact batch logit as
    the screen threshold, strict > must drop exactly that document and
    keep exactly the strictly-greater ones — a single ulp of float
    divergence between the two paths would flip the boundary doc."""
    from pandas_db_spark.operators.lm import classifier_score_hashed
    from pandas_db_spark.streaming.screens import make_classifier_screen

    texts = ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs today",
             "a stitch in time saves nine they always say",
             "the rain in spain falls mainly on the plain",
             "every good boy deserves fudge and extra credit",
             "sphinx of black quartz judge my vow at once"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    weights = [((b * 53 + 7) % 997 - 498) / 250.0 for b in range(96)]
    batch = {r["doc_id"]: r["logit"] for r in classifier_score_hashed(
        docs, weights, bias=0.125).collect()}
    assert len(set(batch.values())) == len(batch)   # distinct boundaries
    for probe in (0, 2, 5):
        scr = make_classifier_screen("text", weights, bias=0.125,
                                     threshold=batch[probe])
        kept = {r["doc_id"] for r in scr(docs).collect()}
        assert kept == {d for d, z in batch.items() if z > batch[probe]}
        assert probe not in kept


def test_ivf_index_ingest_serves_and_replays_idempotently(spark, tmp_path):
    """run_ivf_index_ingest (r11): a vector stream maintains a servable
    IVF index — first batch pins the centroids, later batches append
    under batch_id/list_id dynamic overwrite, a replay with no new
    files changes nothing, every assignment matches the pinned
    centroids (independent numpy recomputation), and ivf_topk_indexed
    serves neighbors from ALL batches with partition pruning intact."""
    import numpy as np
    from pandas_db_spark.operators.similarity import ivf_topk_indexed
    from pandas_db_spark.plans.explain import formatted_plan
    from pandas_db_spark.streaming.ingest import run_ivf_index_ingest

    rng = np.random.default_rng(11)
    def mk(lo, hi):
        return [(i, rng.normal(0, 1, 16).tolist()) for i in range(lo, hi)]

    src = tmp_path / "vec_in"
    idx = str(tmp_path / "ivfidx")

    def ingest():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(f"{src}/b*"))
        run_ivf_index_ingest(stream, idx,
                             checkpoint_dir=str(tmp_path / "ck"),
                             nlist=4, sample_n=128)

    for bi, (lo, hi) in enumerate([(0, 120), (120, 240), (240, 360)]):
        (spark.createDataFrame(mk(lo, hi),
                               "vec_id long, embedding array<double>")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        ingest()
    before = sorted(map(tuple, spark.read.parquet(
        idx + "/vectors").select("vec_id", "list_id").collect()))
    ingest()          # replay: no new files -> byte-for-byte no-op
    after = sorted(map(tuple, spark.read.parquet(
        idx + "/vectors").select("vec_id", "list_id").collect()))
    assert after == before and len(after) == 360

    # pinned-geometry assignment parity, recomputed independently
    crows = sorted(spark.read.parquet(idx + "/centroids").collect(),
                   key=lambda r: r["list_id"])
    cent = np.array([r["centroid"] for r in crows])
    back = spark.read.parquet(idx + "/vectors").collect()
    for r in back:
        v = np.array(r["embedding"]); v = v / np.linalg.norm(v)
        assert int((cent @ v).argmax()) == r["list_id"]

    served = ivf_topk_indexed(spark, idx, [10, 300], k=5, nprobe=2)
    plan = formatted_plan(served)
    assert "PartitionFilters" in plan
    got = served.collect()
    assert {r["query_id"] for r in got} == {10, 300}


def test_ivf_index_ingest_quiesce_compact_resume(spark, tmp_path):
    """compact_index on a run_ivf_index_ingest directory (r12, VERDICT
    r11 Next #2 — the round-11 marked-weak item): the streaming
    two-level layout is DETECTED and KEPT — every row folds into the
    reserved batch_id=-1 partition at one file per list — so partition
    discovery never sees mixed depths; content is row-identical;
    quiescence is verified against the real checkpoint (and a planted
    started-but-uncommitted checkpoint is REFUSED); the resumed stream
    appends new batches beside the compacted partition with no
    double-ingest; a replay after compaction is a no-op; and serving
    still partition-prunes."""
    import numpy as np
    import pytest
    from pandas_db_spark.operators.similarity import (compact_index,
                                                      ivf_topk_indexed)
    from pandas_db_spark.plans.explain import formatted_plan
    from pandas_db_spark.streaming.ingest import run_ivf_index_ingest

    rng = np.random.default_rng(12)

    def mk(lo, hi):
        return [(i, rng.normal(0, 1, 16).tolist()) for i in range(lo, hi)]

    src = tmp_path / "vec_in"
    idx = str(tmp_path / "ivfidx")
    ck = str(tmp_path / "ck")

    def ingest():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(f"{src}/b*"))
        run_ivf_index_ingest(stream, idx, checkpoint_dir=ck,
                             nlist=4, sample_n=128)

    for bi, (lo, hi) in enumerate([(0, 120), (120, 240)]):
        (spark.createDataFrame(mk(lo, hi),
                               "vec_id long, embedding array<double>")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        ingest()

    # a checkpoint with a started-but-uncommitted batch is refused
    fake = tmp_path / "fake_ck"
    (fake / "offsets").mkdir(parents=True)
    (fake / "commits").mkdir()
    (fake / "offsets" / "0").write_text("{}")
    (fake / "offsets" / "1").write_text("{}")
    (fake / "commits" / "0").write_text("{}")
    with pytest.raises(ValueError, match="not quiesced"):
        compact_index(spark, idx, checkpoint_dir=str(fake))

    before = sorted(map(tuple, spark.read.parquet(
        idx + "/vectors").select("vec_id", "list_id").collect()))
    rep = compact_index(spark, idx, checkpoint_dir=ck)
    assert rep["vectors"]["layout"] == "streaming"
    assert rep["vectors"]["files_after"] <= 4 < rep["vectors"]["files_before"]

    comp = spark.read.parquet(idx + "/vectors")
    assert sorted(map(tuple, comp.select(
        "vec_id", "list_id").collect())) == before
    assert {r[0] for r in comp.select("batch_id").distinct().collect()} \
        == {-1}

    # resume: a new file becomes batch 2 BESIDE the compacted partition
    (spark.createDataFrame(mk(240, 360),
                           "vec_id long, embedding array<double>")
     .coalesce(1).write.parquet(f"{src}/b2"))
    ingest()
    back = spark.read.parquet(idx + "/vectors")
    ids = [r[0] for r in back.select("vec_id").collect()]
    assert len(ids) == 360 and len(set(ids)) == 360   # no double-ingest
    assert {r[0] for r in back.select("batch_id").distinct().collect()} \
        == {-1, 2}

    ingest()                      # replay after compaction: no-op
    again = [r[0] for r in spark.read.parquet(
        idx + "/vectors").select("vec_id").collect()]
    assert len(again) == 360 and len(set(again)) == 360

    served = ivf_topk_indexed(spark, idx, [10, 300], k=5, nprobe=2)
    assert "PartitionFilters" in formatted_plan(served)
    assert {r["query_id"] for r in served.collect()} == {10, 300}


# ---------------------------------------------------------------------
# streaming drift monitor (r12 part 3)
# ---------------------------------------------------------------------

def test_drift_monitor_matches_batch_tvd_and_replays(spark, tmp_path):
    """run_drift_monitor: the final cumulative drift row equals the
    BATCH term_drift/tvd_summary over the whole streamed corpus vs the
    same reference (exact integers, value for value); each batch's row
    is monotone in coverage; a replayed batch rewrites its own
    partitions byte-identically (no double count)."""
    from pandas_db_spark.operators.stats import term_drift, tvd_summary
    from pandas_db_spark.streaming.monitor import (append_drift_batch,
                                                   drift_history,
                                                   drift_top_terms,
                                                   run_drift_monitor)

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    ref_rows = [(100 + i, " ".join(words[j % 5]
                                   for j in range(i, i + 6)))
                for i in range(40)]
    # streamed corpus skews toward 'alpha' so drift is nonzero
    cur_rows = [(i, " ".join(["alpha"] * 3
                             + [words[(i + j) % 5] for j in range(3)]))
                for i in range(50)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    cur = spark.createDataFrame(cur_rows, "doc_id long, text string")

    src = tmp_path / "docs_in"
    mon = str(tmp_path / "monitor")
    ck = str(tmp_path / "ck")
    for bi, chunk in enumerate([cur_rows[:20], cur_rows[20:]]):
        (spark.createDataFrame(chunk, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(f"{src}/b*"))
        run_drift_monitor(stream, mon, checkpoint_dir=ck,
                          reference_df=ref)

    hist = [tuple(r) for r in drift_history(spark, mon).collect()]
    assert [h[0] for h in hist] == [0, 1]
    # final row == whole-corpus batch replay, bit for bit
    want = tvd_summary(term_drift(cur, ref)).collect()[0]
    got = hist[-1]
    assert (got[1], got[2], got[3]) == (want["tvd_num"],
                                        want["n_a"], want["n_b"])
    # replay batch 1: identical row, history length unchanged
    b1 = spark.read.parquet(f"{src}/b1")
    append_drift_batch(b1, 1, mon)
    assert [tuple(r)
            for r in drift_history(spark, mon).collect()] == hist
    # the skewed term tops the report
    top = drift_top_terms(spark, mon, k=1).collect()[0]
    assert top["term"] == "alpha"


def test_drift_monitor_reference_pinned_and_required(spark, tmp_path):
    """First run without a reference raises; once pinned, a DIFFERENT
    reference_df on a later call is ignored (the series keeps its
    meaning)."""
    import pytest
    from pandas_db_spark.streaming.monitor import (append_drift_batch,
                                                   drift_history)

    batch = spark.createDataFrame(
        [(1, "a b c"), (2, "a a b")], "doc_id long, text string")
    mon = str(tmp_path / "mon2")
    with pytest.raises(ValueError, match="no pinned reference"):
        append_drift_batch(batch, 0, mon)
    ref1 = spark.createDataFrame([(9, "a b c d")],
                                 "doc_id long, text string")
    append_drift_batch(batch, 0, mon, reference_df=ref1)
    row0 = drift_history(spark, mon).collect()[0]
    assert row0["n_ref"] == 4
    ref2 = spark.createDataFrame([(9, "x y")],
                                 "doc_id long, text string")
    append_drift_batch(batch, 1, mon, reference_df=ref2)
    row1 = drift_history(spark, mon).collect()[1]
    assert row1["n_ref"] == 4          # still the PINNED reference


def test_drift_monitor_quiesce_compact_resume(spark, tmp_path):
    """compact_drift_counts: per-batch counts/drift fragmentation folds
    row-identically into batch_id=-1 at one file per store, an
    uncommitted checkpoint is refused, and a resumed stream appends the
    next batch beside the compacted partition with the SAME drift row a
    never-compacted monitor produces."""
    import pytest
    from pandas_db_spark.streaming.monitor import (append_drift_batch,
                                                   compact_drift_counts,
                                                   drift_history)

    ref = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string")
    rows = [(i, " ".join(["alpha"] * (1 + i % 3) + ["beta"]))
            for i in range(30)]
    mon = str(tmp_path / "mon3")
    append_drift_batch(spark.createDataFrame(rows[:10],
                                             "doc_id long, text string"),
                       0, mon, reference_df=ref)
    append_drift_batch(spark.createDataFrame(rows[10:20],
                                             "doc_id long, text string"),
                       1, mon)
    pre_counts = sorted(
        map(tuple, spark.read.parquet(mon + "/counts").collect()))
    pre_hist = [tuple(r) for r in drift_history(spark, mon).collect()]

    fake = tmp_path / "fake_ck"
    (fake / "offsets").mkdir(parents=True)
    (fake / "commits").mkdir()
    (fake / "offsets" / "0").write_text("{}")
    (fake / "commits").joinpath("0").write_text("{}")
    (fake / "offsets" / "1").write_text("{}")
    with pytest.raises(ValueError, match="not quiesced"):
        compact_drift_counts(spark, mon, checkpoint_dir=str(fake))

    rep = compact_drift_counts(spark, mon)
    assert rep["counts"]["files_after"] == 1
    assert rep["drift"]["files_after"] == 1
    # row-identical content (ignoring the folded batch_id column)
    post_counts = sorted(map(tuple, spark.read.parquet(mon + "/counts")
                             .select("term", "c").collect()))
    assert post_counts == sorted((t[0], t[1]) for t in pre_counts)
    # drift history survives the fold with batch ids collapsed to -1
    post_hist = sorted(
        tuple(r) for r in drift_history(spark, mon).collect())
    assert post_hist == sorted((-1,) + h[1:] for h in pre_hist)
    # resume: batch 2 lands beside batch_id=-1; its cumulative row
    # equals the never-compacted monitor's
    append_drift_batch(spark.createDataFrame(rows[20:],
                                             "doc_id long, text string"),
                       2, mon)
    mon2 = str(tmp_path / "mon_ref")
    for bi, chunk in enumerate([rows[:10], rows[10:20], rows[20:]]):
        append_drift_batch(
            spark.createDataFrame(chunk, "doc_id long, text string"),
            bi, mon2, reference_df=ref)
    got = drift_history(spark, mon).where("batch_id = 2").collect()[0]
    want = drift_history(spark, mon2).where("batch_id = 2").collect()[0]
    assert tuple(got) == tuple(want)


def test_drift_alert_thresholds_fire_both_ways(spark, tmp_path):
    """drift_alert: exact-decimal threshold compare — a budget between
    the two batches' TVDs fires on one and not the other; 0 ppm fires
    on any nonzero drift; an impossible budget never fires; negative
    budgets raise."""
    import pytest
    from pandas_db_spark.streaming.monitor import (append_drift_batch,
                                                   drift_alert,
                                                   drift_history)

    ref = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string")
    skew = [(i, "alpha alpha alpha alpha") for i in range(10)]
    calm = [(10 + i, "alpha beta gamma delta") for i in range(40)]
    mon = str(tmp_path / "alert_mon")
    append_drift_batch(spark.createDataFrame(
        skew, "doc_id long, text string"), 0, mon, reference_df=ref)
    append_drift_batch(spark.createDataFrame(
        calm, "doc_id long, text string"), 1, mon)
    hist = {r["batch_id"]: r for r in
            drift_history(spark, mon).collect()}
    tvd = {b: r["tvd_num"] / (2 * r["n_corpus"] * r["n_ref"])
           for b, r in hist.items()}
    assert tvd[0] > tvd[1]          # dilution pulled the mix back
    mid_ppm = int((tvd[0] + tvd[1]) / 2 * 1_000_000)
    fired = {r["batch_id"] for r in
             drift_alert(spark, mon, mid_ppm).collect()}
    assert fired == {0}
    assert {r["batch_id"] for r in
            drift_alert(spark, mon, 0).collect()} == {0, 1}
    assert drift_alert(spark, mon, 1_000_000).count() == 0
    with pytest.raises(ValueError, match="threshold_ppm"):
        drift_alert(spark, mon, -1)


def test_vocab_top_streamed_equals_batch_and_survives_replay(spark, tmp_path):
    """Heavy hitters from the counts store == a from-scratch batch
    count (exact, tie-broken), unchanged by a batch replay, and
    correctly folded after compaction."""
    from pandas_db_spark.streaming.monitor import (append_drift_batch,
                                                   compact_drift_counts,
                                                   vocab_top_streamed)

    docs = [(i, f"common tok{i % 3} rare{i}") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    mon = str(tmp_path / "mon")
    append_drift_batch(df.where("doc_id < 10"), 0, mon, reference_df=df)
    append_drift_batch(df.where("doc_id >= 10 AND doc_id < 20"), 1, mon)
    append_drift_batch(df.where("doc_id >= 20"), 2, mon)

    def batch_top(frame, k):
        from pandas_db_spark.operators.stats import term_counts
        import pyspark.sql.functions as F
        return [(r["term"], r["c"]) for r in
                term_counts(frame, "text")
                .orderBy(F.col("c").desc(), "term").limit(k).collect()]

    got = [(r["term"], r["cf"]) for r in
           vocab_top_streamed(spark, mon, k=5).collect()]
    assert got == batch_top(df, 5)
    assert got[0] == ("common", 30)

    # replay of batch 1 is a no-op for the served answer
    append_drift_batch(df.where("doc_id >= 10 AND doc_id < 20"), 1, mon)
    assert [(r["term"], r["cf"]) for r in
            vocab_top_streamed(spark, mon, k=5).collect()] == got

    # compaction folds the store without changing the answer
    compact_drift_counts(spark, mon)
    assert [(r["term"], r["cf"]) for r in
            vocab_top_streamed(spark, mon, k=5).collect()] == got


# ---------------------------------------------------------------------
# bounded-memory streaming heavy hitters (r13, Misra-Gries summaries)
# ---------------------------------------------------------------------

def _hh_zipf_rows(n_docs: int, start: int = 0):
    """Deterministic skewed corpus: every doc repeats the heavy head
    (h0 x4, h1 x2, h2 x1) and adds three rare-tail tokens from a
    97-term ring — vocab ~100, far above the test capacities, so trims
    genuinely engage while the head stays unambiguous."""
    rows = []
    for i in range(start, start + n_docs):
        toks = (["h0"] * 4 + ["h1"] * 2 + ["h2"]
                + [f"r{(i * j + j) % 97}" for j in (1, 2, 3)])
        rows.append((i, " ".join(toks)))
    return rows


def test_mg_trim_bounds_and_noop(spark):
    from pandas_db_spark.streaming.monitor import mg_trim

    counts = spark.createDataFrame(
        [(f"t{i}", 10 + i) for i in range(8)], "term string, c long")
    same, delta = mg_trim(counts, capacity=8)
    assert delta == 0 and same.count() == 8
    trimmed, delta = mg_trim(counts, capacity=3)
    # 4th largest of 10..17 is 14 -> survivors 15,16,17 minus 14
    got = {r["term"]: r["c"] for r in trimmed.collect()}
    assert delta == 14
    assert got == {"t5": 1, "t6": 2, "t7": 3}
    import pytest as _pt
    with _pt.raises(ValueError, match="capacity"):
        mg_trim(counts, 0)


def test_heavy_hitters_guarantee_and_replay(spark, tmp_path):
    """Two folded batches: every estimate is a lower bound within the
    stored err_ub of the exact count; absent terms are bounded by err_ub;
    every true heavy hitter above err_ub is captured; err_ub respects the
    N/(capacity+1) Misra-Gries bound; store stays <= capacity rows; a
    replayed batch rewrites its partition byte-identically."""
    from pandas_db_spark.operators.stats import term_counts
    from pandas_db_spark.streaming.monitor import (
        append_heavy_hitters_batch, heavy_hitters_meta,
        heavy_hitters_topk)

    cap = 16
    store = str(tmp_path / "hh")
    b0 = spark.createDataFrame(_hh_zipf_rows(120, 0),
                               "doc_id long, text string")
    b1 = spark.createDataFrame(_hh_zipf_rows(120, 120),
                               "doc_id long, text string")
    append_heavy_hitters_batch(b0, 0, store, capacity=cap)
    append_heavy_hitters_batch(b1, 1, store, capacity=cap)

    summary = {r["term"]: r["c_low"]
               for r in heavy_hitters_topk(spark, store, k=cap).collect()}
    assert len(summary) <= cap
    meta = heavy_hitters_meta(spark, store).collect()
    assert [int(m["batch_id"]) for m in meta] == [0, 1]
    n_tokens = int(meta[-1]["n_tokens"])
    err_ub = int(meta[-1]["err_ub"])
    truth = {r["term"]: int(r["c"]) for r in term_counts(
        b0.unionByName(b1), "text").collect()}
    assert n_tokens == sum(truth.values())
    assert 0 < err_ub <= n_tokens // (cap + 1)
    for term, est in summary.items():
        assert est <= truth[term] <= est + err_ub, term
    for term, true_c in truth.items():
        if term not in summary:
            assert true_c <= err_ub, (term, true_c, err_ub)
        if true_c > err_ub:
            assert term in summary, (term, true_c, err_ub)

    # replay batch 1: summary and meta unchanged (idempotent rewrite)
    append_heavy_hitters_batch(b1, 1, store, capacity=cap)
    again = {r["term"]: r["c_low"]
             for r in heavy_hitters_topk(spark, store, k=cap).collect()}
    assert again == summary
    meta2 = heavy_hitters_meta(spark, store).collect()
    assert [tuple(m) for m in meta2] == [tuple(m) for m in meta]


def test_heavy_hitter_ingest_stream_matches_manual_fold(spark, tmp_path):
    """run_heavy_hitter_ingest (real availableNow foreachBatch drain)
    lands the same store state as manual per-batch folds."""
    from pandas_db_spark.streaming.monitor import (
        append_heavy_hitters_batch, heavy_hitters_meta,
        heavy_hitters_topk, run_heavy_hitter_ingest)

    cap = 12
    src = tmp_path / "hh_in"
    rows0, rows1 = _hh_zipf_rows(60, 0), _hh_zipf_rows(60, 60)
    for bi, chunk in enumerate([rows0, rows1]):
        (spark.createDataFrame(chunk, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
    streamed = str(tmp_path / "hh_stream")
    ck = str(tmp_path / "ck")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_heavy_hitter_ingest(stream, streamed, checkpoint_dir=ck,
                            capacity=cap)

    manual = str(tmp_path / "hh_manual")
    for bi, chunk in enumerate([rows0, rows1]):
        append_heavy_hitters_batch(
            spark.createDataFrame(chunk, "doc_id long, text string"),
            bi, manual, capacity=cap)

    got = [(r["term"], r["c_low"]) for r in
           heavy_hitters_topk(spark, streamed, k=cap).collect()]
    want = [(r["term"], r["c_low"]) for r in
            heavy_hitters_topk(spark, manual, k=cap).collect()]
    assert got == want and len(got) > 0
    gm = heavy_hitters_meta(spark, streamed).collect()[-1]
    wm = heavy_hitters_meta(spark, manual).collect()[-1]
    assert (gm["n_tokens"], gm["err_ub"]) == (wm["n_tokens"],
                                              wm["err_ub"])


def test_distinct_sketch_store_estimates_and_replays(spark, tmp_path):
    """HLL sketch store: one KB-sized row per batch; the union estimate
    tracks the exact cumulative distinct count within the lg_k=12 error
    band (~1.6% RSE; asserted at 5%); replay is idempotent; the stream
    drain equals manual folds; lg_k validated."""
    from pandas_db_spark.streaming.monitor import (
        append_distinct_sketch_batch, distinct_estimate,
        run_distinct_sketch_ingest)
    from pyspark.sql import functions as F

    rows0 = [(i, f"w{i % 700} w{(i * 3) % 700}") for i in range(400)]
    rows1 = [(i, f"w{(i + 350) % 700} w{i % 50}") for i in range(400, 800)]
    b0 = spark.createDataFrame(rows0, "doc_id long, text string")
    b1 = spark.createDataFrame(rows1, "doc_id long, text string")
    store = str(tmp_path / "sk")
    append_distinct_sketch_batch(b0, 0, store)
    append_distinct_sketch_batch(b1, 1, store)
    est = distinct_estimate(spark, store).collect()[0]
    exact = (b0.unionByName(b1)
             .select(F.explode(F.split(F.trim("text"), r"\s+"))
                     .alias("t"))
             .agg(F.countDistinct("t")).collect()[0][0])
    assert est["n_batches"] == 2
    assert est["n_tokens"] == 1600
    assert abs(est["estimate"] - exact) <= max(2, int(0.05 * exact))
    # replay batch 1: estimate unchanged, still one row per batch
    append_distinct_sketch_batch(b1, 1, store)
    again = distinct_estimate(spark, store).collect()[0]
    assert tuple(again) == tuple(est)

    # stream drain equals the manual fold
    src = tmp_path / "sk_in"
    for bi, rows in enumerate([rows0, rows1]):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
    streamed = str(tmp_path / "sk_stream")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_distinct_sketch_ingest(stream, streamed,
                               checkpoint_dir=str(tmp_path / "ck"))
    s_est = distinct_estimate(spark, streamed).collect()[0]
    assert (s_est["n_batches"], s_est["n_tokens"],
            s_est["estimate"]) == (est["n_batches"], est["n_tokens"],
                                   est["estimate"])

    import pytest as _pt
    with _pt.raises(ValueError, match="lg_k"):
        append_distinct_sketch_batch(b0, 0, store, lg_k=2)


def test_histogram_store_brackets_exact_quantiles(spark, tmp_path):
    """Histogram quantile monitor: the served bracket contains the exact
    quantile for every q; under/overflow land in visible sentinel bins;
    replay is idempotent; geometry is enforced; the stream drain equals
    manual folds."""
    from pandas_db_spark.streaming.monitor import (
        append_histogram_batch, histogram_quantile_bounds,
        run_histogram_ingest)
    from pyspark.sql import functions as F

    rows = [(i, ((i * 37) % 1000) / 10.0 - 5.0) for i in range(2000)]
    rows += [(9001, None), (9002, 130.0), (9003, -10.0)]  # null/over/under
    df = spark.createDataFrame(rows, "event_id long, value double")
    store = str(tmp_path / "hist")
    for bi in range(2):
        append_histogram_batch(df.where(F.col("event_id") % 2 == bi),
                               bi, store, "value", lo=0.0, hi=100.0,
                               n_bins=50)
    qs = [0.25, 0.5, 0.9, 0.99, 1.0]
    served = {r["q_ppm"]: r for r in
              histogram_quantile_bounds(spark, store, qs).collect()}
    vals = sorted(v for _, v in rows if v is not None)
    n = len(vals)
    assert all(r["n"] == n for r in served.values())
    for q in qs:
        r = served[int(q * 1_000_000)]
        exact = vals[max(0, -(-int(q * 1_000_000) * n // 1_000_000) - 1)]
        if r["bin"] == -1:
            assert exact < 0.0
        elif r["bin"] == 50:
            assert exact >= 100.0
        else:
            assert r["bin_lo"] <= exact < r["bin_hi"], (q, exact, r)
            assert r["bin_hi"] - r["bin_lo"] == 2.0  # one bin width
    # q=1.0 must land in the overflow bin (max value 130)
    assert served[1_000_000]["bin"] == 50 \
        and served[1_000_000]["bin_hi"] is None
    # replay batch 1: identical serve
    append_histogram_batch(df.where(F.col("event_id") % 2 == 1), 1,
                           store, "value", lo=0.0, hi=100.0, n_bins=50)
    again = {r["q_ppm"]: tuple(r) for r in
             histogram_quantile_bounds(spark, store, qs).collect()}
    assert again == {k: tuple(v) for k, v in served.items()}
    # geometry is the store's schema
    import pytest as _pt
    with _pt.raises(ValueError, match="geometry mismatch"):
        append_histogram_batch(df, 2, store, "value", lo=0.0, hi=200.0,
                               n_bins=50)
    with _pt.raises(ValueError, match="n_bins"):
        append_histogram_batch(df, 0, str(tmp_path / "h2"), "value",
                               0.0, 1.0, n_bins=0)
    with _pt.raises(ValueError, match="qs"):
        histogram_quantile_bounds(spark, store, [0.0])

    # stream drain equals the manual fold
    src = tmp_path / "hist_in"
    for bi in range(2):
        (df.where(F.col("event_id") % 2 == bi).coalesce(1)
         .write.parquet(f"{src}/b{bi}"))
    streamed = str(tmp_path / "hist_stream")
    stream = (spark.readStream.schema("event_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_histogram_ingest(stream, streamed,
                         checkpoint_dir=str(tmp_path / "ck"),
                         value_col="value", lo=0.0, hi=100.0, n_bins=50)
    s = {r["q_ppm"]: tuple(r) for r in
         histogram_quantile_bounds(spark, streamed, qs).collect()}
    assert s == {k: tuple(v) for k, v in served.items()}


def test_heavy_hitter_prune_and_sketch_compaction(spark, tmp_path):
    """Store lifecycle: pruning old HH partitions leaves serving AND
    replay-of-latest untouched; sketch compaction folds fragmentation
    row-identically (estimate unchanged) and a resumed batch composes."""
    from pandas_db_spark.streaming.monitor import (
        append_distinct_sketch_batch, append_heavy_hitters_batch,
        compact_sketch_store, distinct_estimate, heavy_hitters_meta,
        heavy_hitters_topk, prune_heavy_hitter_store)

    cap = 12
    store = str(tmp_path / "hh")
    batches = [spark.createDataFrame(_hh_zipf_rows(60, 60 * i),
                                     "doc_id long, text string")
               for i in range(3)]
    for bi, b in enumerate(batches):
        append_heavy_hitters_batch(b, bi, store, capacity=cap)
    before = [tuple(r) for r in
              heavy_hitters_topk(spark, store, k=cap).collect()]
    rep = prune_heavy_hitter_store(spark, store, keep_last=2)
    assert rep == {"deleted": 2, "kept": 2}  # batch 0 gone, both dirs
    after = [tuple(r) for r in
             heavy_hitters_topk(spark, store, k=cap).collect()]
    assert after == before
    metas = heavy_hitters_meta(spark, store).collect()
    assert [int(m["batch_id"]) for m in metas] == [1, 2]
    # replay of the LATEST batch still folds batch 1's kept state
    append_heavy_hitters_batch(batches[2], 2, store, capacity=cap)
    assert [tuple(r) for r in
            heavy_hitters_topk(spark, store, k=cap).collect()] == before
    import pytest as _pt
    with _pt.raises(ValueError, match="keep_last"):
        prune_heavy_hitter_store(spark, store, keep_last=1)

    sk = str(tmp_path / "sk")
    rows = [(i, f"w{i % 300} w{(i * 7) % 300}") for i in range(300)]
    for bi in range(3):
        append_distinct_sketch_batch(
            spark.createDataFrame(rows[bi * 100:(bi + 1) * 100],
                                  "doc_id long, text string"), bi, sk)
    est0 = tuple(distinct_estimate(spark, sk).collect()[0])
    rep = compact_sketch_store(spark, sk)
    assert rep["sketches"]["files_after"] <= rep["sketches"]["files_before"]
    assert tuple(distinct_estimate(spark, sk).collect()[0]) == est0
    # a swap interrupted between its renames: a resumed batch must not
    # start a new store beside the parked copy, and the next compaction
    # rolls the parked copy back
    import os
    os.rename(sk + "/sketches", sk + "/sketches.__stage_old")
    with _pt.raises(RuntimeError, match="recover_staged"):
        append_distinct_sketch_batch(
            spark.createDataFrame([(999, "brandnew tokens here")],
                                  "doc_id long, text string"), 3, sk)
    compact_sketch_store(spark, sk)
    assert tuple(distinct_estimate(spark, sk).collect()[0]) == est0
    # a resumed batch lands beside the folded partition and composes
    append_distinct_sketch_batch(
        spark.createDataFrame([(999, "brandnew tokens here")],
                              "doc_id long, text string"), 3, sk)
    est1 = distinct_estimate(spark, sk).collect()[0]
    assert est1["n_tokens"] == est0[1] + 3
    assert est1["estimate"] >= est0[2] + 2  # 3 new distinct-ish tokens


# ---------------------------------------------------------------------------
# Domain-free mergeable quantile summary store (r14, VERDICT r13 Next #5)


def test_quantile_summary_guarantee_and_lifecycle(spark, tmp_path):
    """The rank-stratified summary's one-sided guarantee holds exactly
    (count(<= served) >= rank, count(< served) <= rank-1+err_ub) for
    every served quantile; per-batch partitions respect the <= k row
    bound; restratify preserves total weight and the declared new
    ledger; compaction is serve-identical and refuses an uncommitted
    checkpoint; a summary partition lost out of band raises instead of
    silently skewing the quantiles."""
    import shutil

    from pandas_db_spark.streaming.monitor import (
        append_quantile_summary_batch, compact_quantile_store,
        quantile_estimates, restratify_summary)

    vals0 = [float(i) for i in range(500)]
    vals1 = [250.0 + 0.5 * i for i in range(500, 1400)]
    store = str(tmp_path / "qs")
    append_quantile_summary_batch(
        spark.createDataFrame([(v,) for v in vals0], "x double"),
        0, store, "x", k=24)
    append_quantile_summary_batch(
        spark.createDataFrame([(v,) for v in vals1], "x double"),
        1, store, "x", k=24)

    # per-batch row bound: <= k rows in each summary partition
    per = {int(r["batch_id"]): int(r["n"]) for r in
           spark.read.parquet(store + "/qsummary")
           .groupBy("batch_id").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    assert all(n <= 24 for n in per.values()) and len(per) == 2

    allv = sorted(vals0 + vals1)
    n_total = len(allv)
    qs = [0.01, 0.25, 0.5, 0.9, 0.99, 1.0]
    served = quantile_estimates(spark, store, qs).collect()
    assert [r["q_ppm"] for r in served] == [
        10000, 250000, 500000, 900000, 990000, 1000000]
    for r in served:
        assert int(r["n"]) == n_total
        tgt = -(-r["q_ppm"] * n_total // 1_000_000)
        le = sum(1 for x in allv if x <= r["value"])
        lt = sum(1 for x in allv if x < r["value"])
        assert le >= tgt, (r, tgt, le)
        assert lt <= tgt - 1 + int(r["err_ub"]), (r, tgt, lt)

    with pytest.raises(ValueError, match="qs"):
        quantile_estimates(spark, store, [0.0])
    with pytest.raises(ValueError, match="k must"):
        append_quantile_summary_batch(
            spark.createDataFrame([(1.0,)], "x double"), 9, store, "x",
            k=0)

    # restratify: total weight preserved, <= k rows, declared ledger,
    # and the collapsed summary still satisfies its own (wider) bound
    rows, meta = restratify_summary(spark, store, k=10)
    got = rows.collect()
    assert len(got) == meta["n_rows"] <= 10
    assert sum(int(r["w"]) for r in got) == meta["n_values"] == n_total
    kept = sorted((float(r["v"]), int(r["w"])) for r in got)
    cum = 0
    for v, w in kept:
        cum += w
        true = sum(1 for x in allv if x <= v)
        assert cum <= true <= cum + meta["err_ub"]

    # quiesce refusal + serve-identical compaction
    fake = tmp_path / "fake_ck_q"
    (fake / "offsets").mkdir(parents=True)
    (fake / "commits").mkdir()
    (fake / "offsets" / "0").write_text("{}")
    (fake / "offsets" / "1").write_text("{}")
    (fake / "commits" / "0").write_text("{}")
    with pytest.raises(ValueError, match="not quiesced"):
        compact_quantile_store(spark, store, checkpoint_dir=str(fake))
    pre = [tuple(r) for r in quantile_estimates(spark, store, qs).collect()]
    rep = compact_quantile_store(spark, store)
    assert rep["qsummary"]["files_after"] == 1
    assert rep["qmeta"]["files_after"] == 1
    post = [tuple(r) for r in quantile_estimates(spark, store, qs).collect()]
    assert post == pre

    # integrity: losing the (now folded) summary partition raises
    shutil.rmtree(store + "/qsummary/batch_id=-1")
    with pytest.raises(IOError, match="inconsistent"):
        quantile_estimates(spark, store, [0.5])


def test_quantile_summary_stream_matches_manual_fold(spark, tmp_path):
    """run_quantile_summary_ingest (real availableNow foreachBatch
    drain) produces the identical store a manual per-batch fold does —
    the summary is a deterministic function of each batch's value
    multiset, so the two stores serve identical rows."""
    from pandas_db_spark.streaming.monitor import (
        append_quantile_summary_batch, quantile_estimates,
        run_quantile_summary_ingest)

    rows0 = [(i, float((i * 37) % 101)) for i in range(200)]
    rows1 = [(i, 50.0 + float((i * 13) % 67)) for i in range(200, 420)]
    src = tmp_path / "qs_in"
    for bi, chunk in enumerate([rows0, rows1]):
        (spark.createDataFrame(chunk, "event_id long, value double")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
    streamed = str(tmp_path / "qs_stream")
    stream = (spark.readStream.schema("event_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_quantile_summary_ingest(stream, streamed,
                                checkpoint_dir=str(tmp_path / "qs_ck"),
                                value_col="value", k=16)
    manual = str(tmp_path / "qs_manual")
    for bi, chunk in enumerate([rows0, rows1]):
        append_quantile_summary_batch(
            spark.createDataFrame(chunk, "event_id long, value double"),
            bi, manual, "value", k=16)
    qs = [0.1, 0.5, 0.95]
    got = [tuple(r) for r in
           quantile_estimates(spark, streamed, qs).collect()]
    want = [tuple(r) for r in
            quantile_estimates(spark, manual, qs).collect()]
    assert got == want


def test_histogram_store_compaction_quiesce_and_resume(spark, tmp_path):
    """compact_histogram_store (r14, VERDICT r13 Next #7): per-batch
    hist/ fragmentation folds row-identically into batch_id=-1, serving
    is unchanged, an uncommitted checkpoint is refused, and a resumed
    batch lands beside the folded partition and composes."""
    from pandas_db_spark.streaming.monitor import (
        append_histogram_batch, compact_histogram_store,
        histogram_quantile_bounds)

    batches = [
        spark.createDataFrame(
            [(float((i * 7) % 100),) for i in range(100 * b, 100 * b + 100)],
            "value double")
        for b in range(3)]
    store = str(tmp_path / "hist_c")
    for bi, b in enumerate(batches):
        append_histogram_batch(b, bi, store, "value",
                               lo=0.0, hi=100.0, n_bins=20)
    qs = [0.5, 0.9]
    pre = [tuple(r) for r in
           histogram_quantile_bounds(spark, store, qs).collect()]

    fake = tmp_path / "fake_ck_h"
    (fake / "offsets").mkdir(parents=True)
    (fake / "commits").mkdir()
    (fake / "offsets" / "0").write_text("{}")
    with pytest.raises(ValueError, match="not quiesced"):
        compact_histogram_store(spark, store, checkpoint_dir=str(fake))

    rep = compact_histogram_store(spark, store)
    assert rep["hist"]["files_after"] == 1
    assert [tuple(r) for r in
            histogram_quantile_bounds(spark, store, qs).collect()] == pre
    # resume: a new batch beside batch_id=-1 composes (geometry enforced)
    append_histogram_batch(
        spark.createDataFrame([(99.9,), (0.1,)], "value double"),
        3, store, "value", lo=0.0, hi=100.0, n_bins=20)
    post = histogram_quantile_bounds(spark, store, qs).collect()
    assert all(int(r["n"]) == 302 for r in post)


def test_hh_store_integrity_receipts(spark, tmp_path):
    """r14 hardening: a summary partition lost out of band raises on
    the next append (hhmeta's n_rows receipt), and pruning a
    half-written store (one of summary/hhmeta deleted) raises instead
    of reporting the store empty."""
    import shutil

    from pandas_db_spark.streaming.monitor import (
        append_heavy_hitters_batch, prune_heavy_hitter_store)

    store = str(tmp_path / "hh_integrity")
    b0 = spark.createDataFrame(_hh_zipf_rows(80, 0),
                               "doc_id long, text string")
    b1 = spark.createDataFrame(_hh_zipf_rows(80, 80),
                               "doc_id long, text string")
    append_heavy_hitters_batch(b0, 0, store, capacity=12)
    shutil.rmtree(store + "/summary/batch_id=0")
    with pytest.raises(IOError, match="inconsistent"):
        append_heavy_hitters_batch(b1, 1, store, capacity=12)

    store2 = str(tmp_path / "hh_half")
    append_heavy_hitters_batch(b0, 0, store2, capacity=12)
    shutil.rmtree(store2 + "/hhmeta")
    with pytest.raises(IOError, match="half-written"):
        prune_heavy_hitter_store(spark, store2)


def test_non_graph_operator_writes_reliable_checkpoint(spark, tmp_path):
    """VERDICT r13 Next #3: operators outside the iterative graph
    family that truncate lineage (here multimodal.phash_pairs) also
    route through plans.checkpoint.truncate_lineage, so with a
    checkpoint dir set they write reliable checkpoint files and return
    identical results."""
    from pathlib import Path

    from pandas_db_spark.operators.multimodal import phash_pairs

    media = spark.createDataFrame(
        [(i, bytes((i * 31 + j * 7) % 127 for j in range(64)))
         for i in range(12)] + [(100, bytes(range(64))),
                                (101, bytes(range(64)))],
        "doc_id long, payload binary")
    local = sorted(tuple(r) for r in
                   phash_pairs(media, max_hamming=2).collect())
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = tmp_path / "mm_ck"
    sc.setCheckpointDir(str(ckdir))
    try:
        rel = sorted(tuple(r) for r in
                     phash_pairs(media, max_hamming=2).collect())
        assert rel == local
        ck_files = [p for p in Path(str(ckdir)).rglob("*") if p.is_file()]
        assert ck_files, "no reliable checkpoint files were written"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


# ---------------------------------------------------------------------------
# Grouped quantile summary store (r14) — the keyed sibling


def test_grouped_quantile_summary_guarantee_and_integrity(spark, tmp_path):
    """Per-key one-sided guarantee: for every key (including the NULL
    group and a small exact-stride key) and every served quantile,
    count(<= served) >= ceil(q*n_key) and count(< served) <=
    ceil(q*n_key) - 1 + err_ub_key; per-(key, batch) rows respect <= k;
    ledger mismatch after out-of-band loss raises; compaction is
    serve-identical."""
    import shutil

    from pandas_db_spark.streaming.monitor import (
        append_grouped_quantile_batch, compact_grouped_quantile_store,
        grouped_quantile_estimates)

    rows = ([("a", float(i)) for i in range(7)]           # exact stride 1
            + [("b", float((i * 37) % 211)) for i in range(300)]
            + [(None, 100.0 + i) for i in range(40)])
    df = spark.createDataFrame(rows, "k string, x double")
    store = str(tmp_path / "gqs")
    append_grouped_quantile_batch(df, 0, store, "k", "x", k=16)
    # second batch shifts b's distribution and adds to the null group
    rows2 = ([("b", 150.0 + 0.25 * i) for i in range(200)]
             + [(None, 90.0 + i) for i in range(25)])
    append_grouped_quantile_batch(
        spark.createDataFrame(rows2, "k string, x double"), 1, store,
        "k", "x", k=16)

    per = (spark.read.parquet(store + "/gqsummary")
           .groupBy("batch_id", "key").count().collect())
    assert all(r["count"] <= 16 for r in per)

    truth = {}
    for k, v in rows + rows2:
        truth.setdefault(k, []).append(v)
    qs = [0.1, 0.5, 0.99]
    served = grouped_quantile_estimates(spark, store, qs).collect()
    seen_keys = {r["key"] for r in served}
    assert seen_keys == {"a", "b", None}
    for r in served:
        vals = sorted(truth[r["key"]])
        assert int(r["n"]) == len(vals)
        tgt = -(-r["q_ppm"] * len(vals) // 1_000_000)
        le = sum(1 for x in vals if x <= r["value"])
        lt = sum(1 for x in vals if x < r["value"])
        assert le >= tgt, (r, tgt, le)
        assert lt <= tgt - 1 + int(r["err_ub"]), (r, tgt, lt)
    # the exact-stride key serves EXACT quantiles (err_ub 0)
    for r in served:
        if r["key"] == "a":
            assert int(r["err_ub"]) == 0
            vals = sorted(truth["a"])
            tgt = -(-r["q_ppm"] * len(vals) // 1_000_000)
            assert r["value"] == vals[tgt - 1]

    with pytest.raises(ValueError, match="qs"):
        grouped_quantile_estimates(spark, store, [1.5])
    pre = [tuple(r) for r in
           grouped_quantile_estimates(spark, store, qs).collect()]
    rep = compact_grouped_quantile_store(spark, store)
    assert rep["gqsummary"]["files_after"] == 1
    assert [tuple(r) for r in
            grouped_quantile_estimates(spark, store, qs).collect()] == pre

    shutil.rmtree(store + "/gqsummary/batch_id=-1")
    with pytest.raises(IOError, match="inconsistent"):
        grouped_quantile_estimates(spark, store, [0.5])


def test_grouped_quantile_stream_matches_manual_and_key_types(spark, tmp_path):
    """run_grouped_quantile_ingest equals the manual fold, and a
    non-string key column canonicalizes to string in the store."""
    from pandas_db_spark.streaming.monitor import (
        append_grouped_quantile_batch, grouped_quantile_estimates,
        run_grouped_quantile_ingest)

    rows0 = [(i % 3, float((i * 7) % 50)) for i in range(120)]
    rows1 = [(i % 3, 25.0 + float(i % 31)) for i in range(120, 300)]
    src = tmp_path / "gq_in"
    for bi, chunk in enumerate([rows0, rows1]):
        (spark.createDataFrame(chunk, "route long, ms double")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
    streamed = str(tmp_path / "gq_stream")
    stream = (spark.readStream.schema("route long, ms double")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_grouped_quantile_ingest(stream, streamed,
                                checkpoint_dir=str(tmp_path / "gq_ck"),
                                key_col="route", value_col="ms", k=8)
    manual = str(tmp_path / "gq_manual")
    for bi, chunk in enumerate([rows0, rows1]):
        append_grouped_quantile_batch(
            spark.createDataFrame(chunk, "route long, ms double"),
            bi, manual, "route", "ms", k=8)
    qs = [0.5, 0.95]
    got = [tuple(r) for r in
           grouped_quantile_estimates(spark, streamed, qs).collect()]
    want = [tuple(r) for r in
            grouped_quantile_estimates(spark, manual, qs).collect()]
    assert got == want
    assert {r[0] for r in got} == {"0", "1", "2"}  # long keys -> strings


# ---------------------------------------------------------------------------
# KMV distinct-sample store (r14)


def test_kmv_store_sample_estimate_and_lifecycle(spark, tmp_path):
    """The cumulative bottom-k equals the global bottom-k over all
    distinct items (the KMV merge property); the estimate is within
    3 RSE of the exact distinct count and EXACT when the population is
    under k; mixed-k stores and out-of-band partition loss raise;
    compaction is serve-identical."""
    import hashlib
    import shutil

    from pandas_db_spark.streaming.monitor import (
        append_kmv_batch, compact_kmv_store, kmv_estimate, kmv_sample)

    rows0 = [(i, f"w{(i * 7) % 400} w{(i * 11) % 400}")
             for i in range(300)]
    rows1 = [(i, f"w{(i * 13) % 400} x{i % 50}")
             for i in range(300, 600)]
    store = str(tmp_path / "kmv")
    for bi, chunk in enumerate([rows0, rows1]):
        append_kmv_batch(
            spark.createDataFrame(chunk, "doc_id long, text string"),
            bi, store, k=32)

    vocab = set()
    for _i, t in rows0 + rows1:
        vocab.update(t.split())
    want = sorted((hashlib.md5(w.encode()).hexdigest(), w)
                  for w in vocab)[:32]
    got = [(r["h"], r["item"]) for r in kmv_sample(spark, store).collect()]
    assert got == want

    est = kmv_estimate(spark, store).collect()[0]
    n_exact = len(vocab)
    rse = 1.0 / (32 - 2) ** 0.5
    assert abs(est["estimate"] - n_exact) <= 3 * rse * n_exact, (
        est["estimate"], n_exact)
    assert int(est["n_sample"]) == 32
    assert int(est["n_tokens"]) == 2 * 600

    # small population -> exact
    small = str(tmp_path / "kmv_small")
    append_kmv_batch(
        spark.createDataFrame([(1, "a b c a")], "doc_id long, text string"),
        0, small, k=32)
    e = kmv_estimate(spark, small).collect()[0]
    assert e["estimate"] == 3.0 and int(e["n_sample"]) == 3

    # mixed k raises; validation raises
    append_kmv_batch(
        spark.createDataFrame([(2, "zz")], "doc_id long, text string"),
        1, small, k=16)
    with pytest.raises(ValueError, match="mixes k"):
        kmv_sample(spark, small)
    with pytest.raises(ValueError, match="k must"):
        append_kmv_batch(
            spark.createDataFrame([(3, "q")], "doc_id long, text string"),
            2, small, k=1)

    # compaction serve-identical, then integrity on partition loss
    pre = [tuple(r) for r in kmv_sample(spark, store).collect()]
    rep = compact_kmv_store(spark, store)
    assert rep["kmv"]["files_after"] == 1
    assert [tuple(r) for r in kmv_sample(spark, store).collect()] == pre
    shutil.rmtree(store + "/kmv/batch_id=-1")
    with pytest.raises(IOError, match="inconsistent"):
        kmv_sample(spark, store)


def test_kmv_stream_matches_manual_fold(spark, tmp_path):
    """run_kmv_ingest equals the manual per-batch fold — the store is a
    deterministic function of each batch's distinct-item set."""
    from pandas_db_spark.streaming.monitor import (
        append_kmv_batch, kmv_estimate, run_kmv_ingest)

    rows0 = [(i, f"t{(i * 3) % 97}") for i in range(150)]
    rows1 = [(i, f"t{(i * 5) % 83} u{i % 29}") for i in range(150, 320)]
    src = tmp_path / "kmv_in"
    for bi, chunk in enumerate([rows0, rows1]):
        (spark.createDataFrame(chunk, "doc_id long, text string")
         .coalesce(1).write.parquet(f"{src}/b{bi}"))
    streamed = str(tmp_path / "kmv_stream")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
    run_kmv_ingest(stream, streamed,
                   checkpoint_dir=str(tmp_path / "kmv_ck"), k=24)
    manual = str(tmp_path / "kmv_manual")
    for bi, chunk in enumerate([rows0, rows1]):
        append_kmv_batch(
            spark.createDataFrame(chunk, "doc_id long, text string"),
            bi, manual, k=24)
    got = [tuple(r) for r in kmv_estimate(spark, streamed).collect()]
    want = [tuple(r) for r in kmv_estimate(spark, manual).collect()]
    assert got == want


def test_kmv_overlap_exact_and_estimated(spark, tmp_path):
    """Below k the overlap numbers are EXACT (samples are complete
    sets); above k the coordinated bottom-k Jaccard estimate is within
    3 binomial-ish RSE of the truth on planted overlapping vocabs."""
    from pandas_db_spark.streaming.monitor import (append_kmv_batch,
                                                   kmv_overlap)

    def build(store, words, k):
        append_kmv_batch(
            spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                                  "doc_id long, text string"),
            0, store, k=k)

    # small exact case: A = {a..f}, B = {d..i} -> |∩|=3, |∪|=9, J=1/3
    sa, sb = str(tmp_path / "a"), str(tmp_path / "b")
    build(sa, ["a b c d e f"], 64)
    build(sb, ["d e f g h i"], 64)
    row = kmv_overlap(spark, sa, sb).collect()[0]
    assert (int(row["n_union_sample"]), int(row["n_both"])) == (9, 3)
    assert row["jaccard"] == 3 / 9
    assert row["union_est"] == 9.0 and row["inter_est"] == 3.0

    # estimated case: 600-word vocabs overlapping in 300 -> J = 1/3
    wa = [f"w{i}" for i in range(600)]
    wb = [f"w{i}" for i in range(300, 900)]
    la, lb = str(tmp_path / "la"), str(tmp_path / "lb")
    build(la, [" ".join(wa)], 128)
    build(lb, [" ".join(wb)], 128)
    r = kmv_overlap(spark, la, lb).collect()[0]
    assert int(r["k"]) == 128 and int(r["n_union_sample"]) == 128
    true_j, true_u = 300 / 900, 900
    rse = 1.0 / (128 - 2) ** 0.5
    assert abs(r["jaccard"] - true_j) <= 3 * rse, r["jaccard"]
    assert abs(r["union_est"] - true_u) <= 3 * rse * true_u
    assert abs(r["inter_est"] - true_j * true_u) <= 5 * rse * true_u


def test_grouped_restratify_per_key_valve(spark, tmp_path):
    """restratify_grouped_summary: per-key weight totals preserved,
    <= k rows per key with a light key staying EXACT at stride 1, the
    collapsed summary satisfies its own widened per-key bound, and the
    NULL-key group survives."""
    from pandas_db_spark.streaming.monitor import (
        append_grouped_quantile_batch, restratify_grouped_summary)

    rows0 = ([("hot", float((i * 17) % 500)) for i in range(400)]
             + [("cold", float(i)) for i in range(5)]
             + [(None, 50.0 + i) for i in range(30)])
    rows1 = [("hot", 200.0 + 0.5 * i) for i in range(300)]
    store = str(tmp_path / "gqr")
    for bi, chunk in enumerate([rows0, rows1]):
        append_grouped_quantile_batch(
            spark.createDataFrame(chunk, "k string, x double"),
            bi, store, "k", "x", k=16)

    rows, meta = restratify_grouped_summary(spark, store, k=8)
    got = {}
    for r in rows.collect():
        got.setdefault(r["key"], []).append((float(r["v"]), int(r["w"])))
    m = {r["key"]: r.asDict() for r in meta.collect()}
    truth = {}
    for k_, v in rows0 + rows1:
        truth.setdefault(k_, []).append(v)

    assert set(got) == set(m) == {"hot", "cold", None}
    for key, vals in truth.items():
        vals = sorted(vals)
        assert m[key]["n_values"] == len(vals)
        assert sum(w for _v, w in got[key]) == len(vals)
        assert len(got[key]) == m[key]["n_rows"] <= 8
        cum = 0
        for v, w in sorted(got[key]):
            cum += w
            true = sum(1 for x in vals if x <= v)
            assert cum <= true <= cum + m[key]["err_ub"], (key, v)
    # the 5-value key stays exact: stride 1, per-key err from the fold
    assert m["cold"]["stride"] == 1 and m["cold"]["err_ub"] == 0
    assert [v for v, _w in sorted(got["cold"])] == sorted(truth["cold"])
    # the hot key genuinely collapsed
    assert m["hot"]["stride"] > 1 and len(got["hot"]) <= 8
