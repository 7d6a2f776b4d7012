"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same conf
block is what we would ship to a 1000-executor cluster — AQE owns runtime
shuffle sizing, skew-join splitting and coalescing, so the only knob that is
test-environment-specific is the shuffle-partition floor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that is safe to apply at runtime on an existing session.
_RUNTIME_CONF = {
    # Deterministic timestamp semantics (testdata is UTC; DuckDB oracle agrees).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every driver<->python boundary (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tiny_df(spark: SparkSession, rows: list, schema: str):
    """Driver-rows DataFrame as ONE partition.

    ``spark.createDataFrame(list)`` pickles the rows into
    ``defaultParallelism`` slices; every slice evaluates through its own
    Python-worker handshake, and a downstream ``coalesce(1)`` (the
    single-file store-sink contract) folds them into ONE task that pays
    the handshakes SEQUENTIALLY — ~4 s for 64 rows at 32 slices,
    measured r14.  Even without a coalesce, a driver-rows frame this
    small never needs 32 tasks: one slice = one handshake (~0.3 s), and
    the single partition already satisfies single-file sinks."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not build (e.g. the
    driver's).  Never raises: individual keys that a deployment forbids are
    skipped."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "pandas-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    On a real cluster, ``master`` comes from spark-submit and this is just
    ``getOrCreate()`` + runtime conf.  Locally it defaults to
    ``local[$SPARK_GRAFT_CPUS or 32]``.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return apply_runtime_conf(active)

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Reliable-checkpoint hygiene (ADVICE r13): when a checkpoint dir
        # is set, every iterative operator writes DataFrame.checkpoint
        # files per round (plans.checkpoint.truncate_lineage); without
        # this flag the ContextCleaner never deletes superseded
        # checkpoints, so a 64-round k-core leaves dozens of full-dataset
        # copies on HDFS/S3A for the application's lifetime.
        # Context-level conf — it must be on the builder (ContextCleaner
        # reads it at SparkContext construction); sessions we did not
        # build need it in their spark-submit conf, documented in
        # truncate_lineage.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
