"""SparkSession factory tuned for this engine.

The reference engine's runtime knobs are a page size in bytes and a
buffer count (``/root/reference/src/QueryMain.java:26-41``); Spark's
equivalents are shuffle partitioning, AQE, and memory management —
configured once here and then left to Catalyst/Tungsten.

Design-for-scale notes (local[N] is the test harness, not the target):

- AQE is on: runtime partition coalescing + skew-join splitting mean
  the same plan survives a 100x scale-up without hand-retuning
  ``spark.sql.shuffle.partitions``.
- CBO join reordering is on, working from the plans' size estimates
  (nothing here runs ``ANALYZE TABLE``, so no column statistics feed
  it) — the Spark analog of the reference's ``.stat``-file cost model
  (``src/qp/optimizer/PlanCost.java``).
- Arrow is on: every pandas_udf/applyInPandas extension operator
  transfers columnar batches, not pickled rows.
- Session timezone is pinned to UTC so timestamp semantics are stable
  across engines (and match the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kaj_query_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the local harness; on a real cluster, pass ``None`` via
    spark-submit and let the cluster manager decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the driver fixtures store TIMESTAMP(NANOS), which Spark rejects
        # by default; read as long and let the catalog convert (catalog.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixtures may also arrive as timestamp[us] NTZ-annotated; the
        # classic TIMESTAMP type (wall-clock-identical under the UTC
        # session) keeps unix_micros()/watermarks analyzable (catalog.py
        # re-asserts this per read for driver-supplied sessions)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # runtime bloom-filter pushdown: when a selective build side of
        # a shuffle join can't be broadcast, inject its key bloom filter
        # into the probe-side SCAN — at 100 TB this skips whole row
        # groups of the fact table that a BHJ threshold can't touch
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session's autoBroadcastJoinThreshold in bytes, 0 when
    broadcast is disabled — read parsed from the session's SQLConf,
    the value the planner itself consults, so every size string Spark
    accepts (``1t``, ``2tb``, ``10MB``) means what it means there."""
    conf = spark._jsparkSession.sessionState().conf()
    return max(0, conf.autoBroadcastJoinThreshold())
