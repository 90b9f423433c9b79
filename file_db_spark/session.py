"""SparkSession factory tuned for both local testing and cluster scale.

Design notes (100 TB stance):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join demotion/promotion replace hand-tuned
  partition counts when the data is 1000x bigger than the test SF.
  Persisted frames coalesce too, so no operator picks a width for
  small state.
- ``catalog._REQUIRED_CONFS`` (UTC, nanos parquet, excluded rules,
  cached-plan coalescing) is applied here and, by
  ``catalog.ensure_confs``, to a session built elsewhere.
- Arrow enabled for all pandas interchange (Pandas UDFs, toPandas).
- ``spark.sql.shuffle.partitions`` defaults to 32 locally; on a real
  cluster AQE coalesces from a deliberately high initial number, so we
  set the initial partition count high and let AQE shrink it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .catalog import _REQUIRED_CONFS

__all__ = ["get_spark", "stop_spark"]


def get_spark(
    app_name: str = "file_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Spark 4.1 writes + verifies a checksum sidecar for every
        # checkpoint file (state-store deltas included) through a
        # future pool the task must await; thread dumps during the s8
        # join stage show every task parked in
        # ChecksumCheckpointFileManager.awaitResult. The sidecars catch
        # a torn or rotted checkpoint file — nothing else does: Spark
        # renames its own checkpoint files, outside the store's fsynced
        # publish() — and cost ~2x per stateful batch, so they are off
        # as a speed trade; re-enable via SPARK_GRAFT_CKPT_CHECKSUM.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"),
        )
        # --- python interchange is always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # The default generated-class cache holds 100 entries; one store
        # MERGE/refresh pipeline alone compiles >100 distinct codegen
        # units, so consecutive waves thrash the cache and recompile
        # every unit each run (measured: g28/g30/g33 each lose 1-2 s/run
        # to Janino at any data scale — compile cost is per plan shape,
        # not per byte). 4096 entries keeps a long-lived session's
        # working set compiled at a fixed few-MB driver cost.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # broadcast dims aggressively; AQE converts sort-merge to broadcast
        # at runtime when a side turns out small post-filter.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet scan sizing: 128 MiB splits keep task count sane at 100 TB
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Materialized frames are released by their owners
        # (file_db_spark/frames.py), but shuffle files and broadcast
        # blocks of dead plans still free through ContextCleaner weak
        # references, which only enqueue on a JVM GC — and a driver
        # heap sized for headroom may not full-GC for hours (the
        # default periodic GC is 30min). A 5-minute forced GC bounds
        # that state in a long-lived session.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    # determinism / oracle parity / cached-plan coalescing: the same
    # confs catalog.ensure_confs applies to a session built elsewhere
    for k, v in {**_REQUIRED_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
