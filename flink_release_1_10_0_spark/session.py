"""SparkSession factory with scale-oriented defaults.

The reference engine's execution configuration surface
(``flink-table-api-java/.../config/ExecutionConfigOptions.java`` and
``OptimizerConfigOptions.java``) maps onto Spark SQL confs:

- ``table.optimizer.join.broadcast-threshold`` (1 MB default)
  -> ``spark.sql.autoBroadcastJoinThreshold``
- ``table.optimizer.join-reorder-enabled`` -> ``spark.sql.cbo.joinReorder.enabled``
- ``table.exec.shuffle-mode`` / blocking shuffle -> AQE handles it at runtime
- spill/sort tuning (``table.exec.sort.*``) -> Tungsten external sort (built-in)

AQE is on so skew joins / partition coalescing re-plan at runtime — the
100 TB story: partition counts below are LOCAL TEST defaults; on a real
cluster, AQE target sizes (64 MB advisory partitions) govern, not the
static number.

Two host-level costs sit around every bounded streaming run, whatever
its events.  Measured on 4 cores, Spark 4.1.2, CPython 3.11 and no native
Hadoop library (traced ``stream_bounded`` benchmark run, seed 1, mean per
query run):

- Checkpoint writes.  Spark's default checkpoint file manager goes through
  Hadoop's ``FileContext``, which without the native library resolves
  paths by spawning ``readlink`` subprocesses: 112 per stateful bounded
  run.  ``FileSystemBasedCheckpointFileManager`` writes the same files
  (temp file and ``.crc`` checksum, then rename) and spawns none; with it
  the state-store commit went from 0.58 to 0.06 s and the offset and
  commit-log writes from 0.13 to 0.03 s.  It is safe here because
  ``rename`` is atomic on the local filesystem (``rename(2)``) and on
  HDFS, and each bounded run owns a fresh checkpoint dir, so no two
  writers race on one path.  The 40 ``chmod`` spawns per run
  (local-filesystem permissions without native IO) remain.
- Python-worker task setup.  PySpark's worker calls
  ``importlib.invalidate_caches()`` at the start of every task, and on
  CPython < 3.12 each of the 16 zip importers over ``pyspark.zip``, the
  py4j zip and the spark-core jar then re-reads its whole archive: 0.27 s
  per task.  Workers therefore start from ``worker_daemon``, which
  re-reads an archive only when it changed (0.14 ms per task); Python
  worker run time went from 2.92 to 1.28 s.

A native Hadoop library (``readlink`` through JNI) removes the first cost
and CPython >= 3.12 (lazy ``zipimporter.invalidate_caches``) the second.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "flink_release_1_10_0_spark",
              cpus: int | None = None,
              overrides: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a session tuned for local testing, cluster-safe.

    Every conf here is also correct on a 1000-executor cluster except
    ``master``/``shuffle.partitions``, which a cluster deployment overrides
    via spark-submit; AQE coalescing makes the static shuffle-partition
    number mostly irrelevant at scale.  ``overrides`` replaces or adds
    confs (e.g. a profiler turns the UI on).
    """
    n = cpus or DEFAULT_CPUS
    confs = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE's coalesce floor defaults to 1 MB per partition.  Stages whose
        # shuffle input is small in BYTES but heavy in CPU-per-row (LSH
        # candidate verification: array_intersect per pair) get coalesced
        # onto 1-3 tasks and serialize a 32-core machine (measured: the
        # minhash head's verify stage ran as a 4.2s/3-task job; 64k floor →
        # 3.4s head total, 1.8x).  64k keeps small-byte stages parallel; at
        # cluster scale the max(total/parallelism, floor) term dominates the
        # floor, so this is inert at 100 TB (coalescing still targets
        # total/parallelism).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        # reference broadcast threshold is 1 MB; 32 MB is the right call on
        # a modern cluster (dimension tables of TPC-H at 100 TB SF are GBs,
        # but region/nation/part subsets stay broadcastable)
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "false",
        # rename-based checkpoint writes without FileContext's readlink
        # subprocess per path (see the module docstring)
        "spark.sql.streaming.checkpointFileManagerClass":
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        # workers fork from a daemon that stops the per-task re-read of
        # every zip archive on the path (see worker_daemon); the package's
        # parent goes on the workers' path so the daemon module imports
        # whatever the driver's working directory is
        "spark.python.daemon.module": "flink_release_1_10_0_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH":
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    }
    confs.update(overrides or {})
    builder = SparkSession.builder.master(f"local[{n}]").appName(app_name)
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
