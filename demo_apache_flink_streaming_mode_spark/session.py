"""SparkSession factory and runtime-conf normalization.

The engine is designed for a large multi-executor cluster (AQE, explicit
shuffle partitioning, broadcast thresholds) but tests run on local[N].

Two launcher confs, set by ``get_spark`` and not runtime-settable, shape
the Python workers (``applyInPandasWithState`` state handlers,
``mapInPandas`` kernels, pandas UDFs):

- ``spark.python.daemon.module`` runs ``worker_daemon`` instead of the
  stock ``pyspark.daemon``. On CPython < 3.13 the stock worker re-reads
  every zip archive's directory on each task (about 0.1 s of CPU per
  task with ``pyspark.zip``); ``worker_daemon`` makes that re-read happen
  only when the archive changed, then runs the stock daemon.
- ``spark.executorEnv.PYTHONPATH`` puts this package's parent directory
  first on the workers' import path. Without it the daemon module cannot
  be imported when the process was started outside the repository with
  no ``PYTHONPATH``, and every Python worker would fail to start.

A session handed in by a caller (``ensure_runtime_confs``) keeps the
stock daemon: static confs cannot be set on a running session.

Streaming checkpoints commit through Spark's
``FileSystemBasedCheckpointFileManager``, a runtime conf in
``RUNTIME_CONFS``, so both kinds of session get it. The PySpark build
ships no ``libhadoop``, so Hadoop's local file system runs a shell
command for each permission set (``chmod``) and each link lookup
(``readlink``). Spark's default manager renames through ``FileContext``,
which looks up the links of both paths of a file and of its ``.crc``
sidecar before every rename: 16 ``readlink`` and 4 ``chmod`` processes
per state-store commit, 2,072 ``readlink`` and 716 ``chmod`` per pass of
the ``stream_replay`` benchmark, each a process start of a few
milliseconds. ``FileSystem.rename`` is one ``rename(2)`` on a local disk
and forks nothing; what is left is the ``chmod`` that the local file
system runs for every file it creates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Confs that are safe to set on an already-running session (runtime confs).
# ``nanosAsLong`` is for nanosecond inputs: the driver's testdata stores
# every timestamp as INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), but a
# TIMESTAMP(NANOS) column, which Spark's parquet reader otherwise rejects,
# surfaces with the flag as LongType(nanos), and sources.batch converts it
# to the declared TimestampType at ingest.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # read parquet ms-timestamps as TIMESTAMP (LTZ; UTC session) not NTZ, so
    # unix_millis/window/watermark apply uniformly
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # trust bucket-sorted table files' ordering (one file per bucket,
    # guaranteed by operators.scale.write_bucketed's repartition-first
    # write) so bucketed sort-merge joins skip the per-task Sort; off
    # by default upstream only because the one-file check costs
    # planning time on huge tables
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # streaming checkpoints (offset, commit and sink metadata logs,
    # state-store deltas) rename with FileSystem.rename, not FileContext,
    # which forks ``readlink`` processes (see the module docstring). On a
    # local disk the semantics match: a no-overwrite rename is an exists
    # check then rename under both managers, and an overwrite replaces
    # the target under both. Hadoop's .crc sidecars and Spark's checkpoint
    # checksums (ChecksumCheckpointFileManager wraps this manager) are
    # still written.
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


# The runtime conf ``ensure_runtime_confs`` reads back to tell whether the
# confs are still in force; a ``RESET`` or ``conf.unset`` on the session
# reverts it along with the others.
_SENTINEL = "spark.sql.legacy.parquet.nanosAsLong"


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not create (driver
    scenario). This runs on EVERY ``load_table`` call, so it reads one
    sentinel conf (one py4j round trip) and re-applies the whole set
    only when the sentinel is not at its value: on first use of a
    session, and again after anything reset the session's confs."""
    if spark.conf.get(_SENTINEL, None) == RUNTIME_CONFS[_SENTINEL]:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build; session default applies
    return spark


def get_spark(app_name: str = "demo_apache_flink_streaming_mode_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session sized for this host.

    On a real cluster the same confs apply, with shuffle partitions sized
    to ~2-3x total cores and AQE coalescing the rest at runtime.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long sessions re-codegen per AQE replan; keep JIT from running
        # out of code cache (falls back to interpreter = ~25x slower)
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
        # Python workers: see the module docstring
        .config("spark.python.daemon.module",
                "demo_apache_flink_streaming_mode_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH",
                os.pathsep.join(p for p in (_PACKAGE_PARENT,
                                            os.environ.get("PYTHONPATH")) if p))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
