"""SparkSession factory.

One place to pin every scale-relevant knob so tests, the driver harness and
``bench.py`` all run the same configuration.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast selection replace hand-tuned partition counts.
- Arrow on: every pandas-UDF exchange (the statistical operators) moves
  columnar batches, not pickled rows.
- UTC session timezone: matches the reference's utcnow() event time and the
  DuckDB oracle's naive-UTC timestamps.
- shuffle.partitions defaults to the CPUs this process may run on
  (``os.sched_getaffinity``, not the host's core count); on a real cluster
  this is overridden (or simply left to AQE's coalescing) via
  SPARK_GRAFT_CPUS.
- Driver heap defaults to half of MemTotal, capped at 16g; override with
  SPARK_DRIVER_MEMORY.
- Streaming checkpoints use Spark's FileSystem-API checkpoint manager.
  ``get_spark`` only builds ``local[N]`` sessions, whose checkpoints live on
  the driver's local filesystem. This pyspark ships no libhadoop, so Spark's
  default FileContext manager forks shell commands (``readlink``,
  ``chmod``) for every checkpoint file it writes: one atomic create+close
  measured 20 spawned processes and 82 ms, against 4 and 23 ms for the
  FileSystem manager (50 files, 4 vCPU). Both leave the same 172 checkpoint and sink
  metadata files after a ``stream_ingest`` replay (offset/commit logs,
  state deltas with Spark 4.1's checksum files, Hadoop ``.crc`` files),
  and both refuse a no-overwrite write to an existing log entry. On
  ``stream_ingest`` (3150-row micro-batches) the processes spawned per
  batch fell from ~320 to 83, ``streaming.state_commit_ms`` from 295 to
  17 and the op p50 from 586 to 383 ms (median of 10 seeds). Sessions an
  external driver builds (cluster, HDFS) keep Spark's default manager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of the host's RAM, at most 16g: the driver JVM shares the box
    with its Python workers (Arrow batches, pandas UDFs) and the OS."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(mem_kb // 2048, 16 * 1024)}m"


def get_spark(app_name: str = "stock_market_big_data_project_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Not larger than 16g: an oversized heap never GCs, so Spark's
        # ContextCleaner (GC-triggered) never reclaims finished
        # shuffles/broadcasts and every subsequent query in the session
        # degrades. 16g fits sf0.1 working sets many times over while
        # keeping the cleaner live.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        # parquet scans: vectorized reader + pushdown are on by default; pin
        # split size so sf0.1 single files still parallelize across cores.
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # Whole-stage-codegen class cache (static conf, default 100 entries):
        # an 89-query engine cycles several hundred codegen spans, so the
        # default evicts constantly and queries pay a fresh ~0.5-1.5 s janino
        # compile on every revisit (measured on correlation_matrix, SCALE.md
        # r3/r4). Size the cache to the query mix — same knob a long-lived
        # cluster session would pin.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # This builder only makes local[N] sessions, so checkpoints are on
        # the driver's local filesystem. There the FileSystem-API manager
        # writes the same files as the default FileContext one (checksums
        # and .crc files included) and, like it, refuses to overwrite an
        # existing log entry; FileContext only adds readlink/chmod forks
        # per file (no libhadoop in this pyspark). See the module
        # docstring for the measurements. A cluster/HDFS session an
        # external driver builds keeps Spark's default.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
