"""SparkSession factory with scale-appropriate defaults.

Local mode mirrors the driver environment (local[$SPARK_GRAFT_CPUS]);
on a real cluster the same configs apply, only master changes.  The
defaults are chosen for the 100 TB design point:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (every pandas-UDF boundary is Arrow-batched)
- 32 shuffle partitions (``$SPARK_GRAFT_SHUFFLE_PARTITIONS``) for
  batch queries, which AQE coalesces at runtime; a cluster deployment
  should size them to ~128 MB of shuffle data per partition.
  Streaming stages get no AQE, so ``streaming._drain.run_available_now``
  starts each new checkpoint with at most one shuffle partition per
  task slot instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "confidential-storm-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE: adaptive.coalescePartitions.initialPartitionNum=128 was
        # A/B-measured: ~20% faster on the sf1 quadratic pair join but
        # ~10% slower across the 63-query sf0.1 registry (task-launch
        # overhead on small shuffles dominates).  At real cluster scale
        # raise it (or shuffle.partitions) with executor count; left
        # unset here where small queries dominate the mix.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # some driver data generations store events.ts as
        # TIMESTAMP(NANOS), which Spark 4 rejects unless read as long
        # nanos; sources.tables.ts_to_micros normalizes either way
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # raw (un-checksummed) local FileContext for file:// I/O: the
        # default LocalFs is a ChecksumFs that shadows every
        # create/rename with a .crc file, and the streaming checkpoint
        # machinery (state-store deltas + offset/commit logs,
        # re-written EVERY micro-batch through CheckpointFileManager's
        # FileContext path) pays it twice per file.  Results unchanged
        # (client-side CRC is corruption detection only; the certified
        # relations are value-hashed against DuckDB anyway).  The
        # FileSystem-API twin (fs.file.impl=RawLocalFileSystem) is NOT
        # set: FileSystem.getLocal() hard-casts to LocalFileSystem and
        # RocksDBFileManager's copyFromLocalFile dies on the cast —
        # checksums on that path are disabled per-instance below
        # instead.  A cluster deployment checkpoints to HDFS/S3 where
        # this key is inert — it only rebinds the file:// scheme.
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Disable client-side CRC on the FileSystem-API side of file://
    # (the FileContext side is rebound to RawLocalFs above).  Hadoop
    # caches ONE LocalFileSystem instance per scheme, so flipping the
    # flags on the cached instance covers every later FileSystem.get /
    # getLocal caller — parquet scans and writes, streaming file-source
    # listing, RocksDB file uploads — while keeping the class a
    # LocalFileSystem (FileSystem.getLocal casts to it).  Same replay
    # A/B as the FileContext rebinding: -13% on the heavy stream
    # replays from skipping the .crc shadow writes alone.
    try:
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
        )
        fs.setWriteChecksum(False)
        fs.setVerifyChecksum(False)
    except Exception:  # non-JVM sessions (e.g. connect) just keep CRC
        pass
    return spark
