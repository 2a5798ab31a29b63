"""The one start path for streaming queries, and the start-and-wait
path for ``availableNow`` stages.

Every chained streaming pipeline here runs as a sequence of
``availableNow`` queries: a stage drains all input present at start,
then the next stage reads its handoff.  A stage that is still running
when the caller moves on leaves a half-written handoff behind, so the
wait's outcome is part of the contract: a finished stage returns, a
failed stage raises its failure, and a stage that outlives the wait is
stopped and raises ``TimeoutError``.  A query with any other trigger
(the rate-driven measurements in ``tools/rate_ramp.py``) starts
through :func:`start` alone and is stopped by its caller.

A query starts with ``spark.sql.shuffle.partitions`` capped at
``sparkContext.defaultParallelism`` (the task slots).  AQE is off in
streaming queries, so every shuffle partition is a task in every
micro-batch, and in the ``applyInPandasWithState`` stages here each
one is a Python worker task with its own state store.  Each such task
pays about 0.2 s of fixed Python set-up whether or not it holds rows,
so on a 4-core host the session's batch default of 32 ran eight waves
of mostly empty tasks per stateful stage per batch; at one wave the
per-key DP drain's median epoch fell from 8.9 s to 3.1 s (medians of
10 drains each on that host).  The session value is restored after
``start()``, so batch queries keep their setting (and AQE coalescing).
Spark records the count in the checkpoint's offset log and reuses it
on every restart, so the cap applies only to new checkpoints; an
existing checkpoint resumes with its own count.  A cluster with at
least as many slots as the session setting is unchanged.  The cap is
a set-and-restore of the session conf, so stages that share a session
are started from one thread.

Chained stages hand off through parquet with :func:`write_handoff`
(the upstream ``foreachBatch`` body) and :func:`read_handoff`.  Each
micro-batch lands as one file in ``<path>/<batch_id:010d>`` and the
reader takes one file per trigger, so upstream batch N is downstream
batch N.  A batch re-run after a crash (written, not committed) finds
its directory's ``_SUCCESS`` and writes nothing, so no epoch reaches
the next stage twice; an attempt that died before ``_SUCCESS`` is
overwritten.  The re-run still executes, into the ``noop`` sink,
because a stateful upstream must commit its state for every batch.
``repartition(1)`` makes the one file without running the upstream
stage in one task, as ``coalesce(1)`` would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def start(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Start ``writer`` checkpointed at ``checkpoint``; a new
    checkpoint gets at most one shuffle partition per task slot (see
    the module docstring).  Returns the running query."""
    spark = writer._df.sparkSession
    parts = spark.conf.get(_SHUFFLE_PARTITIONS)
    slots = spark.sparkContext.defaultParallelism
    spark.conf.set(_SHUFFLE_PARTITIONS, str(min(int(parts), slots)))
    try:
        return writer.option("checkpointLocation", checkpoint).start()
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, parts)


def run_available_now(
    writer: DataStreamWriter, checkpoint: str, timeout_s: float = 300
) -> StreamingQuery:
    """:func:`start` ``writer`` with ``trigger(availableNow=True)`` and
    wait until it has drained its input.  Returns the terminated query
    (its ``recentProgress`` stays readable); raises the query's
    failure, or stops it and raises ``TimeoutError`` once
    ``timeout_s`` seconds pass."""
    q = start(writer.trigger(availableNow=True), checkpoint)
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"availableNow query {q.id} did not finish within {timeout_s} s "
            f"(checkpoint {checkpoint})"
        )
    return q


def write_handoff(df: DataFrame, path: str, batch_id: int) -> None:
    """``foreachBatch`` body of a handoff: write micro-batch
    ``batch_id`` as one parquet file in ``path/<batch_id:010d>``, or,
    when that directory is already complete (a re-run batch), run the
    batch into the ``noop`` sink and write nothing."""
    out = f"{path}/{batch_id:010d}"
    spark = df.sparkSession
    done = spark._jvm.org.apache.hadoop.fs.Path(f"{out}/_SUCCESS")
    if done.getFileSystem(spark._jsc.hadoopConfiguration()).exists(done):
        df.write.format("noop").mode("overwrite").save()
    else:
        df.repartition(1).write.mode("overwrite").parquet(out)


def read_handoff(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """File-source stream over a handoff written by
    :func:`write_handoff`, one file (one upstream batch) per
    trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/*")
    )
