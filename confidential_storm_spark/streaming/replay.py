"""Deterministic availableNow replay — the bridge that brings the
STREAMING operators into the driver's batch value-hash gate.

The driver's correctness oracle is batch-only (DuckDB over the static
parquet tables), so the stateful streaming operators were previously
verified only by differential pytest against their batch twins.  This
module replays a FIXED epoch partition of a batch table through a real
Structured Streaming query — file source, ``maxFilesPerTrigger=1``,
``availableNow`` — so one epoch == one micro-batch in a deterministic
order, and collects the stream's output into a plain DataFrame the
gate can hash against a DuckDB twin that re-derives the same epoch
sequence in SQL.

Determinism contract: epoch files are written with strictly increasing
modification times (the file source orders by mtime), and every
replayed operator is written so its output depends only on the epoch
PARTITION of the input, never on row order or Arrow chunking within a
batch (Misra-Gries merges once per batch; HLL registers are max-merged;
dedup emits set-valued results).

This is a certification harness: the input is materialized driver-side
(pyarrow) because the certified tables are small by construction.  The
operators under replay are the production path — at scale they read
Kafka/file streams directly and never pass through this module.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ._drain import read_handoff, run_available_now

__all__ = ["write_epoch_source", "replay_available_now"]


def write_epoch_source(
    df: DataFrame, epoch_col: str, out_dir: str
) -> tuple[StructType, int]:
    """Materialize ``df`` as one parquet FILE per distinct value of
    ``epoch_col`` (ascending), named ``epoch=NNNN.parquet`` with
    strictly increasing mtimes, so ``_drain.read_handoff`` over
    ``out_dir`` (one file per trigger) replays the epochs in order.
    Returns the schema for ``readStream.schema`` and the total row
    count (the replay sizes its state partitioning from it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = df.toPandas()
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - 86400  # yesterday: never in the future
    epochs = sorted(pdf[epoch_col].unique())
    for i, e in enumerate(epochs):
        part = pdf[pdf[epoch_col] == e]
        path = os.path.join(out_dir, f"epoch={i:04d}.parquet")
        # Spark reads TIMESTAMP_MICROS; pandas datetime64[ns] would
        # otherwise land as nanos and fail the stream's schema check
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            path,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(path, (base + 10 * i, base + 10 * i))
    return df.schema, len(pdf)


def replay_available_now(
    spark: SparkSession,
    input_df: DataFrame,
    epoch_col: str,
    transform,
    output_mode: str = "append",
    output_schema: StructType | str | None = None,
    latest_per: list[str] | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run ``transform(stream_df)`` over a deterministic epoch replay
    of ``input_df`` and return the collected output as a batch
    DataFrame.

    ``latest_per`` (update-mode operators): keep only the rows of the
    LAST micro-batch in which each distinct value of those key columns
    emitted — i.e. the operator's final state per key — instead of the
    concatenation of every batch's emission.

    ``shuffle_partitions``: every stateful operator pays a per-batch
    state-store setup/commit on EACH shuffle partition, so a replay at
    the session's batch-sized setting (32+) spends most of its wall on
    empty state stores (measured: the quantiles replay drops 38 s ->
    8 s going 32 -> 8 at sf0.01; the hll replay a further 6.2 -> 4.0 s
    going 8 -> 4 at sf0.1, and with the round-12 raw-FS checkpoint I/O
    another -14% going 4 -> 2).  ``None`` (the default) derives the
    count from the replay input's size — ``clamp(rows /
    50_000, 2, session setting)`` — so small certification corpora pay
    few state stores while a large replay grows with its input instead
    of a constant tuned for either.  The pinned value is restored
    afterwards.  ``run_available_now`` caps it at the task slots
    (``sparkContext.defaultParallelism``) when the query starts, so a
    large replay, or an explicit value above the slots, runs at the
    slot count.  Results are partition-count-invariant (that is exactly
    what the replayed operators' determinism contract says), only the
    overhead changes.

    Work-dir placement: the replay's epoch source, checkpoint (offset/
    commit logs) and state-store deltas are all small, short-lived
    files re-written EVERY micro-batch, so they go on a RAM-backed
    tmpfs when one exists (``$SPARK_GRAFT_STREAM_TMP`` overrides; a
    production stream checkpoints to durable storage — this dir only
    ever holds the certification replay's scratch, which is deleted on
    return, so durability buys nothing here and the per-batch
    create/rename/fsync round-trips dominate replay wall time on
    disk).
    """
    tmp_base = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if tmp_base is None and os.access("/dev/shm", os.W_OK):
        # tmpfs is RAM: only use it when it has comfortable headroom
        # (certification replays write MBs; a replay whose state could
        # approach the tmpfs size MUST override via
        # $SPARK_GRAFT_STREAM_TMP to durable/disk storage — at 100 TB
        # scale this harness is not the production path anyway, see
        # module docstring).  4 GiB floor: far above any certification
        # replay, far below a host where /dev/shm exhaustion
        # (ENOSPC mid-stream) is a realistic risk.
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 4 << 30:
                tmp_base = "/dev/shm"
        except OSError:
            pass
    work = tempfile.mkdtemp(prefix="css_replay_", dir=tmp_base)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    _NODATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(_NODATA_KEY, "true")
    try:
        src = os.path.join(work, "src")
        schema, n_rows = write_epoch_source(input_df, epoch_col, src)
        if shuffle_partitions is None:
            # 50k rows per state partition: each partition pays a
            # state-store load+commit per micro-batch, and the matched
            # A/B at sf0.1 (4 -> 2 partitions on the five heaviest
            # replays) measured -14% wall with row-identical output —
            # the replayed operators are partition-count invariant by
            # contract.
            shuffle_partitions = max(2, min(int(prev_parts), n_rows // 50_000))
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # the trailing no-data micro-batch is a provable no-op for
        # every replayed operator: watermark-closed windows flush in
        # the SECOND sentinel's data batch (that is what the paired
        # far-future sentinels are for — both sit in one never-closing
        # window), update-mode operators never emit on empty input,
        # and stream-stream inner joins emit on arrival.  Skipping it
        # removes one full batch of planning + state commits per
        # replay; all 15 replay hashes verified identical at sf0.1.
        spark.conf.set(_NODATA_KEY, "false")
        out = transform(read_handoff(spark, src, schema))
        if output_schema is None:
            output_schema = out.schema
        batches: list[tuple[int, pd.DataFrame]] = []

        def sink(bdf: DataFrame, bid: int) -> None:
            batches.append((bid, bdf.toPandas()))

        run_available_now(
            out.writeStream.outputMode(output_mode).foreachBatch(sink),
            os.path.join(work, "ckpt", uuid.uuid4().hex),
        )

        frames = [p for _, p in sorted(batches, key=lambda t: t[0]) if len(p)]
        if not frames:
            return spark.createDataFrame([], output_schema)
        if latest_per is not None:
            # final state per key = that key's rows in the last batch
            # where it appeared.  Vectorized: one concat + a groupby
            # transform('max') over the batch id — the per-key dict
            # loop this replaces built one pandas frame PER KEY and
            # was the dominant cost of large-state replays (the gram
            # novelty replay folds ~1e5 keys).
            tagged = [
                p.assign(_bid=bid)
                for bid, p in sorted(batches, key=lambda t: t[0])
                if len(p)
            ]
            allb = pd.concat(tagged, ignore_index=True)
            last = allb.groupby(latest_per, sort=False)["_bid"].transform("max")
            result = allb[allb["_bid"] == last].drop(columns="_bid")
            return spark.createDataFrame(result, output_schema)
        result = pd.concat(frames, ignore_index=True)
        return spark.createDataFrame(result, output_schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(_NODATA_KEY, prev_nodata)
        shutil.rmtree(work, ignore_errors=True)
