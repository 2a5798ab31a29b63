"""Streaming embedding ingest into a standing IVF index.

The ANN counterpart of :mod:`streaming.ingest_dedup`: each micro-batch
of newly-embedded rows is appended to the standing IVF (or IVF-PQ)
index with :func:`operators.similarity.ivf_append` /
:func:`operators.pq.ivfpq_append` — nearest-centroid assignment only,
no re-cluster, per-batch cost ∝ the batch.  Queries against the index
(:func:`ivf_topk_indexed` / :func:`ivfpq_topk`) see every vector
ingested so far: the partitioned parquet table IS the serving index,
there is no separate "refresh" step.

At 100 TB this is the only maintenance model that works: the coarse
quantizer is trained once on a representative sample, and the
embedding feed (new documents arriving continuously) lands directly in
its partition.  Drift is a measurable quantity — re-train and rebuild
when the appended fraction dominates, exactly like re-clustering any
secondary index — and the full-probe path stays exact through any
amount of drift, so correctness never depends on the re-train cadence.

foreachBatch is at-least-once by itself; ``idempotent=True`` (the
default) adds the standard epoch-id ledger: each committed batch
records ``(query_id, epoch_id)`` in a tiny ``_epochs`` sidecar next to
the index, and a replayed epoch is skipped before any write.  The
ledger is keyed by the streaming QUERY id (stable across restarts from
the same checkpoint, fresh for a new checkpoint — read from the
checkpoint's metadata file), because bare epoch ids restart from 0
with every new checkpoint: keying on them alone would silently skip
new data.  The ledger read is one footer of a few-row parquet per
batch — nothing scans the index.  (The alternative — MERGE on id —
would anti-join every batch against the whole standing table.)

Exactness caveat (and why it is acceptable here): the vector append
and the ledger write are two non-atomic writes, so a crash BETWEEN
them re-appends that one epoch on replay — at-least-once on the crash
window, effectively-once otherwise.  Duplicate vectors never corrupt
serving (a duplicate id can only displace its own twin in a top-k);
the periodic compaction step the lifecycle already runs
(``sources.writers.compact_partitioned`` with
``dedup_cols=(id_col,)``) drops the duplicates, restoring exactly-once
state.  A write-ahead ledger would invert the failure into silent
data loss, which is strictly worse.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

__all__ = ["ann_ingest_stream"]


def _checkpoint_query_id(checkpoint_dir: str) -> str:
    """The streaming query id from the checkpoint's metadata file —
    stable across restarts from the same checkpoint (unlike runId),
    fresh when the checkpoint is new.  By the first foreachBatch call
    the metadata file always exists."""
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return str(json.load(f)["id"])


def _epoch_committed(spark, ledger_path: str, query_id: str, epoch_id: int) -> bool:
    try:
        rows = spark.read.parquet(ledger_path).filter(
            (F.col("query_id") == query_id) & (F.col("epoch_id") == int(epoch_id))
        )
        return rows.limit(1).count() > 0
    # only "ledger doesn't exist yet" may mean not-committed; any other
    # read failure must surface, not silently double-append
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" in str(ex) or "Path does not exist" in str(ex):
            return False
        raise


def ann_ingest_stream(
    embeddings: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    compressed: bool = False,
    idempotent: bool = True,
):
    """Append every micro-batch of ``embeddings`` (a streaming
    DataFrame) to the standing index at ``index_path`` (built
    beforehand with ``ivf_write_index`` / ``ivfpq_write_index``).
    ``compressed=True`` routes through :func:`pq.ivfpq_append` (codes
    from the existing codebooks); otherwise :func:`ivf_append`.
    ``idempotent=True`` skips epochs already recorded (keyed by this
    checkpoint's query id) in the ``{index_path}/_epochs`` ledger, so
    checkpoint-replayed batches don't double-append and a FRESH
    checkpoint's epochs never collide with a previous run's ids.
    Returns the started StreamingQuery."""
    from ..operators.pq import ivfpq_append
    from ..operators.similarity import ivf_append

    ledger = f"{index_path}/_epochs"
    qid_cache: list[str] = []

    def _process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if idempotent:
            if not qid_cache:
                qid_cache.append(_checkpoint_query_id(checkpoint_dir))
            qid = qid_cache[0]
            if _epoch_committed(spark, ledger, qid, epoch_id):
                return
        if compressed:
            ivfpq_append(batch, index_path, vec_col=vec_col, id_col=id_col)
        else:
            ivf_append(batch, index_path, vec_col=vec_col, id_col=id_col)
        if idempotent:
            spark.createDataFrame(
                [(qid, int(epoch_id))], "query_id string, epoch_id long"
            ).coalesce(1).write.mode("append").parquet(ledger)

    return (
        embeddings.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
