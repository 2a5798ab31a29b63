"""Streaming ingest near-dedup: every micro-batch probes the standing
minhash band index, drops near-duplicates of everything already
ingested, and appends its survivors' bands + signatures back to the
index — the index maintains ITSELF as the stream runs.

This is the streaming face of
``operators.dedup.incremental_minhash_against_index``.  Two deliberate
departures from the batch operator, both forced by the streaming
setting and both the standard production choice:

- **Signature-estimate verification** (matching minhash positions / K)
  instead of exact shingle Jaccard: the index stays self-contained
  (K longs per doc in ``{index}/sigs``) so verification never fetches
  historical TEXT — at 100 TB the corpus text lives in cold storage
  and a per-batch join against it would dominate the trigger.  The
  estimator is unbiased with sd sqrt(J(1-J)/K) (~0.09 at K=32, J=0.5);
  the band-collision prefilter already biases candidates toward high J.
- **Greedy survivor semantics**: a doc survives iff it matches nothing
  ALREADY ACCEPTED (index survivors + lower-id same-batch survivors).
  Survivors are permanent, so the outcome satisfies two order-free
  invariants the tests pin: (1) no two final survivors estimate >=
  threshold against each other, and (2) every dropped doc estimates >=
  threshold against at least one final survivor.

Scale: per batch the work is sign-the-batch (linear), probe the banded
relation (bounded by write-capped bucket sizes), and one broadcast of
the batch's candidate ids against the sigs sidecar.  Nothing ever
re-reads corpus text; index growth is (bands + 1) rows per survivor.

foreachBatch delivery is at-least-once: a replayed epoch re-appends
its survivors' rows.  Band/sig duplicates are harmless to correctness
(the probe is a semi-style match; duplicate index rows produce the
same drop decisions) — production would MERGE on doc_id for tidiness;
the parquet append keeps the container-testable path honest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ._drain import run_available_now

__all__ = [
    "neardup_ingest_stream",
    "signature_estimate",
    "process_ingest_batch",
    "process_curated_batch",
    "curated_ingest_stream",
]


def signature_estimate(sig_a, sig_b) -> F.Column:
    """Estimated Jaccard: fraction of agreeing minhash positions.
    Pure zip_with/filter/size — JVM-side, codegen-fused."""
    agree = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda b: b
        )
    )
    return agree.cast("double") / F.greatest(F.size(sig_a), F.lit(1))


def _matched_ids(
    probe_bands: DataFrame,
    probe_sigs: DataFrame,
    index_bands: DataFrame,
    index_sigs: DataFrame,
    threshold: float,
) -> DataFrame:
    """Batch doc ids whose signature-estimate vs ANY index doc reaches
    the threshold.  Bands prefilter candidates; the sig join runs on
    the (tiny) candidate set only."""
    cand = (
        probe_bands.join(index_bands, ["band", "band_hash"])
        .select(F.col("_id").alias("new_id"), F.col("doc_id").alias("old_id"))
        .distinct()
    )
    return (
        cand.join(probe_sigs.select(F.col("_id").alias("new_id"), F.col("_sig").alias("sig_a")), "new_id")
        .join(index_sigs.select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_b")), "old_id")
        .filter(signature_estimate(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select("new_id")
        .distinct()
    )


def process_ingest_batch(
    batch: DataFrame,
    index_path: str,
    survivors_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_internal_pairs: int = 1_000_000,
) -> None:
    """One micro-batch of the ingest-dedup pipeline (the foreachBatch
    body, callable directly for batch replays/tests): drop batch docs
    matching the index, then batch-internal near-dups (lower id
    survives), append survivors to ``survivors_path`` and their
    bands/sigs to the index.

    ``max_internal_pairs`` caps the driver-side collect of the
    batch-internal near-dup pair list (the greedy survivor resolve is
    sequential by id, so it genuinely needs the full list): a batch
    whose pair count exceeds the cap raises with instructions to
    shrink the trigger (maxFilesPerTrigger / maxOffsetsPerTrigger)
    rather than silently exhausting driver memory."""
    from ..operators.dedup import _band_tuples, _shingled_sigs

    spark = batch.sparkSession
    sigs = _shingled_sigs(batch, text_col, id_col, num_hashes, shingle_n, seed)
    probe = _band_tuples(sigs, bands, num_hashes // bands)

    have_index = os.path.exists(f"{index_path}/bands/_SUCCESS") or os.path.isdir(
        f"{index_path}/bands"
    )
    if have_index:
        index_bands = spark.read.parquet(f"{index_path}/bands").select(
            "doc_id", "band", "band_hash"
        )
        index_sigs = spark.read.parquet(f"{index_path}/sigs")
        vs_index = _matched_ids(probe, sigs, index_bands, index_sigs, threshold)
        keep = sigs.join(
            vs_index.withColumnRenamed("new_id", "_id"), "_id", "left_anti"
        ).localCheckpoint(eager=False)
    else:
        keep = sigs.localCheckpoint(eager=False)

    # batch-internal greedy pass: an id is dropped iff it matches a
    # SMALLER KEPT id (so a doc whose only match was itself dropped
    # stays — matching a dropped doc is not a reason to drop).  That
    # rule is sequential by id, so it runs as a driver-side loop over
    # the batch's own near-dup pair list — bounded by the micro-batch,
    # never the corpus.
    keep_bands = _band_tuples(keep, bands, num_hashes // bands)
    pairs = (
        keep_bands.alias("l")
        .join(
            keep_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
        .join(keep.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a")), "id_a")
        .join(keep.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b")), "id_b")
        .filter(signature_estimate(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select("id_a", "id_b")
    )
    # bounded by the micro-batch's own pair count, with an explicit
    # guard: limit(cap+1) detects overflow without collecting more
    edge_rows = pairs.limit(max_internal_pairs + 1).collect()
    if len(edge_rows) > max_internal_pairs:
        raise ValueError(
            f"batch-internal near-dup pair list exceeds max_internal_pairs="
            f"{max_internal_pairs}; shrink the micro-batch trigger "
            "(maxFilesPerTrigger / maxOffsetsPerTrigger) or raise the cap"
        )
    dropped: set = set()
    # ascending id_b: every id_a < id_b is already decided when b is
    for r in sorted(edge_rows, key=lambda r: (r["id_b"], r["id_a"])):
        if r["id_b"] in dropped:
            continue
        if r["id_a"] not in dropped:
            dropped.add(r["id_b"])
    if dropped:
        drop_df = spark.createDataFrame(
            [(i,) for i in sorted(dropped)], f"_id {keep.schema['_id'].dataType.simpleString()}"
        )
        keep = keep.join(F.broadcast(drop_df), "_id", "left_anti")

    survivors = keep.select(F.col("_id").alias(id_col))
    (
        batch.join(survivors, id_col, "left_semi")
        .write.mode("append")
        .parquet(survivors_path)
    )
    keep_out = keep.localCheckpoint(eager=False)
    _band_tuples(keep_out, bands, num_hashes // bands).select(
        F.col("_id").alias("doc_id"), "band", "band_hash"
    ).write.mode("append").partitionBy("band").parquet(f"{index_path}/bands")
    keep_out.select(F.col("_id").alias("doc_id"), F.col("_sig").alias("sig")).write.mode(
        "append"
    ).parquet(f"{index_path}/sigs")


def neardup_ingest_stream(
    docs: DataFrame,
    index_path: str,
    survivors_path: str,
    checkpoint_dir: str,
    **dials,
) -> StreamingQuery:
    """Wire :func:`process_ingest_batch` onto a streaming document
    source.  Drains all available input and returns the terminated
    StreamingQuery."""

    def _process(batch: DataFrame, epoch_id: int) -> None:
        process_ingest_batch(batch, index_path, survivors_path, **dials)

    return run_available_now(docs.writeStream.foreachBatch(_process), checkpoint_dir)


def process_curated_batch(
    batch: DataFrame,
    weights: list[float],
    index_path: str,
    survivors_path: str,
    rejects_path: str | None = None,
    min_score: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    **dials,
) -> None:
    """One micro-batch of the FULL curation pipeline: trained-model
    quality gate, then near-dedup against the self-maintaining index.

    The quality gate is the stateless scoring expression of the
    trained linear probe (train in batch, score every stream —
    ``operators.quality_model.quality_score_expr``): a pure per-row
    predicate, codegen-fused with the batch scan, zero state.  Docs
    under ``min_score`` are (optionally) appended to ``rejects_path``
    WITH their scores — the audit trail a curation pipeline keeps so
    threshold changes can be replayed without re-scoring.

    Only quality survivors reach the (more expensive) signing + index
    probe, so the model gate also acts as the cost filter — the
    production ordering (cheap predicate first, index probe second).
    """
    from ..operators.dedup import _spread
    from ..operators.quality_model import quality_score_expr

    # the scoring expression is a higher-order-function tree
    # (transform/array_sort/aggregate), which Spark evaluates
    # INTERPRETED (CodegenFallback) — expensive per row.  Two defenses,
    # both measured at sf10 (62.5k-doc batches, jstack showed one core
    # in ArraySort.eval for minutes): spread the batch across cores
    # BEFORE scoring (a micro-batch often arrives as one file split),
    # and checkpoint the scored frame so the rejects write and the
    # survivors filter reuse ONE evaluation instead of re-deriving _q.
    scored = (
        _spread(batch, id_col)
        .withColumn("_q", quality_score_expr(weights, text_col))
        .localCheckpoint(eager=False)
    )
    if rejects_path is not None:
        (
            scored.filter((F.col("_q") < min_score) | F.col("_q").isNull())
            .select(id_col, F.col("_q").alias("quality_score"))
            .write.mode("append")
            .parquet(rejects_path)
        )
    passed = scored.filter(F.col("_q") >= min_score).drop("_q")
    process_ingest_batch(
        passed, index_path, survivors_path, text_col=text_col, id_col=id_col, **dials
    )


def curated_ingest_stream(
    docs: DataFrame,
    weights: list[float],
    index_path: str,
    survivors_path: str,
    checkpoint_dir: str,
    rejects_path: str | None = None,
    min_score: float = 0.0,
    **dials,
) -> StreamingQuery:
    """Quality-gate + near-dedup curation as one streaming pipeline.
    Drains all available input and returns the terminated
    StreamingQuery."""

    def _process(batch: DataFrame, epoch_id: int) -> None:
        process_curated_batch(
            batch,
            weights,
            index_path,
            survivors_path,
            rejects_path=rejects_path,
            min_score=min_score,
            **dials,
        )

    return run_available_now(docs.writeStream.foreachBatch(_process), checkpoint_dir)
