"""Streaming ingest near-dedup: the self-maintaining band index.

The greedy outcome depends on arrival order, so the pins are the two
ORDER-FREE invariants that characterize greedy dedup regardless of how
the source batches: (1) final survivors are mutually non-duplicate
under the signature estimate, (2) every dropped doc matches at least
one final survivor.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.operators.dedup import _shingled_sigs
from confidential_storm_spark.sources.tables import load_table
from confidential_storm_spark.streaming.ingest_dedup import (
    neardup_ingest_stream,
    process_ingest_batch,
    signature_estimate,
)

THRESH = 0.5


def _estimate_pairs(spark, docs, ids_a, ids_b):
    """(a, b) pairs with signature-estimate >= THRESH, a in ids_a,
    b in ids_b, a != b — the batch cross-check oracle."""
    sigs = _shingled_sigs(docs, "text", "doc_id", 16, 3, 42).localCheckpoint(
        eager=False
    )
    a = sigs.filter(F.col("_id").isin(ids_a)).select(
        F.col("_id").alias("a"), F.col("_sig").alias("sig_a")
    )
    b = sigs.filter(F.col("_id").isin(ids_b)).select(
        F.col("_id").alias("b"), F.col("_sig").alias("sig_b")
    )
    return {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .filter(
            (F.col("a") != F.col("b"))
            & (signature_estimate(F.col("sig_a"), F.col("sig_b")) >= THRESH)
        )
        .collect()
    }


def test_ingest_dedup_invariants(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    # four arrival files -> four-ish micro-batches with maxFilesPerTrigger=1
    docs.withColumn("_g", F.col("doc_id") % 4).repartition(4, "_g").drop(
        "_g"
    ).write.parquet(src)

    index = str(tmp_path / "index")
    out = str(tmp_path / "survivors")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    neardup_ingest_stream(stream, index, out, str(tmp_path / "ckpt"))

    survivors = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    all_ids = {
        r["_id"]
        for r in _shingled_sigs(docs, "text", "doc_id", 16, 3, 42)
        .select("_id")
        .collect()
    }
    dropped = all_ids - survivors
    assert survivors and dropped, "fixture should contain near-dups"
    assert survivors | dropped == all_ids

    # (1) survivors mutually non-dup — restricted to band-colliding
    # pairs (the operator only ever compares band collisions; two docs
    # can estimate high without sharing a band, which LSH by design
    # never examines)
    idx_bands = spark.read.parquet(f"{index}/bands")
    coll = (
        idx_bands.alias("l")
        .join(
            idx_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
        .collect()
    )
    colliding = {(r["a"], r["b"]) for r in coll}
    dup_est = _estimate_pairs(spark, docs, list(survivors), list(survivors))
    assert not (colliding & dup_est), "two surviving docs are near-dups"

    # (2) every dropped doc matches some final survivor
    matched = {a for a, b in _estimate_pairs(spark, docs, list(dropped), list(survivors))}
    assert dropped <= matched

    # index is self-consistent: exactly the survivors, bands + sigs
    assert {r["doc_id"] for r in idx_bands.select("doc_id").distinct().collect()} == survivors
    sigs = spark.read.parquet(f"{index}/sigs")
    assert {r["doc_id"] for r in sigs.collect()} == survivors


def test_ingest_batch_replay_matches_stream(spark, sf_dir, tmp_path):
    """process_ingest_batch applied sequentially to the same splits
    reproduces the streaming outcome exactly (foreachBatch is just
    this function)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = str(tmp_path / "idx2")
    out = str(tmp_path / "out2")
    for g in range(3):
        process_ingest_batch(docs.filter(F.col("doc_id") % 3 == g), index, out)
    survivors = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # first batch is index-free: its own internal near-dups still drop
    assert survivors
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{index}/sigs").select("doc_id").collect()
    }
    assert idx_ids == survivors


def test_curated_ingest_gates_quality_then_dedups(spark, tmp_path):
    from confidential_storm_spark.operators.quality_model import (
        hashed_tf_features,
        linear_probe_train,
        quality_score_expr,
        rule_labels,
    )
    from confidential_storm_spark.streaming.ingest_dedup import curated_ingest_stream

    prose = (
        "the cat is in the hat and the dog is of the house and it is a fine "
        "day to sit in the sun and read a book of tales and the wind is soft "
        "and the rain is far away and it is good to rest in the shade"
    )
    junk = "zxqv kjhg wqpo 4829 zzzz qqqq glorp blarg snix blix vonk"
    rows = (
        [(i, prose + f" variant{i}") for i in range(6)]          # near-dups of each other
        + [(50 + i, junk + f" junk{i}") for i in range(4)]        # quality rejects
        + [(100, "a wholly different prose line where the cat and the dog sit "
                 "in the sun and it is a good day to read of tales and the "
                 "wind is in the trees and all is soft and fine and calm")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # train on the same mix (prose label-1, junk label-0)
    w = linear_probe_train(hashed_tf_features(docs, dim=64), rule_labels(docs), dim=64)
    scores = {
        r.doc_id: r.s for r in docs.select("doc_id", quality_score_expr(w).alias("s")).collect()
    }
    thr = (max(scores[i] for i in range(50, 54)) + min(scores[0], scores[100])) / 2

    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    curated_ingest_stream(
        stream,
        w,
        str(tmp_path / "index"),
        str(tmp_path / "survivors"),
        str(tmp_path / "ckpt"),
        rejects_path=str(tmp_path / "rejects"),
        min_score=thr,
    )

    surv = {r.doc_id for r in spark.read.parquet(str(tmp_path / "survivors")).collect()}
    rej = {
        r.doc_id: r.quality_score
        for r in spark.read.parquet(str(tmp_path / "rejects")).collect()
    }
    # every junk doc rejected WITH its score recorded
    assert set(range(50, 54)) <= set(rej)
    assert all(rej[i] < thr for i in rej)
    # no junk survived; the distinct prose doc survived
    assert not (set(range(50, 54)) & surv) and 100 in surv
    # the 6 near-dup prose variants collapsed (>=1 but < 6 survive)
    n_prose = len(surv & set(range(6)))
    assert 1 <= n_prose < 6
    # quality gate ran BEFORE dedup: rejects never reached the index
    idx_ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "index/sigs")).collect()}
    assert not (idx_ids & set(range(50, 54)))
    assert idx_ids == surv


def test_internal_pair_cap_guard(spark, tmp_path):
    """A batch whose internal near-dup pair list exceeds
    max_internal_pairs raises (driver-memory guard) instead of
    silently collecting; a generous cap processes the same batch."""
    import pytest

    rows = [(i, "identical duplicated text body repeated for every row here") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="max_internal_pairs"):
        process_ingest_batch(
            docs, str(tmp_path / "idx_cap"), str(tmp_path / "out_cap"),
            max_internal_pairs=2,
        )
    process_ingest_batch(
        docs, str(tmp_path / "idx_ok"), str(tmp_path / "out_ok"),
        max_internal_pairs=1_000,
    )
    surv = spark.read.parquet(str(tmp_path / "out_ok"))
    assert surv.count() == 1  # all six collapse to the lowest id
