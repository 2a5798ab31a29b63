"""Streaming embedding ingest into the standing IVF index."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from confidential_storm_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk_indexed,
    ivf_write_index,
)
from confidential_storm_spark.sources.tables import load_table
from confidential_storm_spark.streaming.ingest_ann import ann_ingest_stream


def test_ann_ingest_stream_appends_every_batch(spark, sf_dir, tmp_path):
    """Base index on 60% of embeddings; the other 40% arrives as a
    4-file stream.  After the stream drains, the standing index serves
    EXACT full-probe results over base+streamed together, and every
    streamed vector is present exactly once."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 > 1)
    feed = emb.filter(F.col("vec_id") % 5 <= 1)
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, n_clusters=8)

    src = str(tmp_path / "feed")
    feed.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    ann_ingest_stream(stream, path, str(tmp_path / "ckpt"))

    vec = spark.read.parquet(f"{path}/vectors")
    ids = [r["vec_id"] for r in vec.select("vec_id").collect()]
    assert sorted(ids) == sorted(r["vec_id"] for r in emb.select("vec_id").collect())

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    full = ivf_topk_indexed(spark, path, qv, k=10, n_probe=8)
    bf = brute_force_topk(emb, qv, k=10)
    assert [tuple(r) for r in full.collect()] == [tuple(r) for r in bf.collect()]


def test_ann_ingest_stream_compressed(spark, tmp_path):
    """compressed=True routes through ivfpq_append: streamed rows gain
    pq_code columns that bit-match a fresh encode with the standing
    codebooks."""
    from confidential_storm_spark.operators.pq import (
        ivfpq_write_index,
        pq_encode,
    )

    rng = np.random.default_rng(9)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(240)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.filter(F.col("vec_id") % 4 != 0)
    feed = df.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "ivfpq")
    _cent, books = ivfpq_write_index(base, path, 16, n_clusters=4, m=4, ks=8)

    src = str(tmp_path / "feed")
    feed.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    ann_ingest_stream(stream, path, str(tmp_path / "ckpt"), compressed=True)

    stored = {
        r["vec_id"]: list(r["pq_code"])
        for r in spark.read.parquet(f"{path}/vectors")
        .join(feed.select("vec_id"), "vec_id", "left_semi")
        .collect()
    }
    fresh = {r["vec_id"]: list(r["pq_code"]) for r in pq_encode(feed, books).collect()}
    assert stored == fresh and len(stored) == feed.count()


def test_ann_ingest_replay_is_idempotent(spark, tmp_path):
    """The (query_id, epoch_id) ledger makes a checkpoint-replayed
    batch a no-op: after a simulated crash (the last batch's commit
    marker deleted), restarting from the SAME checkpoint replays that
    batch (it runs again), and the ledger must skip the
    re-append.  A FRESH
    checkpoint over the same source is a NEW logical stream (new query
    id) and must re-ingest — bare epoch-id keying would silently skip
    its data (the round-8 advice bug)."""
    import os

    rng = np.random.default_rng(17)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.filter(F.col("vec_id") % 4 != 0)
    feed = df.filter(F.col("vec_id") % 4 == 0)
    src = str(tmp_path / "feed")
    feed.repartition(2).write.parquet(src)
    n_feed = feed.count()

    def run(path, ck):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ann_ingest_stream(stream, path, ck)

    def feed_rows(path):
        return (
            spark.read.parquet(f"{path}/vectors")
            .join(feed.select("vec_id"), "vec_id", "left_semi")
            .count()
        )

    path = str(tmp_path / "ivf")
    ck = str(tmp_path / "ck")
    ivf_write_index(base, path, n_clusters=4)
    run(path, ck)
    assert feed_rows(path) == n_feed
    # simulate a crash after the last batch's work but before its
    # checkpoint commit: clone the checkpoint (same metadata, same
    # query id) minus the last commit marker — restarting from it
    # replays that batch.  (A clone, not an in-place delete: Spark
    # detects external edits to a checkpoint it has already used in
    # this JVM and aborts with a concurrent-usage error.)
    import shutil

    ck_replay = f"{ck}_replay"
    shutil.copytree(ck, ck_replay)
    commits = sorted(
        f for f in os.listdir(f"{ck_replay}/commits") if not f.startswith(".")
    )
    os.remove(f"{ck_replay}/commits/{commits[-1]}")
    crc = f"{ck_replay}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):  # hadoop local-FS checksum sidecar
        os.remove(crc)
    run(path, ck_replay)
    # the last batch ran again (its commit is back) and the ledger
    # kept it out of the index
    assert os.path.exists(f"{ck_replay}/commits/{commits[-1]}")
    assert feed_rows(path) == n_feed

    # fresh checkpoint = new logical stream: MUST ingest (not skip)
    path = str(tmp_path / "ivf_fresh")
    ivf_write_index(base, path, n_clusters=4)
    run(path, str(tmp_path / "ck_a"))
    run(path, str(tmp_path / "ck_b"))  # new query id, same source
    assert feed_rows(path) == 2 * n_feed
