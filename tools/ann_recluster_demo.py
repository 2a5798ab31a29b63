"""Drift-triggered IVF re-clustering, measured end-to-end — closes the
standing-ANN lifecycle loop (build -> stream-append -> drift ->
REBUILD -> serve) with a recall-recovery measurement:

  build      IVF on the real embeddings table, baseline recorded,
             serving alias pointed at it
  ingest     drifted synthetic modes stream in via ann_ingest_stream
             (nearest-OLD-centroid assignment — the drift source)
  measure    drift_ratio + partial-probe recall@10 vs brute force,
             per n_probe, BEFORE any maintenance
  policy     maybe_recluster: threshold crossed -> rebuild into a
             versioned sibling, atomic alias switch; serving keeps
             answering from the old index until the pointer flips
  measure    the same recall suite AFTER, through the same alias

Writes ``benchmark/ann_recluster.csv``.

Usage: python tools/ann_recluster_demo.py [sf_dir] [workdir]
"""

from __future__ import annotations

import csv
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

N_MODES = 8
PER_MODE = 400
N_CLUSTERS = 16
K = 10


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_ann_recluster"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    import numpy as np
    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.ann_maintain import (
        drift_ratio,
        maybe_recluster,
        read_alias,
        record_build_stats,
        topk_via_alias,
        write_alias,
    )
    from confidential_storm_spark.operators.similarity import (
        brute_force_topk,
        ivf_write_index,
    )
    from confidential_storm_spark.session import get_spark
    from confidential_storm_spark.streaming.ingest_ann import ann_ingest_stream

    spark = get_spark()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_base = emb.count()
    dim = len(emb.first()["embedding"])
    path, alias = f"{work}/ivf", f"{work}/alias"
    rows: list[dict] = []

    def record(stage, wall, detail=""):
        rows.append(dict(stage=stage, wall_s=round(wall, 2), detail=detail))
        print(f"{stage:12s} {wall:7.1f}s  {detail}", flush=True)

    t0 = time.time()
    ivf_write_index(emb, path, n_clusters=N_CLUSTERS)
    record_build_stats(spark, path)
    write_alias(alias, path)
    record("build", time.time() - t0,
           f"n={n_base} k={N_CLUSTERS} drift={drift_ratio(spark, path):.3f}")

    # drifted feed: far-off modes the build-time quantizer never saw
    rng = np.random.default_rng(11)
    modes = rng.normal(size=(N_MODES, dim))
    modes = 6.0 * modes / np.linalg.norm(modes, axis=1, keepdims=True)
    drifted = np.concatenate(
        [m + 0.3 * rng.normal(size=(PER_MODE, dim)) for m in modes]
    )
    feed = spark.createDataFrame(
        [(100_000 + i, r.tolist()) for i, r in enumerate(drifted)],
        "vec_id long, embedding array<double>",
    )
    src = f"{work}/feed"
    feed.repartition(4).write.parquet(src)
    t0 = time.time()
    stream = (
        spark.readStream.schema(feed.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ann_ingest_stream(stream, path, f"{work}/ckpt")
    record("ingest", time.time() - t0,
           f"{len(drifted)} drifted vectors, 4 micro-batches")

    full = emb.union(feed).localCheckpoint(eager=True)
    queries = [
        (modes[i % N_MODES] + 0.3 * rng.normal(size=dim)).tolist() for i in range(16)
    ]
    truth = [
        {r.vec_id for r in brute_force_topk(full, qv, k=K).collect()} for qv in queries
    ]

    def recall_suite(tag):
        for n_probe in (1, 2, 4):
            t0 = time.time()
            rc = [
                len({r.vec_id for r in topk_via_alias(spark, alias, qv, k=K, n_probe=n_probe).collect()} & tr) / K
                for qv, tr in zip(queries, truth)
            ]
            mean_rc = sum(rc) / len(rc)
            record(f"recall_{tag}", time.time() - t0,
                   f"n_probe={n_probe} mean={mean_rc:.3f} min={min(rc):.2f}")

    record("drift", 0.0, f"ratio={drift_ratio(spark, read_alias(alias)):.3f}")
    recall_suite("before")

    t0 = time.time()
    res = maybe_recluster(spark, alias, threshold=1.3, n_clusters=N_CLUSTERS)
    record("policy", time.time() - t0,
           f"reclustered={res['reclustered']} drift={res['drift']:.3f} -> {os.path.basename(res['path'])}")
    assert res["reclustered"], "demo expects the threshold to trip"
    record("drift_after", 0.0, f"ratio={drift_ratio(spark, read_alias(alias)):.3f}")
    recall_suite("after")

    out = os.path.join(REPO, "benchmark", "ann_recluster.csv")
    with open(out, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=["stage", "wall_s", "detail"])
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
