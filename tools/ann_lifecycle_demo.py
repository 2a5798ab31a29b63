"""End-to-end lifecycle of the standing ANN index, with measured
per-stage rates — the ANN analog of ``tools/capstone_pipeline.py``:

  build     IVF k-means on the stable 60% of embeddings
  stream    the other 40% arrives as a 4-batch feed ->
            ann_ingest_stream appends (idempotent epoch ledger)
  drift     ivf_drift_stats health check (k rows)
  compact   compact_partitioned -> one file per cluster
  serve     full-probe top-k from the compacted index, verified
            EXACT against brute force over all vectors

Writes ``benchmark/ann_lifecycle.csv``.

Usage: python tools/ann_lifecycle_demo.py [sf_dir] [workdir]
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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_ann_lifecycle"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.similarity import (
        brute_force_topk,
        ivf_drift_stats,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from confidential_storm_spark.session import get_spark
    from confidential_storm_spark.sources.writers import compact_partitioned
    from confidential_storm_spark.streaming.ingest_ann import ann_ingest_stream

    spark = get_spark()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_emb = emb.count()
    base = emb.filter(F.col("vec_id") % 5 > 1)
    feed = emb.filter(F.col("vec_id") % 5 <= 1)
    n_feed = feed.count()
    path = f"{work}/ivf"
    rows: list[dict] = []

    def record(stage, wall, rows_in, detail=""):
        rows.append(dict(stage=stage, wall_s=round(wall, 2), rows_in=rows_in,
                         rate_rows_per_s=round(rows_in / wall, 1) if wall else None,
                         detail=detail))
        print(f"{stage:10s} {wall:7.1f}s  in={rows_in:>9,}  {detail}", flush=True)

    t0 = time.time()
    ivf_write_index(base, path, n_clusters=16)
    record("build", time.time() - t0, n_emb - n_feed, "n_clusters=16")

    src = f"{work}/feed"
    feed.repartition(4).write.parquet(src)
    t0 = time.time()
    stream = spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    ann_ingest_stream(stream, path, f"{work}/ckpt")
    record("stream", time.time() - t0, n_feed, "4 micro-batches, idempotent ledger")

    t0 = time.time()
    drift = ivf_drift_stats(spark, path).collect()
    worst = max(drift, key=lambda r: r["mean_dist2"])
    record("drift", time.time() - t0, n_emb,
           f"clusters={len(drift)} worst_mean_dist2={worst['mean_dist2']}")

    t0 = time.time()
    # dedup on vec_id: repairs the one at-least-once crash window in
    # ann_ingest_stream (append done, ledger commit lost -> replayed)
    n_files_in = compact_partitioned(
        spark, f"{path}/vectors", f"{work}/compact/vectors", "_cluster",
        dedup_cols=("vec_id",),
    )
    shutil.copytree(f"{path}/centroids", f"{work}/compact/centroids")
    import glob

    n_files_out = len(glob.glob(f"{work}/compact/vectors/*/*.parquet"))
    record("compact", time.time() - t0, n_emb, f"files {n_files_in} -> {n_files_out}")

    t0 = time.time()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    got = [tuple(r) for r in ivf_topk_indexed(spark, f"{work}/compact", qv, k=10, n_probe=16).collect()]
    want = [tuple(r) for r in brute_force_topk(emb, qv, k=10).collect()]
    assert got == want, "compacted full-probe != brute force"
    record("serve", time.time() - t0, n_emb, "full-probe top-10 == brute force (verified)")

    out_csv = f"{REPO}/benchmark/ann_lifecycle.csv"
    with open(out_csv, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out_csv}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
