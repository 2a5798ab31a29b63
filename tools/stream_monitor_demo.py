"""One-stream curation monitor: the four bounded-state streaming
sketches side-by-side on the same document feed, with measured rates.

A curation pipeline watches its intake on four axes — cardinality
(how many distinct sources?), hot values (which sources dominate?),
spread (how are document lengths distributed?), and distribution
shift (is the vocabulary drifting from the reference corpus?).  Each
axis has a bounded-state streaming operator in this repo; this tool
runs all four against the same multi-batch feed derived from the
testdata documents table and reports per-operator wall + state size,
writing ``benchmark/stream_monitor_demo.csv``.

Usage: python tools/stream_monitor_demo.py [sf_dir] [n_batches]
"""

from __future__ import annotations

import csv
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

WINDOW = "1 minute"
DELAY = "30 seconds"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from pyspark.sql import functions as F

    from confidential_storm_spark.session import get_spark
    from confidential_storm_spark.streaming import (
        hashed_ref_probs,
        histogram_quantiles_stream,
        hll_distinct_stream,
        vocab_kl_stream,
    )
    from confidential_storm_spark.streaming._drain import run_available_now
    from confidential_storm_spark.streaming.heavy_hitters import heavy_hitters_stream

    spark = get_spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    # feed: documents stamped into one event-time window, chopped into
    # n_batches files (every monitor sees the identical rows)
    feed_df = docs.select(
        "doc_id",
        "source",
        "text",
        F.length("text").cast("double").alias("n_chars"),
        (F.to_timestamp(F.lit("2026-03-01 00:00:00"))
         + F.make_interval(secs=(F.col("doc_id") % 50).cast("double"))).alias("ts"),
    )
    src = tempfile.mkdtemp(prefix="stream_monitor_")
    flush = feed_df.limit(1).withColumn(
        "ts", F.to_timestamp(F.lit("2026-03-01 01:00:00"))
    )
    feed_df.repartition(n_batches).write.mode("overwrite").parquet(f"{src}/feed")
    flush.write.mode("append").parquet(f"{src}/feed")  # watermark flusher
    schema = feed_df.schema

    # reference distribution for the drift monitor: a 2% sample
    ref_texts = [
        r["text"]
        for r in docs.filter(F.abs(F.hash("doc_id")) % 50 == 0).select("text").collect()
    ]
    ref = hashed_ref_probs(ref_texts, n_bins=512)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max(1, n_batches // 2))
            .parquet(f"{src}/feed")
        )

    monitors = {
        "hll_distinct_sources": lambda: hll_distinct_stream(
            stream(), "source", [], window=WINDOW, watermark_delay=DELAY
        ),
        "heavy_hitter_sources": lambda: heavy_hitters_stream(
            stream().select("source"), "source", capacity=32, num_shards=4
        ),
        "length_quantiles": lambda: histogram_quantiles_stream(
            stream(), "n_chars", qs=(0.5, 0.9, 0.99), width=20,
            n_buckets=128, window=WINDOW, watermark_delay=DELAY,
        ),
        "vocab_kl_drift": lambda: vocab_kl_stream(
            stream(), "text", ref, window=WINDOW, watermark_delay=DELAY
        ),
    }

    rows = []
    for name, make in monitors.items():
        out: list = []
        mode = "update" if name == "heavy_hitter_sources" else "append"
        t0 = time.time()
        run_available_now(
            make()
            .writeStream.outputMode(mode)
            .foreachBatch(lambda df, bid, acc=out: acc.append(df.collect())),
            f"{src}/ck_{name}",
        )
        wall = time.time() - t0
        emitted = [r for batch in out for r in batch]
        rows.append(
            dict(
                monitor=name,
                docs=n_docs,
                wall_s=round(wall, 1),
                docs_per_s=round(n_docs / wall, 1),
                emitted_rows=len(emitted),
                sample=str(emitted[:2])[:160],
            )
        )
        print(rows[-1], flush=True)

    out_csv = f"{REPO}/benchmark/stream_monitor_demo.csv"
    with open(out_csv, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out_csv}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
