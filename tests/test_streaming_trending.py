"""Trending-words stream: append-mode windowed counts equal the batch
computation; watermark finalizes windows exactly once; top-k release
ranks deterministically."""

import tempfile
from datetime import datetime

from confidential_storm_spark.streaming._drain import run_available_now
from confidential_storm_spark.streaming.trending import (
    top_k_per_window,
    windowed_wordcounts_stream,
)

SCHEMA = "doc_id long, ts timestamp, text string"


def _t(hour, minute=0):
    return datetime(2024, 3, 1, hour, minute)


BATCHES = [
    [(1, _t(0, 10), "spark spark streams"), (2, _t(0, 40), "streams of data")],
    [(3, _t(1, 5), "spark again"), (4, _t(6, 30), "new window data")],
    # far-future flush: advances the watermark past every earlier window
    [(5, _t(20), "flush")],
]


def _write(spark, base, batches):
    src = str(base / "docs")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    return src


def _run_append(df):
    out = []
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            df.writeStream.outputMode("append").foreachBatch(
                lambda bdf, bid: out.extend(bdf.collect())
            ),
            ckpt,
        )
    return out


def test_streamed_counts_equal_batch(spark, tmp_path):
    src = _write(spark, tmp_path, BATCHES)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    streamed = _run_append(windowed_wordcounts_stream(stream, window="6 hours"))
    batch = windowed_wordcounts_stream(
        spark.read.parquet(src), window="6 hours"
    ).collect()

    def key(rows):
        return sorted((r["window_start"], r["word"], r["n"]) for r in rows)

    # the final window (the flush doc's) never closes in streaming —
    # drop it from the batch side before comparing
    last_start = max(r["window_start"] for r in batch)
    closed = [r for r in batch if r["window_start"] != last_start]
    assert key(streamed) == key(closed)
    # cross-batch accumulation: 'spark' counted over files 1 AND 2
    spark_rows = [r for r in streamed if r["word"] == "spark"]
    assert len(spark_rows) == 1 and spark_rows[0]["n"] == 3


def test_top_k_per_window_ranks_and_tiebreaks(spark, tmp_path):
    src = _write(spark, tmp_path, BATCHES)
    counts = windowed_wordcounts_stream(
        spark.read.parquet(src), window="6 hours"
    )
    top = top_k_per_window(counts, k=2).collect()
    by_window = {}
    for r in top:
        by_window.setdefault(r["window_start"], []).append((r["word"], r["n"], r["rank"]))
    first = by_window[min(by_window)]
    # window 1: spark=3, streams=2, then alphabetical tiebreak among 1s
    assert first[0] == ("spark", 3, 1) and first[1] == ("streams", 2, 2)
    for rows in by_window.values():
        assert len(rows) <= 2


def test_top_k_rejects_bad_k(spark, tmp_path):
    src = _write(spark, tmp_path, BATCHES)
    counts = windowed_wordcounts_stream(spark.read.parquet(src))
    import pytest

    with pytest.raises(ValueError):
        top_k_per_window(counts, k=0)
