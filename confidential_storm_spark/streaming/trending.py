"""Trending terms over a document stream: windowed word counts with
event-time watermarks, plus the per-window top-k release.

The streaming half of the batch wordcount/collocation family: counts
per (event-time window, word) accumulate in the state store and emit
exactly once (append mode) when the watermark closes the window —
late documents inside the watermark still count; later ones are
dropped, the reference's late-data grace (T7) at window granularity.

Top-k itself is NOT a streaming-stateful operator: ranking needs the
closed window's full count set, which append mode delivers as plain
rows.  ``top_k_per_window`` is the (batch) release transform — run it
inside foreachBatch or over the sink table; at scale it is a per-
window partitioned window function, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words


def windowed_wordcounts_stream(docs: DataFrame, window: str = "6 hours") -> DataFrame:
    """(window_start, window_end, word, n) counts of the words of
    ``text`` per tumbling event-time window of ``ts``.  State per
    window is one row per distinct word; a 1-hour watermark bounds how
    many windows stay open."""
    ws = docs.withWatermark("ts", "1 hour").select(
        F.col("ts"), F.explode(words(F.col("text"))).alias("word")
    )
    return (
        ws.groupBy(F.window("ts", window).alias("_w"), "word")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "word",
            "n",
        )
    )


def top_k_per_window(counts: DataFrame, k: int = 10) -> DataFrame:
    """The release transform over closed-window counts: top-k words
    per window, count-desc with word as the deterministic tiebreak.
    Partitioned window function — each window ranks independently, no
    global sort."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy("window_start", "window_end").orderBy(
        F.desc("n"), "word"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("window_start", "rank")
    )
