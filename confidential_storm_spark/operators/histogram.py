"""Histogram aggregation operators (SURVEY §2.5 A1, A13-A16; §2.7 O1).

All expressed as native DataFrame aggregations so Catalyst plans
partial (map-side) + final aggregation — the explicit fan-in merge the
reference hand-codes (AbstractHistogramAggregationServiceProvider
.mergePartial:104-223) is exactly Spark's partial+final hash agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "keyed_sum",
    "histogram_release",
    "merge_partials",
    "ground_truth",
    "utility_metrics",
]


def keyed_sum(df: DataFrame) -> DataFrame:
    """A1: per-``key`` SUM of (clamped) contribution ``value``."""
    return df.groupBy("key").agg(F.sum("value").alias("total"))


def histogram_release(df: DataFrame) -> DataFrame:
    """A13 + O1: per ``key``, the SUM of ``value`` rounded half-up,
    negatives clamped to zero, sorted desc (ref
    StreamingDPMechanism.produceHistogram:517-531).

    ``floor(x + 0.5)`` matches Java ``Math.round`` (Spark/DuckDB
    ``round`` use HALF_UP for positives but differ on negative .5)."""
    return (
        df.groupBy("key")
        .agg(
            F.greatest(
                F.floor(F.sum("value") + F.lit(0.5)).cast("long"), F.lit(0).cast("long")
            ).alias("count")
        )
        .orderBy(F.desc("count"), "key")
    )


def merge_partials(partials: DataFrame) -> DataFrame:
    """A14 + T6: merge per-replica ``partial_sum`` histograms — discard
    ``is_dummy`` rows, dedup (``epoch``, ``producer_id``), then fan-in
    SUM per ``key``.

    The reference tracks per-epoch completion with a TreeMap of <=8
    pending epochs (ref :41,152-161); in batch Spark epochs are
    complete by construction, so the merge is the dedup + re-aggregate.
    """
    df = partials
    if "is_dummy" in df.columns:
        df = df.filter(~F.col("is_dummy"))
    # one partial per (epoch, producer): drop exact duplicate deliveries
    df = df.dropDuplicates(["epoch", "producer_id", "key"])
    return df.groupBy("key").agg(F.sum("partial_sum").alias("total"))


def ground_truth(df: DataFrame) -> DataFrame:
    """A15: exact (non-DP, non-bounded) per-``key`` histogram of ``value``."""
    return df.groupBy("key").agg(F.sum("value").alias("gt_total"))


def utility_metrics(dp: DataFrame, gt: DataFrame) -> DataFrame:
    """A16: L0/Linf/L1/L2 error of a DP histogram ``(key, count)`` vs
    ground truth ``(key, gt_total)`` over the full outer join of the
    two key sets (ref
    BaselineHistogramAggregationBolt.writeReport:247-266).

    The small DP side could be broadcast, but both sides are
    aggregates of the same scan, so a shuffled full-outer on the agg
    key is already minimal.
    """
    joined = dp.select("key", "count").join(
        gt.select("key", "gt_total"), on="key", how="full_outer"
    )
    d = F.coalesce(F.col("count").cast("double"), F.lit(0.0))
    g = F.coalesce(F.col("gt_total").cast("double"), F.lit(0.0))
    err = d - g
    return joined.agg(
        F.count(F.when(d > 0, 1)).alias("l0"),
        F.round(F.max(F.abs(err)), 6).alias("l_inf"),
        F.round(F.sum(F.abs(err)), 6).alias("l1"),
        F.round(F.sqrt(F.sum(err * err)), 6).alias("l2"),
    )
