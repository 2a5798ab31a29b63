"""Contribution bounding + clamping operators (SURVEY §2 P2, P3, A2).

Batch form of the reference's ``UserContributionLimiter`` /
``AbstractUserContributionBoundingServiceProvider`` (enclave side
:66-114): keep each user's first C contributions (deterministic
arrival order = ``(event_time, seq)``), clamp each kept value to
[-L_m, +L_m].  ``user_id IS NULL`` rows bypass the bound (event-level
privacy), mirroring ``UserContributionLimiter.allow:22-28``.

Scale notes
-----------
``row_number() OVER (PARTITION BY user_id ...)`` shuffles once on
``user_id``.  At 100 TB this is the right plan *if* users are not
pathologically hot: each user's rows must fit one task.  Real user
data (C-bounded at ingest anyway) satisfies this; a single synthetic
mega-user would need pre-aggregation or salted two-phase top-C.  The
groupBy alternative (collect first-C per user via aggregation) does
not preserve "first by time" without the same shuffle, so the window
is the minimal-shuffle plan.  AQE skew handling stays enabled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["clamp_values", "bound_contributions", "bounded_clamped"]


def clamp_values(df: DataFrame, clamp: float = 1.0) -> DataFrame:
    """P2: clamp ``value`` to [-clamp, +clamp] (ref
    BaselineContributionBoundingBolt.java:56)."""
    c = F.col("value")
    return df.withColumn(
        "value", F.least(F.greatest(c, F.lit(-clamp)), F.lit(float(clamp)))
    )


def bound_contributions(df: DataFrame, max_contributions: int) -> DataFrame:
    """A2 (batch): admit each ``user_id``'s first C rows by arrival
    order ``(event_time, seq)``; NULL users always pass (event-level
    privacy)."""
    w = Window.partitionBy("user_id").orderBy(F.col("event_time"), F.col("seq"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("user_id").isNull() | (F.col("_rn") <= max_contributions))
        .drop("_rn")
    )


def bounded_clamped(
    df: DataFrame, max_contributions: int, per_record_clamp: float
) -> DataFrame:
    """The bounding stage of the DP pipeline: clamp then C-bound."""
    return bound_contributions(clamp_values(df, per_record_clamp), max_contributions)


def bounded_sql(inner_sql: str, max_contributions: int, per_record_clamp: float) -> str:
    """ANSI-SQL equivalent of :func:`bounded_clamped` for the DuckDB
    oracle, applied over ``inner_sql`` as a subquery."""
    return f"""
SELECT * EXCLUDE (_rn) FROM (
    SELECT
        * REPLACE (LEAST(GREATEST(value, -{per_record_clamp}), {per_record_clamp}) AS value),
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_time, seq) AS _rn
    FROM ({inner_sql})
) WHERE user_id IS NULL OR _rn <= {max_contributions}
"""
