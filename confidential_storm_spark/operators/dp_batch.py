"""Batch DP-SQLP pipeline as a Spark operator (SURVEY §7 Phase 2).

The epoch dimension comes from the data (``epoch`` column); per key the
mechanism must see epochs **in order** with that key's per-epoch totals
and new-unique-user information.  The plan:

1. JVM-side pre-aggregation into a SKEW-SAFE sufficient statistic: the
   mechanism only ever needs "how many of this window's users are NEW
   this round", and a user is new iff their PREVIOUS contribution epoch
   for the key precedes the round start.  So instead of shipping
   ``collect_set(user_id)`` (one unbounded array per (key, epoch) — a
   task-OOM at a hot key with millions of users), we ship per
   (key, epoch) the counts of users grouped by previous-contribution
   epoch: at most T+1 counters regardless of key cardinality, computed
   entirely with built-ins (``collect_set(epoch)`` per (key, user) is
   bounded by C, the contribution bound enforced upstream).
2. ``groupBy(bucket).applyInPandas`` — keys are hash-bucketed so one
   Python worker invocation runs the Algorithm 1-3 state machine for
   *many* keys (amortizing the Arrow + interpreter cost), mirroring
   how one reference DP-bolt replica owns many keys' trees
   (StreamingDPMechanism.java:34-72).  State per key = two numpy
   trees + <= T+1 round counters — nothing user-proportional.

Scale: the bucket count bounds per-task state; at 100 TB the bucket
column doubles as the shuffle key so skewed keys spread by hash, and
the per-(key, epoch) rows entering the pandas stage are O(|keys| x T),
never O(events) or O(users).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dp.mechanism import DPParams

__all__ = ["DPParams", "dp_histogram_batch"]


def dp_histogram_batch(
    contribs: DataFrame,
    params: DPParams,
    num_buckets: int = 64,
) -> DataFrame:
    """Run the full DP-SQLP mechanism over an epoch-partitioned batch of
    ``key``, ``user_id``, ``value``, ``epoch`` contributions; returns
    the final released histogram ``(key, count)`` sorted desc.

    Input must already be clamped + C-bounded (use
    ``operators.bounding.bounded_clamped``), matching the reference
    pipeline order bounding -> perturbation -> aggregation.
    """
    # SINGLE-PASS pre-aggregation: one (key, user) aggregate yields both
    # the per-(key, epoch) totals and the previous-contribution-epoch
    # counters, so the input (and any upstream bounding window) is
    # scanned exactly once.  collect_list per (key, user) is bounded by
    # C (contribution bounding runs upstream) — contrast
    # collect_set(user_id), which grows with the key's cardinality.
    # The (key, user) grouping needs no exchange when the input is
    # already partitioned by user (the bounding window's layout).
    evs = F.array_sort(
        F.collect_list(F.struct(F.col("epoch").alias("e"), F.col("value").alias("v")))
    )
    per_user = contribs.groupBy("key", "user_id").agg(evs.alias("_evs"))
    # per event: carry value; stamp prev = previous DISTINCT epoch on the
    # FIRST row of each epoch (-1 = first ever, null = repeat row)
    prev_e = lambda i: F.get(F.col("_evs"), i - 1)["e"]  # noqa: E731
    trip = F.transform(
        F.col("_evs"),
        lambda x, i: F.struct(
            x["e"].alias("epoch"),
            x["v"].alias("value"),
            F.when(i == 0, F.lit(-1))
            .otherwise(
                F.when(prev_e(i) == x["e"], F.lit(None)).otherwise(prev_e(i))
            )
            .alias("prev"),
        ),
    )
    rows = per_user.select(F.col("key"), F.explode(trip).alias("t")).select(
        "key", F.col("t.epoch").alias("epoch"), "t.value", "t.prev"
    )
    # count(prev) skips nulls, so repeat rows add value but no user;
    # the null-prev group still carries its value share into the total
    part = rows.groupBy("key", "epoch", "prev").agg(
        F.sum("value").alias("v"), F.count("prev").alias("n_users")
    )
    windowed = (
        part.groupBy("key", "epoch")
        .agg(
            F.sum("v").alias("total"),
            F.collect_list(  # when() -> null for the repeat-row group; collect_list drops nulls
                F.when(F.col("prev").isNotNull(), F.struct("prev", "n_users"))
            ).alias("new_user_counts"),
        )
        .withColumn("bucket", F.crc32(F.col("key").cast("string")) % num_buckets)
    )

    p = params.for_release()

    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"key": pd.Series(dtype=object), "count": pd.Series(dtype="int64")})
        mech = p.mechanism(int(pdf["bucket"].iloc[0]))
        by_epoch: dict[int, list[tuple[str, float, list]]] = {}
        for key, epoch, total, pc in zip(
            pdf["key"], pdf["epoch"], pdf["total"], pdf["new_user_counts"]
        ):
            by_epoch.setdefault(int(epoch), []).append((key, float(total), pc))
        hist: dict[str, int] = {}
        for epoch in range(p.max_time_steps):
            for key, total, pc in by_epoch.get(epoch, ()):
                mech.add_window_prev_counts(
                    key, total, ((row["prev"], row["n_users"]) for row in pc)
                )
            hist = mech.snapshot()
        return pd.DataFrame({"key": list(hist.keys()), "count": list(hist.values())})

    out = windowed.groupBy("bucket").applyInPandas(run_bucket, schema="key string, count long")
    return out.orderBy(F.desc("count"), "key")
