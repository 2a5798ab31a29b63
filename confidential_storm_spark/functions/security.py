"""Security-layer operators (SURVEY §2.4 V1-V4).

The reference validates, per tuple inside the enclave: route (AAD
source/destination is an edge of the encrypted topology DAG), replay
(per-producer sliding window over ``seq``), cross-field consistency,
and stamps a per-task monotonic ``seq``.  Batch Spark equivalents:

- V1 route validation  -> broadcast join against a tiny edges table
- V2 replay protection -> window-range + duplicate filter per producer
  (streaming form: per-producer state, see streaming/replay.py)
- V3 consistency       -> row-level filter over struct fields
- V4 sequence stamping -> row_number() per producer

All are pure DataFrame ops — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .replay import WINDOW_SIZE

__all__ = [
    "validate_routes",
    "replay_filter",
    "stamp_sequence",
    "routing_key",
]


def routing_key(prefix: str, col) -> "F.Column":
    """P4+P9: SHA-256 routing key ``sha256(prefix + value)`` as the
    reference computes inside the enclave (``user:<id>`` for per-user
    routing, ``word:<word>`` for per-key routing,
    AbstractUserContributionBoundingServiceProvider.java:103-105).
    In Spark this is only needed when a user wants the explicit key —
    ``groupBy`` hash-partitions equivalently for free."""
    return F.sha2(F.concat(F.lit(prefix), F.col(col) if isinstance(col, str) else col), 256)


def validate_routes(df: DataFrame, edges: DataFrame, reject: bool = False) -> DataFrame:
    """V1: keep rows whose (``source``, ``destination``) is a declared DAG edge
    (ref ConfidentialBoltService.verify:216-234; edges from the
    encrypted adjacency list, TopologyGraphGenerator.java:21-46).

    ``edges(src, dst)`` is tiny (one row per topology edge) — always
    broadcast.  ``reject=True`` inverts the filter (audit mode).
    Matching is case-insensitive on both ends, like the reference's
    EncryptedTopologyProvider lookups (:121-137).
    """
    e = F.broadcast(
        edges.select(F.lower("src").alias("src"), F.lower("dst").alias("dst")).distinct()
    )
    joined = df.join(
        e,
        (F.lower(F.col("source")) == F.col("src"))
        & (F.lower(F.col("destination")) == F.col("dst")),
        "left_semi" if not reject else "left_anti",
    )
    return joined


def replay_filter(df: DataFrame) -> DataFrame:
    """V2 (batch analog): accept each (``producer_id``, ``seq``) once, and
    only if ``seq`` lies within the reference's 128-sequence window of the
    producer's max seq
    (ref ReplayWindow.accept:44-105 — reject duplicates and anything
    older than max_seen - window).

    The true streaming semantics (order-sensitive sliding window) live
    in the stateful streaming operator; over a complete batch the
    accepted set is exactly: distinct seqs in (max(seq)-window, max(seq)].
    """
    w = Window.partitionBy("producer_id")
    return (
        df.dropDuplicates(["producer_id", "seq"])
        .withColumn("_max_seen", F.max("seq").over(w))
        .filter(F.col("seq") > F.col("_max_seen") - WINDOW_SIZE)
        .drop("_max_seen")
    )


def stamp_sequence(df: DataFrame) -> DataFrame:
    """V4: per-producer monotonic sequence numbers ``seq_out`` in
    (``event_time``, ``event_id``) order (ref
    ConfidentialBoltService.java:64-73 keeps one counter per task)."""
    w = Window.partitionBy("producer_id").orderBy(F.col("event_time"), F.col("event_id"))
    return df.withColumn("seq_out", F.row_number().over(w))
