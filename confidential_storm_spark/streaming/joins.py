"""Streaming joins: stream-stream event-time interval join and
stream-static enrichment.

The reference engine has no join operators at all (SURVEY §2.6) — its
topologies fan tuples through stateless bolts.  A warehouse stream
pipeline needs two join shapes:

- **stream-static**: enrich a stream with a dimension table.  The
  dimension is broadcast per micro-batch, so the stream side never
  shuffles; at scale the dim re-reads pick up slowly-changing updates
  between batches for free.
- **stream-stream interval join**: correlate two streams on a key
  within an event-time window (view -> purchase attribution, request
  -> response matching).  Both sides MUST carry watermarks and the
  join condition MUST bound event time on both sides — that is what
  lets Spark expire buffered rows instead of holding both streams'
  full history in state.  State per key is bounded by
  (watermark + interval) x arrival rate, independent of stream
  length.

Outer variants emit the unmatched row only once the watermark passes
its join horizon (the row provably cannot match anymore) — exactly
the reference's late-data grace semantics (T7), generalized to two
streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static left join: per micro-batch, ``dim`` is joined
    (broadcast when small) onto the stream.  The stream side never
    shuffles; state-free."""
    return stream.join(F.broadcast(dim), on, "left")


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    upper: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join of two streams: each right row joins
    left rows of the same ``key`` whose ``ts`` is in
    ``[ts, ts + upper]`` — i.e. the right event happened AT
    OR AFTER the left event, within the horizon.

    Right columns are prefixed with ``r_`` so both streams
    may share a schema (the common case: two slices of one event
    stream).  Both sides get ``watermark``; with the two-sided time
    bound this caps join state at (watermark + upper) of buffered
    input per side.  ``how="leftOuter"`` emits unmatched left rows
    (with null right columns) once the watermark passes their match
    horizon.

    Works identically on batch DataFrames (withWatermark is a no-op
    in batch), which is how the differential tests certify the
    streaming result against the batch interval join.
    """
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    lw = left.withWatermark("ts", watermark) if left.isStreaming else left
    rw = r.withWatermark("r_ts", watermark) if right.isStreaming else r
    rts = F.col("r_ts")
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (rts >= F.col("ts"))
        & (rts <= F.col("ts") + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, how)
