"""Streaming throughput benchmark: rate source -> dp_histogram_stream
records/s, with and without the T4 heartbeat leg, plus the round-3
per-key pipeline (stage-2 prev-epoch + stage-3 per-key DP).

The reference's streaming story is rate-driven (spouts emit at a
fixed rate; BASELINE §6 measures records/s through the DP bolt).
Spark restatement: a ``rate`` source at ``--rows-per-second``,
``--seconds`` of wall clock, throughput = processed rows / wall time
from the query progress (numInputRows summed over completed batches).

Emits ``benchmark/streaming_spark.csv``:
    mode,rows_per_second,seconds,n_batches,input_rows,wall_s,records_per_s

Usage: python tools/streaming_bench.py [--rows-per-second 200000]
          [--seconds 30] [--out benchmark/streaming_spark.csv]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NUM_KEYS = 1000
NUM_USERS = 100_000

# The keyed pipeline's stage 2 holds one state row per user, and
# locally every group is a PYTHON function invocation (~2k groups/s
# on local[32]), so the local benchmark bounds the user cardinality;
# see PLANS.md.
KEYED_NUM_KEYS = 50
KEYED_NUM_USERS = 400


def _rate_events(spark, rows_per_second: int, num_keys: int = NUM_KEYS,
                 num_users: int = NUM_USERS):
    """Rate stream shaped like the DP contribution relation (key skewed
    power-law, users uniform) — all column exprs, JVM-side."""
    from pyspark.sql import functions as F

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 8)
        .load()
    )
    return (
        rate.withColumn(
            "user_id", F.pmod(F.xxhash64("value"), F.lit(num_users)).cast("string")
        )
        .withColumn(
            "_u",
            (F.pmod(F.xxhash64("value", F.lit(1)), F.lit(1 << 20)) + 1)
            / F.lit(float(1 << 20)),
        )
        .withColumn(
            "key",
            F.least(
                F.floor(F.pow(F.col("_u"), F.lit(-1.0 / 0.4))), F.lit(num_keys)
            ).cast("string"),
        )
        .withColumn("value", F.lit(1.0))
        .withColumn("seq", F.col("timestamp").cast("long"))
        .select("user_id", "key", "value", "seq")
    )


def _rate_heartbeats(spark, num_buckets: int, schema, rows_per_second: int = 1):
    """T4 dummy traffic from a rate source: one null-key row per bucket
    per tick, cast to the event schema plus the ``bucket`` column that
    ``dp_histogram_stream``'s ``heartbeats`` leg routes on."""
    from pyspark.sql import functions as F

    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    # generators can't nest inside other expressions (e.g. a cast) in a
    # select: explode first, cast in a second projection
    exploded = rate.select(
        F.explode(F.sequence(F.lit(0), F.lit(num_buckets - 1))).alias("_b")
    )
    cols = [F.col("_b").cast("int").alias("bucket")] + [
        F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields
    ]
    return exploded.select(*cols)


def _drain(q, seconds: float) -> tuple[int, int, float]:
    t0 = time.time()
    time.sleep(seconds)
    q.stop()
    q.awaitTermination(60)
    wall = time.time() - t0
    rows = sum(int(p["numInputRows"]) for p in q.recentProgress)
    batches = sum(1 for p in q.recentProgress if int(p["numInputRows"]) > 0)
    return rows, batches, wall


def bench_bucketed(spark, rows_per_second: int, seconds: float, heartbeats: bool):
    from pyspark.sql.types import StructType

    from confidential_storm_spark.operators.dp_batch import DPParams
    from confidential_storm_spark.streaming.stateful import dp_histogram_stream

    events = _rate_events(spark, rows_per_second)
    hb = None
    if heartbeats:
        schema: StructType = events.schema
        hb = _rate_heartbeats(spark, num_buckets=8, schema=schema)
    out = dp_histogram_stream(
        events, DPParams.zero_noise(t=100, mu=0), num_buckets=8, heartbeats=hb
    )
    q = (
        out.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sb_"))
        .start()
    )
    return _drain(q, seconds)


def bench_keyed(spark, rows_per_second: int, seconds: float):
    """Stages 2+3 of the per-key pipeline driven by the rate source
    (epoch = a 1 s event-time window stamped as a column — the rate
    source gives monotonic timestamps, so windows close in order)."""
    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.dp_batch import DPParams
    from confidential_storm_spark.streaming._drain import read_handoff, write_handoff
    from confidential_storm_spark.streaming.keyed import (
        PREV_COUNTS_SCHEMA,
        dp_histogram_stream_keyed,
        prev_epoch_counts_stream,
    )

    rate_epoch = _rate_events(
        spark, rows_per_second, KEYED_NUM_KEYS, KEYED_NUM_USERS
    ).withColumn("epoch", (F.col("seq") % 86400).cast("int"))
    prev = prev_epoch_counts_stream(rate_epoch)
    workdir = tempfile.mkdtemp(prefix="sbk_")
    q2 = (
        prev.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: write_handoff(df, f"{workdir}/prev", bid))
        .option("checkpointLocation", f"{workdir}/ckpt2")
        .start()
    )
    # let stage 2 produce some files before stage 3 attaches
    time.sleep(3)
    prev_stream = read_handoff(spark, f"{workdir}/prev", PREV_COUNTS_SCHEMA)
    q3 = (
        dp_histogram_stream_keyed(prev_stream, DPParams.zero_noise(t=100, mu=0))
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", f"{workdir}/ckpt3")
        .start()
    )
    t0 = time.time()
    time.sleep(seconds)
    q2.stop()
    q3.stop()
    q2.awaitTermination(60)
    q3.awaitTermination(60)
    wall = time.time() - t0
    rows = sum(int(p["numInputRows"]) for p in q2.recentProgress)
    batches = sum(1 for p in q2.recentProgress if int(p["numInputRows"]) > 0)
    return rows, batches, wall


def bench_bloom_dedup(spark, rows_per_second: int, seconds: float):
    """Blocked-Bloom streaming dedup: rate-driven doc stream with a
    1M-content universe (so duplicates recur), 64 bucket segments."""
    from pyspark.sql import functions as F

    from confidential_storm_spark.streaming import bloom_dedup_stream

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 8)
        .load()
    )
    docs = rate.select(
        F.col("value").alias("doc_id"),
        F.concat(
            F.lit("document body "), (F.col("value") % 1_000_000).cast("string")
        ).alias("text"),
    )
    out = bloom_dedup_stream(docs, n_buckets=64, k=4, m_per_bucket=1 << 16)
    q = (
        out.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sbb_"))
        .start()
    )
    return _drain(q, seconds)


def bench_session_windows(spark, rows_per_second: int, seconds: float):
    """Native session_window aggregation: 50k concurrent users, 10 s
    gap, 5 s watermark — state scales with ACTIVE sessions."""
    from pyspark.sql import functions as F

    from confidential_storm_spark.streaming import session_stats_stream

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 8)
        .load()
    )
    ev = rate.select(
        F.pmod(F.xxhash64("value"), F.lit(50_000)).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.lit(1.0).alias("value"),
    )
    out = session_stats_stream(ev, gap="10 seconds", watermark_delay="5 seconds")
    q = (
        out.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sbs_"))
        .start()
    )
    return _drain(q, seconds)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-per-second", type=int, default=200_000)
    ap.add_argument("--keyed-rows-per-second", type=int, default=20_000)
    ap.add_argument("--seconds", type=float, default=45.0)
    ap.add_argument("--out", default="benchmark/streaming_spark.csv")
    args = ap.parse_args()

    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="csspark-streaming-bench")
    spark.range(1).count()

    rows = []
    for mode, fn in (
        ("bucketed", lambda: bench_bucketed(spark, args.rows_per_second, args.seconds, False)),
        ("bucketed_heartbeats", lambda: bench_bucketed(spark, args.rows_per_second, args.seconds, True)),
        ("keyed_stage23", lambda: bench_keyed(spark, args.keyed_rows_per_second, args.seconds)),
        ("bloom_dedup", lambda: bench_bloom_dedup(spark, args.rows_per_second, args.seconds)),
        ("session_windows", lambda: bench_session_windows(spark, args.rows_per_second, args.seconds)),
    ):
        offered = (
            args.keyed_rows_per_second if mode == "keyed_stage23" else args.rows_per_second
        )
        n, b, wall = fn()
        rps = n / wall if wall else 0.0
        rows.append(f"{mode},{offered},{args.seconds},{b},{n},{wall:.2f},{rps:.0f}")
        print(f"# {mode}: {n} rows in {wall:.1f}s over {b} batches -> {rps:,.0f} rec/s",
              file=sys.stderr)

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write("mode,rows_per_second,seconds,n_batches,input_rows,wall_s,records_per_s\n")
        for r in rows:
            f.write(r + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
