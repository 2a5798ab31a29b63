"""Saturation ramp for the keyed streaming DP path (VERDICT r5 #4).

``benchmark/streaming_spark.csv``'s keyed row (19.4k achieved at 20k
offered) can't distinguish "saturates at ~20k" from "was never
offered more".  This tool ramps the offered rate and records, per
step, the achieved throughput AND the lag signals Spark exposes in
query progress:

- ``batch_lag``: mean batch duration / trigger interval — > 1 means
  batches take longer than the data they cover, i.e. the pipeline
  falls monotonically behind.
- ``achieved/offered``: < ~0.9 at steady state means rows are
  queueing in the source.

The knee is the first rate where both signals trip.  Stage 2
(``prev_epoch_counts_stream``) is measured alone: it holds the
per-user state (one Python group per user touched, here at most 400
per batch) and is the group-invocation-bound stage; stage 3's per-key
state is 50 groups and never the constraint (PLANS.md).

Emits ``benchmark/keyed_saturation.csv``:
    mode,offered_rps,seconds,input_rows,wall_s,achieved_rps,
    mean_batch_s,max_batch_s,n_batches

Usage: python tools/keyed_saturation.py [--rates 20000,40000,...]
          [--seconds 40] [--pairs 20000]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYED_NUM_KEYS = 50
KEYED_NUM_USERS = 400


def _rate_pairs(spark, rows_per_second: int, num_keys: int, num_users: int):
    """Rate stream shaped like the DP contribution relation; epoch is
    the wall second (monotonic from the rate source)."""
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
        .withColumn("epoch", (F.col("timestamp").cast("long") % 86400).cast("int"))
        .select("user_id", "key", "value", "epoch")
    )


def measure(spark, rows_per_second: int, seconds: float, num_keys: int,
            num_users: int) -> dict:
    from confidential_storm_spark.streaming.keyed import prev_epoch_counts_stream

    stamped = _rate_pairs(spark, rows_per_second, num_keys, num_users)
    out = prev_epoch_counts_stream(stamped)
    q = (
        out.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ksat_"))
        .start()
    )
    t0 = time.time()
    time.sleep(seconds)
    q.stop()
    q.awaitTermination(120)
    wall = time.time() - t0
    prog = [p for p in q.recentProgress if int(p["numInputRows"]) > 0]
    rows = sum(int(p["numInputRows"]) for p in prog)
    durs = [int(p["batchDuration"]) / 1000.0 for p in prog]
    return {
        "offered_rps": rows_per_second,
        "seconds": seconds,
        "input_rows": rows,
        "wall_s": round(wall, 2),
        "achieved_rps": round(rows / wall) if wall else 0,
        "mean_batch_s": round(sum(durs) / len(durs), 2) if durs else 0.0,
        "max_batch_s": round(max(durs), 2) if durs else 0.0,
        "n_batches": len(prog),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rates", default="20000,40000,80000,160000,320000")
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--keys", type=int, default=KEYED_NUM_KEYS)
    ap.add_argument("--users", type=int, default=KEYED_NUM_USERS)
    ap.add_argument("--out", default="benchmark/keyed_saturation.csv")
    args = ap.parse_args()

    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="csspark-keyed-saturation")
    spark.range(1).count()

    rates = [int(r) for r in args.rates.split(",")]
    rows = []
    for rps in rates:
        m = measure(spark, rps, args.seconds, args.keys, args.users)
        rows.append(
            f"stage2,{m['offered_rps']},{m['seconds']},{m['input_rows']},"
            f"{m['wall_s']},{m['achieved_rps']},{m['mean_batch_s']},"
            f"{m['max_batch_s']},{m['n_batches']}"
        )
        print(
            f"# stage2 offered={rps}: achieved={m['achieved_rps']} rec/s, "
            f"mean_batch={m['mean_batch_s']}s max={m['max_batch_s']}s "
            f"({m['n_batches']} batches)",
            file=sys.stderr,
        )
        # a step that already lags 4x its offer won't recover at
        # higher rates — stop ramping
        if m["achieved_rps"] < 0.25 * rps:
            print("# deep saturation, stopping ramp", file=sys.stderr)
            break

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write(
            "mode,offered_rps,seconds,input_rows,wall_s,achieved_rps,"
            "mean_batch_s,max_batch_s,n_batches\n"
        )
        for r in rows:
            f.write(r + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
