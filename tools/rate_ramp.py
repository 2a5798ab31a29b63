"""Throughput of the streaming operators under a rate-driven load.

Each mode is a query, or a chain of queries, over Spark's ``rate``
source.  Every query starts through ``streaming._drain.start``, so a
new checkpoint gets the library's cap of one state partition per task
slot.  For each offered rate a mode runs for ``--seconds`` of wall
clock and is then stopped.  The progress events of its first query
give the rows it took in and its batch durations; the wall clock
starts before the first query does.  Two signals locate the knee of a
ramp: ``achieved_rps`` falling below ~0.9 x ``offered_rps`` (rows
queue in the source), and ``mean_batch_s`` growing with the rate
(batches take longer than the data they cover).  A step that achieves
under a quarter of its offer ends that mode's ramp.  A step that
completes no batch with data raises.

Modes (``keys`` = the mode's key cardinality, a constant):

- ``bucketed``, ``bucketed_heartbeats``: ``dp_histogram_stream`` on 8
  buckets over 1,000 power-law keys and 100,000 users, without and
  with the T4 heartbeat leg.
- ``stage2``: stage 2 of the per-key DP pipeline
  (``prev_epoch_counts_stream``, one Python group per user touched)
  over 50 keys and 400 users; an event's epoch is its wall second.
- ``keyed_stage23``: stages 2 and 3 of the per-key pipeline, chained
  through ``_drain.write_handoff`` / ``read_handoff``; rows are
  stage 2's.
- ``bloom_dedup``: ``bloom_dedup_stream`` over a 1M-document content
  universe, 64 bucket segments.
- ``session_windows``: ``session_stats_stream``, 50,000 users, 10 s
  gap, 5 s watermark.
- ``reservoir``: the k=5 min-hash reservoir (``reservoir_kmin_stream``)
  at 100 and 10,000 strata.
- ``decay``: a forward-decay leaderboard (a JVM streaming SUM, one
  double per key) at 10 and 10,000 keys.

Writes one CSV:
    mode,keys,offered_rps,seconds,input_rows,wall_s,achieved_rps,
    mean_batch_s,max_batch_s,n_batches

Usage:
  python tools/rate_ramp.py --out CSV [--modes stage2,decay,...]
      [--rates 20000,40000,80000,160000,320000] [--seconds 40]
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from confidential_storm_spark.operators.dp_batch import DPParams  # noqa: E402
from confidential_storm_spark.streaming._drain import (  # noqa: E402
    read_handoff,
    start,
    write_handoff,
)

BUCKETED_USERS = 100_000
# stage 2 runs one Python group per user touched in a batch, so the
# keyed modes bound the user cardinality
KEYED_USERS = 400
ZERO_NOISE = DPParams.zero_noise(t=100, mu=0)


def _rate(spark, rps: int):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rps)
        .option("numPartitions", 8)
        .load()
    )


def _contributions(spark, rps: int, keys: int, users: int):
    """The DP contribution relation in JVM column expressions: keys
    power-law (exponent 0.4) capped at ``keys``, users uniform, value
    1, epoch = the event's wall second (monotonic in the rate
    source)."""
    u = (F.pmod(F.xxhash64("value", F.lit(1)), F.lit(1 << 20)) + 1) / F.lit(float(1 << 20))
    return _rate(spark, rps).select(
        F.pmod(F.xxhash64("value"), F.lit(users)).cast("string").alias("user_id"),
        F.least(F.floor(F.pow(u, F.lit(-1.0 / 0.4))), F.lit(keys))
        .cast("string")
        .alias("key"),
        F.lit(1.0).alias("value"),
        (F.col("timestamp").cast("long") % 86400).cast("int").alias("epoch"),
    )


def _noop(df, mode: str = "update"):
    return df.writeStream.outputMode(mode).format("noop")


def bucketed(spark, rps, keys, workdir, heartbeats=False):
    from confidential_storm_spark.streaming.stateful import dp_histogram_stream

    events = _contributions(spark, rps, keys, BUCKETED_USERS)
    hb = None
    if heartbeats:
        # T4 dummy traffic: one null-key row per bucket per tick (explode
        # first: a generator cannot nest inside a cast)
        ticks = _rate(spark, 1).select(F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_b"))
        hb = ticks.select(
            F.col("_b").cast("int").alias("bucket"),
            *(F.lit(None).cast(f.dataType).alias(f.name) for f in events.schema.fields),
        )
    out = dp_histogram_stream(events, ZERO_NOISE, num_buckets=8, heartbeats=hb)
    return [start(_noop(out), f"{workdir}/ckpt")]


def stage2(spark, rps, keys, workdir):
    from confidential_storm_spark.streaming.keyed import prev_epoch_counts_stream

    out = prev_epoch_counts_stream(_contributions(spark, rps, keys, KEYED_USERS))
    return [start(_noop(out), f"{workdir}/ckpt")]


def keyed_stage23(spark, rps, keys, workdir):
    from confidential_storm_spark.streaming.keyed import (
        PREV_COUNTS_SCHEMA,
        dp_histogram_stream_keyed,
        prev_epoch_counts_stream,
    )

    prev = f"{workdir}/prev"
    os.makedirs(prev)
    q2 = start(
        prev_epoch_counts_stream(_contributions(spark, rps, keys, KEYED_USERS))
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: write_handoff(df, prev, bid)),
        f"{workdir}/ckpt2",
    )
    dp = dp_histogram_stream_keyed(read_handoff(spark, prev, PREV_COUNTS_SCHEMA), ZERO_NOISE)
    return [q2, start(_noop(dp), f"{workdir}/ckpt3")]


def bloom_dedup(spark, rps, keys, workdir):
    from confidential_storm_spark.streaming import bloom_dedup_stream

    docs = _rate(spark, rps).select(
        F.col("value").alias("doc_id"),
        F.concat(F.lit("document body "), (F.col("value") % keys).cast("string")).alias("text"),
    )
    out = bloom_dedup_stream(docs)
    return [start(_noop(out, "append"), f"{workdir}/ckpt")]


def session_windows(spark, rps, keys, workdir):
    from confidential_storm_spark.streaming import session_stats_stream

    ev = _rate(spark, rps).select(
        F.pmod(F.xxhash64("value"), F.lit(keys)).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.lit(1.0).alias("value"),
    )
    out = session_stats_stream(ev, gap="10 seconds", watermark_delay="5 seconds")
    return [start(_noop(out, "append"), f"{workdir}/ckpt")]


def reservoir(spark, rps, keys, workdir):
    from confidential_storm_spark.streaming.stateful import reservoir_kmin_stream

    docs = _rate(spark, rps).select(
        F.pmod(F.xxhash64("value"), F.lit(keys)).cast("string").alias("source"),
        F.col("value").alias("doc_id"),
    )
    out = reservoir_kmin_stream(docs)
    return [start(_noop(out), f"{workdir}/ckpt")]


def decay(spark, rps, keys, workdir):
    ev = _rate(spark, rps).select(
        F.pmod(F.xxhash64("value"), F.lit(keys)).cast("string").alias("event_type"),
        F.col("timestamp"),
    )
    # forward decay: the weight is a per-row constant at ingest, so the
    # decayed total is a commutative streaming SUM (the registry's
    # stream_decay_topk_replay shape, horizon pinned)
    age = F.datediff(F.lit("2030-01-01").cast("date"), F.to_date("timestamp"))
    w = F.pow(F.lit(2.0), -age.cast("double") / F.lit(30.0))
    out = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(w).alias("decayed")
    )
    return [start(_noop(out), f"{workdir}/ckpt")]


# (mode, keys, build): build(spark, rps, keys, workdir) starts the
# mode's queries and returns them, the measured one first
MODES = [
    ("bucketed", 1000, bucketed),
    ("bucketed_heartbeats", 1000, functools.partial(bucketed, heartbeats=True)),
    ("keyed_stage23", 50, keyed_stage23),
    ("stage2", 50, stage2),
    ("bloom_dedup", 1_000_000, bloom_dedup),
    ("session_windows", 50_000, session_windows),
    ("reservoir", 100, reservoir),
    ("reservoir", 10_000, reservoir),
    ("decay", 10, decay),
    ("decay", 10_000, decay),
]


def measure(spark, build, rps: int, keys: int, seconds: float) -> dict:
    """Run one step; raises if the measured query failed or completed
    no batch with data."""
    workdir = tempfile.mkdtemp(prefix="ramp_")
    t0 = time.time()
    queries = build(spark, rps, keys, workdir)
    # recentProgress keeps only the last 100 events, so poll it and key
    # the batches with data by id
    batches: dict = {}

    def poll():
        batches.update(
            (p["batchId"], p) for p in queries[0].recentProgress if p["numInputRows"] > 0
        )

    try:
        while (left := t0 + seconds - time.time()) > 0:
            time.sleep(min(left, 5.0))
            poll()
    finally:
        for q in queries:
            q.stop()
    wall = time.time() - t0
    shutil.rmtree(workdir, ignore_errors=True)
    for q in queries:
        q.awaitTermination()  # raises the query's failure, if any
    poll()
    if not batches:
        raise RuntimeError(f"no batch with data in {seconds} s at {rps} rows/s")
    rows = sum(p["numInputRows"] for p in batches.values())
    durs = [p["batchDuration"] / 1000.0 for p in batches.values()]
    parts = sorted(
        {op["numShufflePartitions"] for q in queries for p in q.recentProgress
         for op in p["stateOperators"]}
    )
    return {
        "input_rows": rows,
        "wall_s": round(wall, 2),
        "achieved_rps": round(rows / wall),
        "mean_batch_s": round(sum(durs) / len(durs), 2),
        "max_batch_s": round(max(durs), 2),
        "n_batches": len(batches),
        "state_partitions": parts,
    }


def main() -> None:
    names = list(dict.fromkeys(m for m, _, _ in MODES))
    ap = argparse.ArgumentParser()
    ap.add_argument("--modes", default=",".join(names), help=f"any of {names}")
    ap.add_argument("--rates", default="20000,40000,80000,160000,320000")
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    modes = args.modes.split(",")
    unknown = set(modes) - set(names)
    if unknown:
        ap.error(f"unknown modes {sorted(unknown)}")
    rates = [int(r) for r in args.rates.split(",")]

    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="csspark-rate-ramp")
    spark.range(1).count()

    cols = "offered_rps,seconds,input_rows,wall_s,achieved_rps,mean_batch_s,max_batch_s,n_batches"
    lines = [f"mode,keys,{cols}"]
    for mode, keys, build in (m for m in MODES if m[0] in modes):
        for rps in rates:
            m = measure(spark, build, rps, keys, args.seconds)
            m.update(offered_rps=rps, seconds=args.seconds)
            lines.append(",".join(str(v) for v in [mode, keys, *(m[c] for c in cols.split(","))]))
            print(
                f"# {mode} keys={keys} offered={rps}: achieved={m['achieved_rps']} rec/s, "
                f"mean_batch={m['mean_batch_s']}s max={m['max_batch_s']}s "
                f"({m['n_batches']} batches, state partitions {m['state_partitions']})",
                file=sys.stderr,
                flush=True,
            )
            if m["achieved_rps"] < 0.25 * rps:
                print("# deep saturation, stopping ramp", file=sys.stderr)
                break

    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
