"""Per-key streaming DP state (streaming/keyed.py) — the round-3
scale-hardening of the streaming path.

Covers the VERDICT r2 'done' criteria:
- zero-noise / mu-gate semantics match the per-bucket operator,
- checkpoint stop/restart recovery,
- state WRITE volume scales with keys touched per batch (state-store
  metrics), not keys held,
- hot-key state stays bounded: the DP state row for one key is the
  same size whether 10 or 10,000 users contribute (NO user ids in
  state — the one reference behavior NOT kept,
  StreamingDPMechanism.java:66's unbounded set).
"""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.operators.dp_batch import DPParams
from confidential_storm_spark.streaming._drain import run_available_now
from confidential_storm_spark.streaming.keyed import (
    dp_histogram_stream_keyed,
    run_keyed_dp_available_now,
)

SCHEMA = "user_id string, key string, value double, seq long"


def _write_batch(spark, src, rows, first=False):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite" if first else "append"
    ).parquet(src)


def _reader(spark, src):
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)


def _final_counts(batches):
    """(key -> count) at each key's LATEST emitted epoch."""
    latest: dict = {}
    for _, rows in batches:
        for r in rows:
            if r["key"] not in latest or r["epoch"] >= latest[r["key"]][0]:
                latest[r["key"]] = (r["epoch"], r["count"])
    return {k: c for k, (_, c) in latest.items()}


def test_keyed_zero_noise_carry_forward(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, [(f"u{i}", "hot", 1.0, i) for i in range(4)] + [("solo", "cold", 1.0, 99)], first=True)
    _write_batch(spark, src, [(f"u{i}", "hot", 1.0, 10 + i) for i in range(4, 6)])
    _write_batch(spark, src, [("x", "late", 1.0, 50)])
    res = run_keyed_dp_available_now(
        spark, _reader(spark, src), DPParams.zero_noise(t=10, mu=0),
        str(tmp_path / "wd"), SCHEMA,
    )
    assert _final_counts(res["batches"]) == {"hot": 6, "cold": 1, "late": 1}
    by_key_epoch = {
        (r["key"], r["epoch"]): r["count"] for _, rows in res["batches"] for r in rows
    }
    # epochs stamped from the batch id: hot released at 0 and updated at 1
    assert by_key_epoch[("hot", 0)] == 4 and by_key_epoch[("hot", 1)] == 6
    assert by_key_epoch[("cold", 0)] == 1 and by_key_epoch[("late", 2)] == 1


def test_keyed_mu_gate_counts_new_users_only(spark, tmp_path):
    """mu=5: 3 users at epoch 0 (held), 2 NEW + 2 REPEAT users at epoch
    1 -> 5 unique crosses the gate at epoch 1 with count = all 7
    contributions.  Repeat users counting as new would release with the
    wrong semantics; dropping prev-epoch tracking entirely would never
    release."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, [(f"u{i}", "k", 1.0, i) for i in range(3)], first=True)
    _write_batch(
        spark, src,
        [(f"u{i}", "k", 1.0, 10 + i) for i in range(3, 5)]
        + [("u0", "k", 1.0, 20), ("u1", "k", 1.0, 21)],
    )
    res = run_keyed_dp_available_now(
        spark, _reader(spark, src), DPParams.zero_noise(t=10, mu=5),
        str(tmp_path / "wd"), SCHEMA,
    )
    rows = [r for _, rs in res["batches"] for r in rs]
    assert all(r["epoch"] != 0 for r in rows)  # gate holds at epoch 0
    assert {(r["key"], r["epoch"], r["count"]) for r in rows} == {("k", 1, 7)}


def test_keyed_noisy_release_is_partition_invariant(spark, tmp_path):
    """With a fixed seed and non-zero noise, the released rows are the
    same at 1 and 4 state partitions: each key's noise is drawn from
    (seed, key, epoch), never from the state layout."""
    rng = np.random.default_rng(3)
    batches = [
        [(f"u{u}", f"k{rng.integers(6)}", 1.0, 100 * e + u) for u in range(40)]
        for e in range(3)
    ]
    p = DPParams(1.0, 2.0, 0.5, 10, 0, 32, seed=11)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)

    def released(parts):
        spark.conf.set(key, str(parts))
        try:
            src = str(tmp_path / f"src{parts}")
            for i, rows in enumerate(batches):
                _write_batch(spark, src, rows, first=i == 0)
            res = run_keyed_dp_available_now(
                spark, _reader(spark, src), p, str(tmp_path / f"wd{parts}"), SCHEMA
            )
        finally:
            spark.conf.set(key, prev)
        assert {pr["numShufflePartitions"] for pr in res["progress"]["dp"]} == {parts}
        return sorted(
            (r["key"], r["count"], r["epoch"]) for _, rows in res["batches"] for r in rows
        )

    one, four = released(1), released(4)
    assert one == four
    # the noise is real: some release is off its exact running total
    exact = [Counter(r[1] for rows in batches[: e + 1] for r in rows) for e in range(3)]
    assert one and any(c != exact[e][k] for k, c, e in one)


def test_keyed_unseeded_colliding_keys_draw_distinct_noise(spark, tmp_path):
    """seed=None, sigma > 0: two keys with the same crc32 ("plumless",
    "buckeroo"), new in the same batch, with the same true counts,
    release different noisy counts — each key's noise stream comes
    from a collision-resistant digest of the whole key."""
    import zlib

    a, b = "plumless", "buckeroo"
    assert zlib.crc32(a.encode()) == zlib.crc32(b.encode())
    src = str(tmp_path / "src")
    for e in range(3):
        rows = [(f"u{e}_{u}", k, 1.0, 100 * e + u) for u in range(50) for k in (a, b)]
        _write_batch(spark, src, rows, first=e == 0)
    res = run_keyed_dp_available_now(
        spark, _reader(spark, src), DPParams(1.0, 1000.0, 0.5, 10, 0, 32),
        str(tmp_path / "wd"), SCHEMA,
    )
    released = {a: [], b: []}
    for _, rows in res["batches"]:
        for r in rows:
            released[r["key"]].append((r["epoch"], r["count"]))
    assert released[a] and [e for e, _ in released[a]] == [e for e, _ in released[b]]
    # same true counts: identical noise would release identical series
    assert sorted(released[a]) != sorted(released[b])


def test_keyed_recovery_from_checkpoint(spark, tmp_path):
    """Stop after two epochs, deliver more data, re-run from the SAME
    workdir: per-key state (trees, round scalars) resumes and the final
    histogram equals an uninterrupted run."""
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    batches = [
        [(f"u{i}", "hot", 1.0, i) for i in range(4)],
        [("x1", "cold", 1.0, 10)],
        [(f"u{i}", "hot", 1.0, 20 + i) for i in range(4, 6)],
        [("x2", "cold", 1.0, 30), ("x3", "late", 1.0, 31)],
    ]
    p = DPParams.zero_noise(t=10, mu=0)
    _write_batch(spark, src, batches[0], first=True)
    _write_batch(spark, src, batches[1])
    res1 = run_keyed_dp_available_now(spark, _reader(spark, src), p, wd, SCHEMA)
    assert _final_counts(res1["batches"]) == {"hot": 4, "cold": 1}
    # "down": two more batches land, then the pipeline restarts
    _write_batch(spark, src, batches[2])
    _write_batch(spark, src, batches[3])
    res2 = run_keyed_dp_available_now(spark, _reader(spark, src), p, wd, SCHEMA)
    # epochs RESUMED (stamp checkpoint holds the batch counter)
    epochs2 = sorted({r["epoch"] for _, rows in res2["batches"] for r in rows})
    assert epochs2 == [2, 3]
    assert _final_counts(res2["batches"]) == {"hot": 6, "cold": 2, "late": 1}

    # uninterrupted twin
    src2, wd2 = str(tmp_path / "src2"), str(tmp_path / "wd2")
    for i, rows in enumerate(batches):
        _write_batch(spark, src2, rows, first=(i == 0))
    ref = run_keyed_dp_available_now(spark, _reader(spark, src2), p, wd2, SCHEMA)
    assert _final_counts(ref["batches"]) == {"hot": 6, "cold": 2, "late": 1}


def test_keyed_state_writes_scale_with_touched_keys(spark, tmp_path):
    """THE per-key property: batch 0 touches 30 keys, batch 1 touches 2
    -> the DP stage's state store updates 30 then 2 rows (it HOLDS 30
    throughout).  The per-bucket operator would rewrite its whole blob
    either way."""
    src = str(tmp_path / "src")
    _write_batch(
        spark, src, [(f"u{i}", f"k{i}", 1.0, i) for i in range(30)], first=True
    )
    _write_batch(spark, src, [("ux", "k0", 1.0, 100), ("uy", "k1", 1.0, 101)])
    res = run_keyed_dp_available_now(
        spark, _reader(spark, src), DPParams.zero_noise(t=10, mu=0),
        str(tmp_path / "wd"), SCHEMA,
    )
    dp_prog = [pr for pr in res["progress"]["dp"] if pr["numRowsUpdated"] > 0]
    assert [pr["numRowsUpdated"] for pr in dp_prog] == [30, 2]
    assert dp_prog[-1]["numRowsTotal"] == 30  # held, not rewritten
    prev_prog = [
        pr for pr in res["progress"]["prev_counts"] if pr["numRowsUpdated"] > 0
    ]
    assert [pr["numRowsUpdated"] for pr in prev_prog] == [30, 2]


def test_keyed_hot_key_state_is_bounded(spark, tmp_path):
    """10,000 users on ONE key: the DP state row stays the same size as
    a 10-user run (two O(T) trees + scalars — no user ids), and the
    mu-gate still counts unique users exactly."""
    src = str(tmp_path / "src")
    n = 10_000
    _write_batch(
        spark, src,
        [(f"u{i}", "hot", 1.0, i) for i in range(n)],
        first=True,
    )
    # epoch 1: 100 repeats + 5 new users; exact unique count = n + 5
    _write_batch(
        spark, src,
        [(f"u{i}", "hot", 1.0, n + i) for i in range(100)]
        + [(f"v{i}", "hot", 1.0, 2 * n + i) for i in range(5)],
    )
    res = run_keyed_dp_available_now(
        spark, _reader(spark, src),
        DPParams.zero_noise(t=10, mu=n + 5),  # gate crosses ONLY if repeats aren't double-counted...
        str(tmp_path / "wd"), SCHEMA,
    )
    rows = [r for _, rs in res["batches"] for r in rs]
    # unique users after epoch 1 = n + 5 == mu -> released exactly at epoch 1
    assert all(r["epoch"] != 0 for r in rows)
    assert {(r["key"], r["epoch"], r["count"]) for r in rows} == {("hot", 1, n + 105)}
    # DP state: exactly ONE row regardless of user count
    dp_prog = [pr for pr in res["progress"]["dp"] if pr["numRowsUpdated"] > 0]
    assert all(pr["numRowsUpdated"] == 1 for pr in dp_prog)
    assert dp_prog[-1]["numRowsTotal"] == 1


def test_keyed_silent_epoch_catch_up(spark, tmp_path):
    """A key absent for several epochs catches up deterministically:
    'hot' appears at epochs 0 and 3 (other keys drive epochs 1-2); its
    tree leaves land on the GLOBAL epoch indexes, so cumulative counts
    match the always-present twin."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, [("a", "hot", 1.0, 0), ("b", "other", 1.0, 1)], first=True)
    _write_batch(spark, src, [("c", "other", 1.0, 2)])
    _write_batch(spark, src, [("d", "other", 1.0, 3)])
    _write_batch(spark, src, [("e", "hot", 1.0, 4)])
    res = run_keyed_dp_available_now(
        spark, _reader(spark, src), DPParams.zero_noise(t=10, mu=0),
        str(tmp_path / "wd"), SCHEMA,
    )
    by_key_epoch = {
        (r["key"], r["epoch"]): r["count"] for _, rows in res["batches"] for r in rows
    }
    assert by_key_epoch[("hot", 0)] == 1
    assert by_key_epoch[("hot", 3)] == 2  # caught up through epochs 1-2
    assert by_key_epoch[("other", 2)] == 3


def test_keyed_late_epoch_folds_into_current_step(spark, tmp_path):
    """T5/T6 late partials: rows for an epoch the key already passed
    fold into the key's CURRENT step and the emitted row carries the
    processing step, not the stale epoch label."""
    prev_dir = str(tmp_path / "prev")
    rows0 = [("k", 2, 5.0, -1)]           # epoch 2 first (users new)
    rows1 = [("k", 0, 3.0, -1)]           # then a LATE epoch-0 partial
    from confidential_storm_spark.streaming.keyed import PREV_COUNTS_SCHEMA

    spark.createDataFrame(rows0, PREV_COUNTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(prev_dir)
    spark.createDataFrame(rows1, PREV_COUNTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(prev_dir)
    stream = (
        spark.readStream.schema(PREV_COUNTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(prev_dir)
    )
    out: list = []
    run_available_now(
        dp_histogram_stream_keyed(stream, DPParams.zero_noise(t=10, mu=0))
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out.append((bid, df.collect()))),
        str(tmp_path / "ckpt"),
    )
    rows = [(r["key"], r["count"], r["epoch"]) for _, rs in out for r in rs]
    # epoch 2 processed at step 2 (count 5); the late epoch-0 partial
    # folds into step 3 (cumulative 8) — NOT labeled epoch 0
    assert rows == [("k", 5, 2), ("k", 8, 3)]


def test_keyed_output_feeds_histogram_sink(spark, tmp_path):
    """End-to-end K1 composition: the per-key stream's update-mode
    output drives histogram_file_sink; multiple epochs of one key in a
    single batch upsert latest-epoch-wins, and carry-forward keys stay
    in the file."""
    from confidential_storm_spark.streaming.keyed import PREV_COUNTS_SCHEMA
    from confidential_storm_spark.streaming.sinks import histogram_file_sink

    prev_dir = str(tmp_path / "prev")
    # one file = one batch; the batch carries TWO epochs for "hot"
    rows0 = [("hot", 0, 4.0, -1), ("hot", 1, 2.0, -1), ("cold", 1, 1.0, -1)]
    rows1 = [("late", 2, 3.0, -1)]  # cold/hot silent; must carry forward
    spark.createDataFrame(rows0, PREV_COUNTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(prev_dir)
    spark.createDataFrame(rows1, PREV_COUNTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(prev_dir)
    stream = (
        spark.readStream.schema(PREV_COUNTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(prev_dir)
    )
    out_dir = str(tmp_path / "hist")
    run_available_now(
        dp_histogram_stream_keyed(stream, DPParams.zero_noise(t=10, mu=0))
        .writeStream.outputMode("update")
        .foreachBatch(histogram_file_sink(out_dir)),
        str(tmp_path / "ckpt"),
    )
    lines = open(f"{out_dir}/histogram.txt").read().splitlines()
    assert lines[1:] == ["hot:6", "late:3", "cold:1"]  # desc, latest epoch won


def test_keyed_event_time_epochs_match_batch(spark, tmp_path):
    """epoch_mode='event_time': the streaming keyed path derives
    epochs from the DATA (1-day tumbling windows since 2024-01-01,
    1-day watermark) — the same derivation as the batch path — so the
    same contributions produce IDENTICAL sigma=0 output through
    dp_histogram_batch and the 3-stage stream, and a row later than
    the watermark is dropped rather than folded into a wrong epoch."""
    import datetime as dt

    from confidential_storm_spark.operators.dp_batch import dp_histogram_batch

    def ts(day, hour=12):
        return dt.datetime(2024, 1, 1 + day, hour)

    ev_schema = "user_id string, key string, value double, event_time timestamp"
    # days 0..3, out of event-time order across files but inside the
    # 1-day watermark; same-user repeats within one day pre-sum
    file1 = [
        ("u1", "a", 1.0, ts(1)),
        ("u2", "a", 1.0, ts(0)),
        ("u1", "a", 1.0, ts(0, 8)),
        ("u3", "b", 1.0, ts(1)),
    ]
    file2 = [
        ("u2", "b", 1.0, ts(3)),
        ("u5", "a", 1.0, ts(2)),
    ]
    # late but within the watermark: at this batch the late-event
    # filter still holds the PREVIOUS batch's watermark (Jan 1 12:00),
    # so day 1 is open and u4 folds into the correct epoch
    file3 = [("u4", "a", 1.0, ts(1, 23))]
    # by the time file4 arrives the late-filter watermark is
    # Jan 3 12:00 (file2's advance, one batch behind) -> day 0's
    # window is closed and this straggler must be DROPPED
    dropped = ("u9", "a", 1.0, ts(0, 9))
    # heartbeat tick far ahead: advances the watermark so days 0..3
    # all emit during the availableNow drain (its own pending window
    # never closes, so it reaches no downstream stage)
    tick = ("hb", "hb", 0.0, ts(9))
    file4 = [dropped, tick]

    src = str(tmp_path / "src")
    import time

    for i, rows in enumerate([file1, file2, file3, file4]):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        time.sleep(0.1)  # distinct mtimes: file-source batch order

    reader = (
        spark.readStream.schema(ev_schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    res = run_keyed_dp_available_now(
        spark,
        reader,
        DPParams.zero_noise(t=10, mu=0),
        str(tmp_path / "wd"),
        ev_schema,
        epoch_mode="event_time",
    )
    emitted = [r for _, rows in res["batches"] for r in rows]
    # epochs are DATA-derived days since 2024-01-01, not batch ids
    assert {(r["key"], r["epoch"]) for r in emitted} == {
        ("a", 0), ("a", 1), ("a", 2), ("b", 1), ("b", 3)
    }

    batch_in = spark.createDataFrame(file1 + file2 + file3, ev_schema).withColumn(
        "epoch", F.datediff(F.col("event_time").cast("date"), F.lit("2024-01-01").cast("date"))
    )
    batch = {
        r["key"]: r["count"]
        for r in dp_histogram_batch(batch_in, DPParams.zero_noise(t=10, mu=0)).collect()
    }
    assert _final_counts(res["batches"]) == batch == {"a": 5, "b": 2}


def test_keyed_event_time_drops_pre_origin_windows(spark, tmp_path):
    """epoch_mode='event_time': a row dated before ``origin`` has a
    negative epoch; stamping drops it (the batch path's epoch range
    [0, T) ignores it too), so stage 3 never sees it and the rest of
    the release is unchanged."""
    import datetime as dt

    from confidential_storm_spark.operators.dp_batch import dp_histogram_batch

    ev_schema = "user_id string, key string, value double, event_time timestamp"
    rows = [
        ("u0", "pre", 1.0, dt.datetime(2023, 12, 30, 12)),
        ("u1", "a", 1.0, dt.datetime(2024, 1, 1, 12)),
        ("u2", "a", 1.0, dt.datetime(2024, 1, 2, 12)),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ev_schema).coalesce(1).write.parquet(src)
    # heartbeat tick far ahead: every real window closes in the drain
    spark.createDataFrame(
        [("hb", "hb", 0.0, dt.datetime(2024, 1, 10))], ev_schema
    ).coalesce(1).write.mode("append").parquet(src)
    reader = spark.readStream.schema(ev_schema).option("maxFilesPerTrigger", 1).parquet(src)
    p = DPParams.zero_noise(t=10, mu=0)
    res = run_keyed_dp_available_now(
        spark, reader, p, str(tmp_path / "wd"), ev_schema, epoch_mode="event_time"
    )
    batch_in = spark.createDataFrame(rows, ev_schema).withColumn(
        "epoch", F.datediff(F.col("event_time").cast("date"), F.lit("2024-01-01").cast("date"))
    )
    batch = {r["key"]: r["count"] for r in dp_histogram_batch(batch_in, p).collect()}
    assert _final_counts(res["batches"]) == batch == {"a": 2}


def test_keyed_pipeline_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state backend: HDFSBackedStateStore holds every
    state row on the JVM heap, so a 1M-key DP state store is
    memory-bound; RocksDBStateStoreProvider (bundled with Spark) spills
    to local disk and is the production choice.  The keyed pipeline's
    packed binary state rows must behave identically on both — run the
    carry-forward workload on each provider and compare outputs."""
    rows1 = [(f"u{i}", "hot", 1.0, i) for i in range(4)] + [("solo", "cold", 1.0, 99)]
    rows2 = [(f"u{i}", "hot", 1.0, 10 + i) for i in range(4, 6)]

    def run(workdir):
        src = f"{workdir}/src"
        _write_batch(spark, src, rows1, first=True)
        _write_batch(spark, src, rows2)
        res = run_keyed_dp_available_now(
            spark, _reader(spark, src), DPParams.zero_noise(t=10, mu=0),
            f"{workdir}/wd", SCHEMA,
        )
        return _final_counts(res["batches"])

    default = run(str(tmp_path / "default"))

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks = run(str(tmp_path / "rocks"))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    assert default == rocks == {"hot": 6, "cold": 1}
