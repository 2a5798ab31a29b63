"""Structured Streaming stateful-operator tests.

Each test writes N parquet files into a temp dir and streams them with
``maxFilesPerTrigger=1`` so one file == one micro-batch == one DP
epoch, mirroring the reference's tick/epoch semantics (SURVEY §2.9
T1-T3).  Results are gathered via foreachBatch into a driver list.
"""

import pickle
import tempfile

import pytest

from confidential_storm_spark.operators.dp_batch import DPParams
from confidential_storm_spark.streaming import (
    bound_contributions_stream,
    dp_histogram_stream,
    replay_filter_stream,
)
from confidential_storm_spark.streaming._drain import run_available_now, start


def _run_stream(stream_df, out: list, mode: str = "update"):
    """Drain ``stream_df`` into ``out`` as (batch_id, rows) pairs and
    return the terminated query."""
    with tempfile.TemporaryDirectory() as ckpt:
        return run_available_now(
            stream_df.writeStream.outputMode(mode).foreachBatch(
                lambda df, bid: out.append((bid, df.collect()))
            ),
            ckpt,
        )


def _write_batches(spark, tmpdir, batches, schema):
    src = str(tmpdir / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    return src


@pytest.fixture()
def stream_reader(spark, tmp_path):
    def make(batches, schema):
        src = _write_batches(spark, tmp_path, batches, schema)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    return make


SCHEMA = "user_id string, key string, value double, seq long"


def test_streaming_dp_zero_noise_carry_forward(stream_reader):
    batches = [
        [(f"u{i}", "hot", 1.0, i) for i in range(4)] + [("solo", "cold", 1.0, 99)],
        [(f"u{i}", "hot", 1.0, 10 + i) for i in range(4, 6)],
        [("x", "late", 1.0, 50)],
    ]
    stream = stream_reader(batches, SCHEMA)
    out: list = []
    _run_stream(
        dp_histogram_stream(stream, DPParams.zero_noise(t=10, mu=0), num_buckets=1), out
    )
    # batches arrive as separate epochs; final epoch's histogram is
    # cumulative with carry-forward (cold released in epoch 0 persists)
    final = {r["key"]: r["count"] for _, rows in out for r in rows if rows}
    assert final == {"hot": 6, "cold": 1, "late": 1}
    epochs = sorted({r["epoch"] for _, rows in out for r in rows})
    assert epochs == [0, 1, 2]


def test_streaming_dp_mu_gate(stream_reader):
    # 3 users in batch 0 (below mu=5), 2 more in batch 1 -> released at epoch 1
    batches = [
        [(f"u{i}", "k", 1.0, i) for i in range(3)],
        [(f"u{i}", "k", 1.0, 10 + i) for i in range(3, 5)],
    ]
    stream = stream_reader(batches, SCHEMA)
    out: list = []
    _run_stream(
        dp_histogram_stream(stream, DPParams.zero_noise(t=10, mu=5), num_buckets=1), out
    )
    by_epoch = {}
    for _, rows in out:
        for r in rows:
            by_epoch.setdefault(r["epoch"], {})[r["key"]] = r["count"]
    assert 0 not in by_epoch or "k" not in by_epoch.get(0, {})
    assert by_epoch[1]["k"] == 5


def test_streaming_bounding_across_batches(stream_reader):
    batches = [
        [("u1", "a", 1.0, i) for i in range(3)] + [(None, "a", 1.0, 50)],
        [("u1", "a", 1.0, 10 + i) for i in range(3)] + [("u2", "a", 1.0, 99)],
    ]
    stream = stream_reader(batches, SCHEMA)
    out: list = []
    _run_stream(
        bound_contributions_stream(stream, max_contributions=4, order_cols=("seq",)),
        out,
        mode="append",
    )
    rows = [r for _, batch in out for r in batch]
    u1 = sorted(r["seq"] for r in rows if r["user_id"] == "u1")
    assert u1 == [0, 1, 2, 10]  # first 4 across batches, in seq order
    assert [r["seq"] for r in rows if r["user_id"] == "u2"] == [99]
    assert [r["seq"] for r in rows if r["user_id"] is None] == [50]  # NULLs pass


def test_available_now_timeout_stops_query(spark, stream_reader, tmp_path):
    """A stage that outlives its wait is stopped and raises, instead of
    being taken as finished while it still writes its handoff."""
    before = {q.id for q in spark.streams.active}
    stream = stream_reader([[("u1", "a", 1.0, i)] for i in range(3)], SCHEMA)
    writer = stream.writeStream.foreachBatch(lambda df, bid: df.collect())
    with pytest.raises(TimeoutError):
        run_available_now(writer, str(tmp_path / "ckpt"), timeout_s=0.001)
    assert {q.id for q in spark.streams.active} == before


def test_available_now_caps_new_state_partitions(spark, tmp_path):
    """A new checkpoint starts with one state partition per task slot,
    the session keeps its own setting, and a checkpoint started at a
    larger count resumes with that count and the same results."""
    key = "spark.sql.shuffle.partitions"
    slots = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "src")

    def write(lo, hi):
        spark.range(lo, hi).selectExpr("id % 5 AS k").write.mode("append").parquet(src)

    def counts_writer(out: dict):
        return (
            spark.readStream.schema("k long").parquet(src).groupBy("k").count()
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: out.update({r.k: r["count"] for r in df.collect()}))
        )

    def state_partitions(q):
        return {
            p["stateOperators"][0]["numShufflePartitions"]
            for p in q.recentProgress
            if p["stateOperators"]
        }

    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        write(0, 40)
        capped: dict = {}
        q = run_available_now(counts_writer(capped), str(tmp_path / "new"))
        assert state_partitions(q) == {slots} and slots < 8
        assert spark.conf.get(key) == "8"

        old, direct = str(tmp_path / "old"), {}
        q = (
            counts_writer(direct)
            .option("checkpointLocation", old)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert state_partitions(q) == {8}

        write(40, 100)
        q = run_available_now(counts_writer(direct), old)
        assert state_partitions(q) == {8}
        q = run_available_now(counts_writer(capped), str(tmp_path / "new"))
        assert state_partitions(q) == {slots}
        assert capped == direct == {k: 20 for k in range(5)}
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, prev)


def test_started_run_caps_state_partitions(spark, tmp_path):
    """A query that is not availableNow (here the default
    processing-time trigger, as in the rate-driven tools) started
    through ``_drain.start`` gets the same one-state-partition-per-slot
    cap, and the session keeps its own setting."""
    key = "spark.sql.shuffle.partitions"
    slots = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "src")
    spark.range(40).selectExpr("id % 5 AS k").write.parquet(src)
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        q = start(
            spark.readStream.schema("k long").parquet(src).groupBy("k").count()
            .writeStream.outputMode("update").format("noop"),
            str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        parts = {
            op["numShufflePartitions"] for p in q.recentProgress for op in p["stateOperators"]
        }
        assert parts == {slots} and slots < 8
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, prev)


def test_streaming_replay_window(stream_reader):
    batches = [
        # batch 0: out-of-order within window accepted once, dup rejected
        [("p", "k", 1.0, s) for s in [5, 3, 3, 7, 6, 4]],
        # batch 1: replay of 5 rejected; 8 accepted; jump to 200 clears
        [("p", "k", 1.0, s) for s in [5, 8, 200]],
        # batch 2: 72 == 200-128 too old; 150/199 in-window; 200 dup
        [("p", "k", 1.0, s) for s in [72, 150, 199, 200]],
    ]
    stream = stream_reader(batches, SCHEMA)
    out: list = []
    _run_stream(
        replay_filter_stream(stream, producer_col="user_id", order_col="seq"),
        out,
        mode="append",
    )
    accepted = sorted(r["seq"] for _, batch in out for r in batch)
    assert accepted == [3, 4, 5, 6, 7, 8, 150, 199, 200]


def test_replay_window_unit_cases():
    """ReplayWindowTest.java:16-98 cases on the pure function."""
    from confidential_storm_spark.functions.replay import ReplayWindow

    w = ReplayWindow(128)
    assert w.accept(0) is True  # first
    assert w.accept(0) is False  # duplicate
    assert w.accept(-1) is False  # negative
    assert w.accept(5) is True
    assert w.accept(3) is True  # out-of-order within window
    assert w.accept(3) is False  # duplicate within window
    w2 = ReplayWindow(128)
    assert w2.accept(1000) is True
    assert w2.accept(1000 - 128) is False  # at lower boundary: too old
    assert w2.accept(1000 - 127) is True  # just inside window
    assert w2.accept(5000) is True  # forward jump > window clears history
    assert w2.accept(4999) is True  # new window position accepted
    assert w2.accept(1000) is False  # far below new window


def test_mechanism_state_pickles():
    from confidential_storm_spark.dp.mechanism import StreamingDPMechanism

    m = StreamingDPMechanism(1.0, 2.0, 4.26, 10, 0, 32, seed=3)
    m.add_contribution("u", "k", 1.0)
    m.snapshot()
    m2 = pickle.loads(pickle.dumps(m))
    m.add_contribution("u2", "k", 1.0)
    m2.add_contribution("u2", "k", 1.0)
    assert m.snapshot() == m2.snapshot()


def test_streaming_dp_recovery_from_checkpoint(spark, tmp_path):
    """T11 'strictly stronger than ack/fail' with evidence: stop a
    checkpointed dp_histogram_stream after two epochs, deliver more
    data, restart from the SAME checkpoint — state (trees, rounds,
    epoch counter) resumes and the final histogram equals an
    uninterrupted run over the same batches."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    batches = [
        [(f"u{i}", "hot", 1.0, i) for i in range(4)],
        [("x1", "cold", 1.0, 10)],
        [(f"u{i}", "hot", 1.0, 20 + i) for i in range(4, 6)],
        [("x2", "cold", 1.0, 30), ("x3", "late", 1.0, 31)],
    ]

    def write(i):
        spark.createDataFrame(batches[i], SCHEMA).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)

    def reader():
        return (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        )

    def drain(out):
        stream = dp_histogram_stream(
            reader(), DPParams.zero_noise(t=10, mu=0), num_buckets=1
        )
        run_available_now(
            stream.writeStream.outputMode("update").foreachBatch(
                lambda df, bid: out.append((bid, df.collect()))
            ),
            ckpt,
        )

    # phase 1: two epochs, then the query stops (availableNow drains)
    write(0); write(1)
    out1: list = []
    drain(out1)
    # phase 2: more data arrives while "down"; restart from checkpoint
    write(2); write(3)
    out2: list = []
    drain(out2)

    final = {r["key"]: r["count"] for _, rows in out2 for r in rows}
    epochs1 = sorted({r["epoch"] for _, rows in out1 for r in rows})
    epochs2 = sorted({r["epoch"] for _, rows in out2 for r in rows})
    assert epochs1 == [0, 1]
    assert epochs2 == [2, 3]  # epoch counter RESUMED, not reset

    # uninterrupted twin over the same four batches
    src2 = str(tmp_path / "src2")
    for i in range(4):
        spark.createDataFrame(batches[i], SCHEMA).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src2)
    ref_stream = dp_histogram_stream(
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src2),
        DPParams.zero_noise(t=10, mu=0),
        num_buckets=1,
    )
    ref_out: list = []
    _run_stream(ref_stream, ref_out)
    ref_final = {r["key"]: r["count"] for _, rows in ref_out for r in rows}
    assert final == ref_final == {"hot": 6, "cold": 2, "late": 1}


def test_streaming_dp_heartbeat_ticks_silent_buckets(spark, tmp_path):
    """T4 dummy traffic: heartbeat rows (explicit bucket, null key)
    unioned via the ``heartbeats`` leg make a bucket with NO data
    advance its epoch and re-emit carry-forward each tick — exact tick
    parity with the reference's dummy-traffic topologies."""
    data_src, hb_src = str(tmp_path / "data"), str(tmp_path / "hb")
    spark.createDataFrame(
        [("u1", "k", 1.0, 0), ("u2", "k", 1.0, 1)], SCHEMA
    ).coalesce(1).write.parquet(data_src)
    hb_schema = "bucket int, user_id string, key string, value double, seq long"
    # three heartbeat files == three ticks for bucket 0 (data only in tick 0)
    for i in range(3):
        spark.createDataFrame([(0, None, None, None, None)], hb_schema).coalesce(
            1
        ).write.mode("append" if i else "overwrite").parquet(hb_src)
    events = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(data_src)
    )
    heartbeats = (
        spark.readStream.schema(hb_schema).option("maxFilesPerTrigger", 1).parquet(hb_src)
    )
    out: list = []
    _run_stream(
        dp_histogram_stream(
            events, DPParams.zero_noise(t=10, mu=0), num_buckets=1, heartbeats=heartbeats
        ),
        out,
    )
    by_epoch = {}
    for _, rows in out:
        for r in rows:
            by_epoch.setdefault(r["epoch"], {})[r["key"]] = r["count"]
    # heartbeat-only ticks advanced epochs 1 and 2 with carried state
    assert by_epoch == {0: {"k": 2}, 1: {"k": 2}, 2: {"k": 2}}


DOC_SCHEMA = "doc_id long, text string"


def test_streaming_dedup_drops_cross_batch_duplicates(stream_reader):
    from confidential_storm_spark.streaming import dedup_stream

    batches = [
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        [(4, "alpha beta"), (5, "epsilon zeta")],
        [(6, "gamma delta"), (7, "eta theta")],
    ]
    out: list = []
    _run_stream(dedup_stream(stream_reader(batches, DOC_SCHEMA)), out, mode="append")
    emitted = sorted(r["doc_id"] for _, rows in out for r in rows)
    # one survivor per distinct text, first occurrence wins, state
    # persists across micro-batches
    assert emitted == [1, 2, 5, 7]


DOC_TS_SCHEMA = "doc_id long, text string, ts timestamp"


def test_streaming_dedup_watermark_dedups_within_horizon(stream_reader):
    """Watermark form: same-content rows at DIFFERENT event times inside
    the horizon are still dropped (dropDuplicatesWithinWatermark keyed
    on the digest alone); once the watermark passes a digest its state
    is evicted and the content can be emitted again."""
    import datetime as dt

    from confidential_storm_spark.streaming import dedup_stream

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    batches = [
        # doc 2 is a dup of doc 1 at a different event time, 5 s later —
        # inside the 10 s horizon, so it must be dropped
        [(1, "alpha beta", t(0)), (2, "alpha beta", t(5))],
        # advances the watermark (to 90 s as of the NEXT batch)
        [(3, "new content", t(100))],
        # runs with watermark 90 s; the expired "alpha beta" state
        # (expires at 0+10 s) is evicted when this batch commits
        [(9, "filler", t(110))],
        # same content far past the horizon, state evicted: emitted again
        [(4, "alpha beta", t(120))],
    ]
    out: list = []
    _run_stream(
        dedup_stream(
            stream_reader(batches, DOC_TS_SCHEMA), watermark=("ts", "10 seconds")
        ),
        out,
        mode="append",
    )
    emitted = sorted(r["doc_id"] for _, rows in out for r in rows)
    assert emitted == [1, 3, 4, 9]


def test_streaming_curation_filter(stream_reader):
    """Stateless quality predicates + stateful dedup on a live stream:
    short / non-alpha / repetitive docs drop at the gate, cross-batch
    exact dups drop at the digest store, survivors keep their schema."""
    from confidential_storm_spark.streaming import curation_filter_stream

    good = (
        "the quick brown fox jumps over that lazy dog near an order of owls "
        "and then runs far away into one green forest table where many small "
        "animals live happily together under big trees beside quiet rivers "
        "watching bright stars"
    )
    batches = [
        [(1, good), (2, "too short"), (3, "za " * 120)],  # 3: dup-word frac 1
        [(4, good), (5, good + " fresh tail of extra words here")],
    ]
    out: list = []
    _run_stream(
        curation_filter_stream(stream_reader(batches, DOC_SCHEMA)),
        out,
        mode="append",
    )
    emitted = sorted(r["doc_id"] for _, rows in out for r in rows)
    # 2 fails min_tokens/min_chars, 3 fails dup_word_frac, 4 is an
    # exact dup of 1 from the previous micro-batch
    assert emitted == [1, 5]


def test_streaming_windowed_agg_with_watermark_append(stream_reader):
    """T3/T12 streaming twin of q_event_windows: event-time tumbling
    windows + watermark in APPEND mode — a window is emitted exactly
    once, only after the watermark passes its end, and late data
    beyond the horizon is dropped."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    batches = [
        [(1, "a", t(1)), (2, "a", t(8)), (3, "b", t(4))],  # window [0,10)
        [(4, "a", t(25))],  # advances the watermark to 20s (as of the NEXT batch)
        [(9, "a", t(35))],  # runs AT wm=20: [0,10) finalizes and is evicted
        # far beyond the horizon (wm=20 when this arrives): must be
        # dropped, and in append mode must NOT resurrect the already
        # emitted [0,10) window
        [(5, "a", t(3))],
        [(6, "a", t(45))],  # wm -> 40: [20,30) and [30,40) finalize
    ]
    stream = stream_reader(batches, "event_id long, k string, ts timestamp")
    windowed = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "10 seconds"), F.col("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "k", "n")
    )
    out: list = []
    _run_stream(windowed, out, mode="append")
    rows = sorted(
        ((r["ws"].second + r["ws"].minute * 60, r["k"], r["n"]) for _, b in out for r in b)
    )
    # every window appears exactly once; the late event 5 is nowhere
    assert rows == [(0, "a", 2), (0, "b", 1), (20, "a", 1), (30, "a", 1)]


def test_streaming_bloom_dedup_flags_cross_batch(stream_reader):
    """Blocked-Bloom streaming dedup: duplicates are flagged in-batch
    and across micro-batches, flags match a bit-exact python replica
    of the same blocked filter, and state is bounded by the bucket
    count (one fixed-size segment per touched bucket)."""
    import hashlib

    from confidential_storm_spark.streaming import bloom_dedup_stream

    N_BUCKETS, K, M = 8, 4, 1 << 10
    batches = [
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        [(4, "alpha beta"), (5, "epsilon zeta")],
        [(6, "gamma delta"), (7, "eta theta"), (8, "epsilon zeta")],
    ]

    out: list = []
    stream = bloom_dedup_stream(
        stream_reader(batches, DOC_SCHEMA),
        n_buckets=N_BUCKETS,
        k=K,
        m_per_bucket=M,
        order_col="doc_id",
    )
    q = _run_stream(stream, out, mode="append")

    flags = {r["doc_id"]: r["maybe_dup"] for _, rows in out for r in rows}
    assert len(flags) == 8  # flag-don't-drop: every row is emitted

    # bit-exact replica: blocked filter with the same md5 positions,
    # rows in doc_id order (the pinned order_col)
    segments = {b: bytearray(M // 8) for b in range(N_BUCKETS)}
    expect = {}
    for doc_id, text in sorted(r for b in batches for r in b):
        dg = hashlib.md5(text.encode()).hexdigest()
        bucket = int(hashlib.md5(f"bucket:{dg}".encode()).hexdigest()[:8], 16) % N_BUCKETS
        seen = True
        for j in range(K):
            p = int(hashlib.md5(f"{j}:{dg}".encode()).hexdigest()[:8], 16) % M
            if not (segments[bucket][p >> 3] >> (p & 7)) & 1:
                seen = False
                segments[bucket][p >> 3] |= 1 << (p & 7)
        expect[doc_id] = seen
    assert flags == expect
    # the guaranteed flags regardless of FP luck: true dups always flag
    assert flags[3] and flags[4] and flags[6] and flags[8]

    # bounded state: one row per touched bucket, never per document
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert progresses
    assert all(
        p["stateOperators"][0]["numRowsTotal"] <= N_BUCKETS for p in progresses
    )


def test_streaming_session_window_merges_and_finalizes(stream_reader):
    """Native session_window sessions: events within the gap MERGE into
    one session (across micro-batches), distinct users / far-apart
    events split, and append mode emits a session only once the
    watermark passes its end — matching the batch sessionizer's
    aggregates on the same data (no exact-boundary gaps)."""
    import datetime as dt

    from confidential_storm_spark.streaming import session_stats_stream

    t = lambda m: dt.datetime(2026, 2, 1, 12, 0, 0) + dt.timedelta(minutes=m)
    SCHEMA_S = "user_id long, ts timestamp, value double"
    batches = [
        # u1 session A: 3 events spanning two micro-batches (gaps < 10m)
        [(1, t(0), 1.0), (1, t(5), 2.0), (2, t(0), 5.0)],
        [(1, t(12), 4.0)],
        # u1 session B starts 30m after A's last event (> 10m gap)
        [(1, t(42), 8.0)],
        # watermark flusher: far-future event closes everything above
        [(9, t(600), 0.0)],
    ]
    out: list = []
    stream = session_stats_stream(
        stream_reader(batches, SCHEMA_S), gap="10 minutes", watermark_delay="5 minutes"
    )
    _run_stream(stream, out, mode="append")
    rows = sorted(
        ((r.user_id, r.n_events, r.sum_value) for _, rs in out for r in rs)
    )
    # u9's flusher session is still open at stream end (append holds it)
    assert rows == [(1, 1, 8.0), (1, 3, 7.0), (2, 1, 5.0)]
    # session bounds: [first, last + gap)
    sess = {
        (r.user_id, r.n_events): (r.session_start, r.session_end)
        for _, rs in out
        for r in rs
    }
    start, end = sess[(1, 3)]
    assert start == t(0) and end == t(22)  # 12m last event + 10m gap


def test_streaming_hll_matches_batch_sketch(stream_reader, spark):
    """Chained stateful aggregations (Spark 4): per-window HLL distinct
    users on a stream — append emits each window once the watermark
    closes it, and the estimate is BIT-IDENTICAL to the batch
    hll_distinct over the same window's rows (same md5 register
    math)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.sketches import hll_distinct
    from confidential_storm_spark.streaming import hll_distinct_stream

    t = lambda s: dt.datetime(2026, 3, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    SCHEMA_H = "user_id long, event_type string, ts timestamp"
    # window 0: minute [00:00, 00:01) with overlap across micro-batches;
    # window 1: [00:01, 00:02); flusher closes both
    batches = [
        [(i, "view", t(i % 50)) for i in range(400)],
        [(i, "view", t(i % 50)) for i in range(200, 700)]
        + [(i, "click", t(i % 50)) for i in range(100)],
        [(i, "view", t(70 + i % 20)) for i in range(150)],
        [(0, "view", t(600))],  # watermark flusher
    ]
    out: list = []
    stream = hll_distinct_stream(
        stream_reader(batches, SCHEMA_H),
        "user_id",
        ["event_type"],
        window="1 minute",
        watermark_delay="30 seconds",
    )
    _run_stream(stream, out, mode="append")
    got = {
        (r.window_start, r.event_type): r.approx_distinct
        for _, rows in out
        for r in rows
    }
    # batch twin over the same window slices
    all_rows = [r for b in batches for r in b]
    df = spark.createDataFrame(all_rows, SCHEMA_H)
    for (w0, w1) in (((0, 60)), ((60, 120))):
        sl = df.filter((F.col("ts") >= t(w0)) & (F.col("ts") < t(w1)))
        want = {
            r.event_type: r.approx_distinct
            for r in hll_distinct(sl, ["event_type"], "user_id").collect()
        }
        for etype, est in want.items():
            assert got[(t(w0), etype)] == est, (w0, etype)
    # sanity: estimates near truth (700 viewers, 100 clickers in w0)
    assert abs(got[(t(0), "view")] - 700) / 700 < 0.05
    assert abs(got[(t(0), "click")] - 100) / 100 < 0.06


def test_streaming_quantiles_match_batch_sketch(stream_reader, spark):
    """Per-window histogram-quantile estimates on a stream: bounded
    state (<= n_buckets counts per window), append emits each window
    once closed, and every (window, q) estimate is BIT-IDENTICAL to
    the batch histogram_quantiles over that window's rows (integer
    sketch + one final division — partition/micro-batch-order
    invariant)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.sketches import histogram_quantiles
    from confidential_storm_spark.streaming import histogram_quantiles_stream

    t = lambda s: dt.datetime(2026, 3, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    SCHEMA_Q = "value double, ts timestamp"
    rng = __import__("numpy").random.default_rng(21)
    # two windows with cross-batch overlap; skewed values
    vals_w0 = [float(v) for v in rng.gamma(2.0, 60.0, size=900)]
    vals_w1 = [float(v) for v in rng.gamma(3.0, 40.0, size=500)]
    batches = [
        [(v, t(int(i % 50))) for i, v in enumerate(vals_w0[:400])],
        [(v, t(int(i % 50))) for i, v in enumerate(vals_w0[400:])]
        + [(v, t(60 + int(i % 20))) for i, v in enumerate(vals_w1[:200])],
        [(v, t(60 + int(i % 20))) for i, v in enumerate(vals_w1[200:])],
        [(0.0, t(600))],  # watermark flusher
    ]
    QS = (0.25, 0.5, 0.9)
    out: list = []
    stream = histogram_quantiles_stream(
        stream_reader(batches, SCHEMA_Q),
        "value",
        qs=QS,
        lo=0,
        width=10,
        n_buckets=64,
        window="1 minute",
        watermark_delay="30 seconds",
    )
    _run_stream(stream, out, mode="append")
    got = {
        (r.window_start, r.q): r.est for _, rows in out for r in rows
    }
    assert got, "stream emitted nothing"
    all_rows = [r for b in batches for r in b]
    df = spark.createDataFrame(all_rows, SCHEMA_Q)
    for (w0, w1) in ((0, 60), (60, 120)):
        sl = df.filter((F.col("ts") >= t(w0)) & (F.col("ts") < t(w1)))
        want = {
            r.q: r.est
            for r in histogram_quantiles(sl, "value", qs=QS, lo=0, width=10).collect()
        }
        for qq, est in want.items():
            assert got[(t(w0), qq)] == est, (w0, qq, got[(t(w0), qq)], est)


def test_streaming_quantiles_per_key(stream_reader, spark):
    """key_cols: per-(window, key) quantiles, each bit-identical to the
    batch sketch over that slice."""
    import datetime as dt

    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.sketches import histogram_quantiles
    from confidential_storm_spark.streaming import histogram_quantiles_stream

    t = lambda s: dt.datetime(2026, 3, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    SCHEMA_K = "etype string, value double, ts timestamp"
    rng = __import__("numpy").random.default_rng(33)
    batches = [
        [("view", float(v), t(int(i % 50))) for i, v in enumerate(rng.gamma(2.0, 50.0, 300))]
        + [("click", float(v), t(int(i % 50))) for i, v in enumerate(rng.gamma(5.0, 20.0, 200))],
        [("view", float(v), t(int(i % 50))) for i, v in enumerate(rng.gamma(2.0, 50.0, 250))],
        [(("view"), 0.0, t(600))],  # flusher
    ]
    out: list = []
    stream = histogram_quantiles_stream(
        stream_reader(batches, SCHEMA_K),
        "value",
        qs=(0.5, 0.9),
        window="1 minute",
        watermark_delay="30 seconds",
        key_cols=["etype"],
    )
    _run_stream(stream, out, mode="append")
    got = {(r.etype, r.q): r.est for _, rows in out for r in rows if r.window_start == t(0)}
    all_rows = [r for b in batches[:2] for r in b]
    df = spark.createDataFrame(all_rows, SCHEMA_K)
    for etype in ("view", "click"):
        sl = df.filter(F.col("etype") == etype)
        want = {r.q: r.est for r in histogram_quantiles(sl, "value", qs=(0.5, 0.9)).collect()}
        for qq, est in want.items():
            assert got[(etype, qq)] == est, (etype, qq)


def test_streaming_vocab_kl_drift(stream_reader, spark):
    """Per-window KL drift vs a fixed hashed reference: a window drawn
    from the reference distribution scores near zero; a shifted window
    scores clearly higher; and both match a pure-python replay of the
    same smoothed-bin KL formula to 1e-6."""
    import datetime as dt
    import hashlib
    import math
    import re

    from confidential_storm_spark.streaming import hashed_ref_probs, vocab_kl_stream

    t = lambda s: dt.datetime(2026, 3, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    SCHEMA_T = "text string, ts timestamp"
    B, ALPHA = 256, 0.5
    rng = __import__("numpy").random.default_rng(8)
    base_vocab = [f"tok{i}" for i in range(300)]
    base_p = rng.dirichlet(__import__("numpy").ones(300) * 0.5)

    def doc(vocab, p, n=30):
        return " ".join(rng.choice(vocab, size=n, p=p))

    ref_texts = [doc(base_vocab, base_p) for _ in range(400)]
    ref = hashed_ref_probs(ref_texts, n_bins=B, alpha=ALPHA)

    # window 0: same distribution; window 1: heavy novel-token mix
    shift_vocab = base_vocab[:150] + [f"new{i}" for i in range(150)]
    w0 = [(doc(base_vocab, base_p), t(i % 50)) for i in range(120)]
    w1 = [(doc(shift_vocab, base_p), t(60 + i % 20)) for i in range(120)]
    batches = [w0[:70], w0[70:] + w1[:50], w1[50:], [("flush", t(600))]]

    out: list = []
    stream = vocab_kl_stream(
        stream_reader(batches, SCHEMA_T),
        "text",
        ref,
        alpha=ALPHA,
        window="1 minute",
        watermark_delay="30 seconds",
    )
    _run_stream(stream, out, mode="append")
    got = {r.window_start: (r.n_tokens, r.kl) for _, rows in out for r in rows}
    assert t(0) in got and t(60) in got

    # pure-python replay of the same formula
    def expected(texts):
        counts = [0] * B
        n = 0
        for txt in texts:
            for wd in re.split(r"\W+", txt.lower()):
                if wd:
                    counts[int(hashlib.md5(wd.encode()).hexdigest()[:8], 16) % B] += 1
                    n += 1
        denom = n + ALPHA * B
        kl = 0.0
        for c, qq in zip(counts, ref):
            p = (c + ALPHA) / denom
            kl += p * math.log(p / qq)
        return n, kl

    for wstart, texts in ((t(0), [x for x, _ in w0]), (t(60), [x for x, _ in w1])):
        n, kl = expected(texts)
        assert got[wstart][0] == n
        assert abs(got[wstart][1] - round(kl, 6)) <= 2e-6, (wstart, got[wstart][1], kl)
    assert got[t(60)][1] > 5 * max(got[t(0)][1], 1e-4)  # the shift is loud


def test_hashed_ref_probs_spark_matches_python(spark):
    """The distributed reference-distribution builder is bit-identical
    to the pure-Python one on the same rows — including non-ASCII
    words, where Java's ASCII-only \\W and Python's Unicode-aware \\W
    would diverge if the Python side didn't spell the class out."""
    from confidential_storm_spark.streaming import (
        hashed_ref_probs,
        hashed_ref_probs_spark,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "naïve café résumé — déjà vu straße",  # non-ASCII exercises the regex pact
        "",  # empty doc contributes nothing
        "repeat repeat repeat repeat",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for n_bins, alpha in ((64, 0.5), (17, 1.0)):
        py = hashed_ref_probs(texts, n_bins=n_bins, alpha=alpha)
        sp = hashed_ref_probs_spark(df, "text", n_bins=n_bins, alpha=alpha)
        assert sp == py


def test_reservoir_kmin_stream_is_batch_equivalent(stream_reader, tmp_path):
    """The streaming k-min reservoir equals the batch k-min sample of
    the union of all batches, whatever the chopping — including a
    late batch displacing an earlier reservoir member by hash order."""
    import hashlib

    from confidential_storm_spark.streaming.stateful import reservoir_kmin_stream

    SCHEMA = "source string, doc_id long"
    rows = [("s1", i) for i in range(40)] + [("s2", i + 1000) for i in range(30)]
    batches = [rows[:10], rows[10:45], rows[45:]]
    out: dict = {}
    run_available_now(
        reservoir_kmin_stream(stream_reader(batches, SCHEMA), "source", "doc_id", k=4)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: out.update(
                {(r.key, r.rank): r.sampled_id for r in df.collect()}
            )
        ),
        str(tmp_path / "ckpt"),
    )

    def kmin(src):
        ids = [i for s, i in rows if s == src]
        return [
            i
            for _, i in sorted(
                (hashlib.md5(str(i).encode()).hexdigest(), i) for i in ids
            )[:4]
        ]

    for src in ("s1", "s2"):
        want = kmin(src)
        got = [out[(src, r)] for r in range(1, 5)]
        assert got == want, (src, got, want)
    # the final reservoir must include members from multiple batches'
    # id ranges for the displacement claim to be exercised
    all_final = {v for v in out.values()}
    assert any(i >= 45 or (1000 <= i) for i in all_final)
