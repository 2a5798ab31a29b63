"""Stateful streaming operators via ``applyInPandasWithState``.

The operators mirror the reference's per-enclave mutable state
(SURVEY §1.3) or keep per-key state for ingest:

- :func:`dp_histogram_stream` — the DP-SQLP mechanism; state = the
  per-bucket forest of trees + round state (pickled blob per bucket,
  exactly the state the reference holds per DP-bolt replica,
  StreamingDPMechanism.java:34-96).  One micro-batch == one epoch
  (the reference's ZK epoch barrier is Spark's micro-batch barrier,
  SURVEY §2.9 T2).
- :func:`heartbeat_stream` — T4 dummy traffic as a source, unioned
  into :func:`dp_histogram_stream` for exact tick parity.
- :func:`bound_contributions_stream` — per-user running contribution
  counts (UserContributionLimiter.java:12).
- :func:`replay_filter_stream` — per-producer (max_seen, 128-bit mask)
  anti-replay window (ReplayWindow.java:9-33).
- :func:`dedup_stream` — exact content dedup on the state store.
- :func:`bloom_dedup_stream` — maybe-dup flagging in fixed-size Bloom
  state.
- :func:`reservoir_kmin_stream` — a per-key deterministic k-min sample.

Scale notes: state is partitioned by the group key (bucket / user
bucket / producer), so state-store shards spread across executors;
the DP state blob per bucket is O(keys_in_bucket * tree_size).
The Python worker boundary is Arrow-batched.
"""

from __future__ import annotations

import pickle
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..dp.mechanism import StreamingDPMechanism
from ..functions.replay import DEFAULT_WINDOW_SIZE, replay_accept
from ..operators.dp_batch import DPParams

__all__ = [
    "dp_histogram_stream",
    "heartbeat_stream",
    "bound_contributions_stream",
    "replay_filter_stream",
    "dedup_stream",
    "bloom_dedup_stream",
    "reservoir_kmin_stream",
]


def heartbeat_stream(
    spark, num_buckets: int, schema, rows_per_second: int = 1
) -> DataFrame:
    """T4 dummy traffic as a SOURCE, like the reference's spouts: a
    rate stream exploded to one null-key row per bucket per tick, cast
    to the event schema (plus the ``bucket`` routing column).  Unioned
    into :func:`dp_histogram_stream` via its ``heartbeats`` argument it
    guarantees every bucket's epoch advances every micro-batch even
    when that bucket saw no data (exact tick parity with the
    reference's dummy-traffic topologies)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    # generators can't nest inside other expressions (e.g. a cast) in a
    # select — explode first, cast in a second projection
    exploded = rate.select(
        F.explode(F.sequence(F.lit(0), F.lit(num_buckets - 1))).alias("_b")
    )
    cols = [F.col("_b").cast("int").alias("bucket")] + [
        F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields
    ]
    return exploded.select(*cols)


def dp_histogram_stream(
    events: DataFrame,
    params: DPParams,
    key_col: str = "key",
    user_col: str = "user_id",
    value_col: str = "value",
    num_buckets: int = 8,
    heartbeats: DataFrame | None = None,
) -> DataFrame:
    """Streaming DP histogram: per micro-batch (== DP epoch) run one
    ``snapshot()`` per key-bucket and emit the full released histogram
    (carry-forward included) stamped with the bucket's epoch.

    The epoch counter is per-bucket (a bucket with no rows in a batch
    does not advance).  For exact tick parity with the reference's
    dummy-traffic topologies (T4), pass ``heartbeats`` — rows with a
    ``bucket`` column and null ``key`` (see :func:`heartbeat_stream`):
    they force every bucket group to be invoked each micro-batch while
    contributing nothing to any histogram.
    """
    p = params

    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bucket_id = int(key[0])
        if state.exists:
            mech: StreamingDPMechanism = pickle.loads(state.get[0])
        else:
            mech = StreamingDPMechanism(
                p.sigma_key,
                p.sigma_hist,
                p.threshold_quantile,
                p.max_time_steps,
                p.mu,
                p.max_contributions_per_user,
                rng=(
                    np.random.default_rng((p.seed, bucket_id))
                    if p.seed is not None
                    else np.random.default_rng()
                ),
            )
        # vectorized per-batch pre-aggregation (Spark forbids a real
        # aggregation before the stateful op — only ONE stateful
        # operator per query — so the windowing happens here in pandas
        # C-speed, not a Python row loop)
        for pdf in pdfs:
            pdf = pdf[pdf[key_col].notna()]  # heartbeats tick, add nothing
            if pdf.empty:
                continue
            totals = pdf.groupby(key_col, sort=False)[value_col].sum()
            users = pdf.groupby(key_col, sort=False)[user_col].agg(set)
            for k, total in totals.items():
                mech.add_window(k, float(total), users[k])
        hist = mech.snapshot()
        epoch = mech.time_step - 1
        state.update((pickle.dumps(mech),))
        yield pd.DataFrame(
            {
                "key": list(hist.keys()),
                "count": np.fromiter(hist.values(), dtype=np.int64, count=len(hist)),
                "epoch": np.full(len(hist), epoch, dtype=np.int32),
            }
        )

    with_bucket = events.withColumn(
        "bucket", (F.crc32(F.col(key_col).cast("string")) % num_buckets).cast("int")
    )
    if heartbeats is not None:
        with_bucket = with_bucket.unionByName(heartbeats.select(*with_bucket.columns))
    return with_bucket.groupBy("bucket").applyInPandasWithState(
        process,
        outputStructType="key string, count long, epoch int",
        stateStructType="blob binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bound_contributions_stream(
    events: DataFrame,
    max_contributions: int,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = (),
    num_buckets: int = 32,
) -> DataFrame:
    """Streaming per-user contribution bounding (A2): pass through each
    user's first C rows across all micro-batches; NULL users always
    pass (event-level privacy).  State = per-user admitted counts,
    sharded by user hash bucket.  ``order_cols`` fixes the within-batch
    processing order (arrival order is nondeterministic in a shuffle)."""
    cols = events.columns

    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counts: dict[Any, int] = pickle.loads(state.get[0]) if state.exists else {}
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            if order_cols:
                pdf = pdf.sort_values(list(order_cols), ignore_index=True)
            # vectorized bounding: a row is admitted iff (contributions
            # admitted in prior batches) + (this user's 0-based rank
            # within this batch, in order) < C; NULL users always pass
            users = pdf[user_col]
            prior = users.map(lambda u: counts.get(u, 0), na_action="ignore")
            rank = pdf.groupby(user_col, sort=False, dropna=True).cumcount()
            keep = users.isna() | ((prior + rank) < max_contributions)
            keep = keep.to_numpy(dtype=bool)
            admitted = pdf.loc[keep & users.notna().to_numpy(), user_col].value_counts()
            for u, n in admitted.items():
                counts[u] = counts.get(u, 0) + int(n)
            out = pdf.loc[keep, cols]
            if len(out):
                yield out
        state.update((pickle.dumps(counts),))

    with_bucket = events.withColumn(
        "_ub", (F.xxhash64(F.col(user_col).cast("string")) % num_buckets).cast("int")
    )
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in events.schema.fields)
    return with_bucket.groupBy("_ub").applyInPandasWithState(
        process,
        outputStructType=schema,
        stateStructType="blob binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def replay_filter_stream(
    events: DataFrame,
    producer_col: str = "producer_id",
    seq_col: str = "seq",
    window_size: int = DEFAULT_WINDOW_SIZE,
    order_col: str | None = None,
) -> DataFrame:
    """Streaming anti-replay (V2): per-producer sliding window with the
    reference's exact accept semantics (order-sensitive within and
    across micro-batches; ``order_col`` fixes within-batch order).
    State = (max_seen, mask bytes)."""
    cols = events.columns
    n_bytes = (window_size + 7) // 8

    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            max_seen, mask_bytes = state.get
            mask = int.from_bytes(mask_bytes, "big")
        else:
            max_seen, mask = -1, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            if order_col is not None:
                pdf = pdf.sort_values(order_col, ignore_index=True)
            keep = np.zeros(len(pdf), dtype=bool)
            for i, seq in enumerate(pdf[seq_col].tolist()):
                ok, max_seen, mask = replay_accept(max_seen, mask, int(seq), window_size)
                keep[i] = ok
            out = pdf.loc[keep, cols]
            if len(out):
                yield out
        state.update((int(max_seen), mask.to_bytes(n_bytes, "big")))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in events.schema.fields)
    return events.groupBy(producer_col).applyInPandasWithState(
        process,
        outputStructType=schema,
        stateStructType=f"max_seen long, mask binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Streaming exact content dedup: the FIRST occurrence of each
    text digest is emitted, later occurrences (same batch or any later
    micro-batch) are dropped.

    Spark-first: this is exactly streaming ``dropDuplicates`` keyed on
    the content digest — the state store holds one row per distinct
    digest, checkpointed and recovered with the query.  Without a
    watermark the state grows with distinct content forever (the honest
    semantics of whole-corpus dedup); pass
    ``watermark=(ts_col, "24 hours")`` to bound state for
    dup-within-horizon semantics (same-digest rows arriving within the
    watermark delay of the first occurrence are dropped regardless of
    their exact event time; state for a digest is evicted once the
    watermark passes it).
    """
    digest = F.md5(F.col(text_col))
    out = docs.withColumn("_digest", digest)
    if watermark is not None:
        ts_col, delay = watermark
        out = out.withWatermark(ts_col, delay)
        # dropDuplicates(["_digest", ts_col]) would only drop rows with an
        # IDENTICAL (digest, timestamp) pair; within-horizon dedup needs
        # the watermark-scoped operator keyed on the digest alone.
        return out.dropDuplicatesWithinWatermark(["_digest"]).drop("_digest")
    return out.dropDuplicates(["_digest"]).drop("_digest")


def bloom_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 64,
    k: int = 4,
    m_per_bucket: int = 1 << 16,
    order_col: str | None = None,
) -> DataFrame:
    """Streaming maybe-dup flagging with BOUNDED state — the 100 TB
    complement of :func:`dedup_stream`, whose digest store grows with
    every distinct document forever.  Each of ``n_buckets`` state
    groups holds a FIXED ``m_per_bucket``-bit Bloom segment (a blocked
    Bloom filter): total state is exactly ``n_buckets * m/8`` bytes no
    matter how many documents stream through.  The trade is Bloom
    semantics — rows are FLAGGED (``maybe_dup``), not dropped: a
    duplicate is always flagged (no false negatives, in-batch or
    cross-batch), a new document is flagged only at the configured
    false-positive rate.  Downstream either drops flagged rows
    (accepting the FP rate as over-dedup) or routes only the flagged
    minority into an exact check.

    Plan shape: digest, bucket, and the k probe positions are all
    computed JVM-side (the md5 expressions of ``operators.bloom``), so
    the stateful Python stage only tests/sets bits in a bytearray —
    no hashing crosses the Arrow boundary.  State groups scale
    horizontally across the state store exactly like the other keyed
    operators here.  ``order_col`` pins within-batch processing order
    (first occurrence unflagged, later copies flagged) for
    deterministic replay.
    """
    from ..operators.bloom import _position, bloom_positions

    cols = docs.columns
    dg = F.md5(F.col(text_col))
    with_probe = docs.withColumn(
        "_bucket", _position(dg, "bucket", n_buckets)
    ).withColumn("_pos", bloom_positions(dg, k, m_per_bucket))
    n_bytes = m_per_bucket // 8

    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bits = bytearray(state.get[0]) if state.exists else bytearray(n_bytes)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            if order_col is not None:
                pdf = pdf.sort_values(order_col, ignore_index=True)
            flags = np.zeros(len(pdf), dtype=bool)
            for i, positions in enumerate(pdf["_pos"]):
                seen = True
                for p in positions:
                    p = int(p)
                    if not (bits[p >> 3] >> (p & 7)) & 1:
                        seen = False
                        bits[p >> 3] |= 1 << (p & 7)
                flags[i] = seen
            out = pdf[cols].copy()
            out["maybe_dup"] = flags
            yield out
        state.update((bytes(bits),))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields)
    return with_probe.groupBy("_bucket").applyInPandasWithState(
        process,
        outputStructType=f"{schema}, maybe_dup boolean",
        stateStructType="bits binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

def reservoir_kmin_stream(
    docs: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Deterministic k-min reservoir maintained PER KEY across ingest
    batches — the incremental form of the batch ``sample_reservoir``
    query: state is the k smallest (md5(id), id) pairs seen so far, a
    k-min sketch, i.e. a commutative-monoid fold over batch union —
    so the standing sample after any number of ingest batches equals
    the batch query over everything ingested, whatever the chopping
    (that identity is what the registry certifies, by sharing the
    batch twin verbatim).  This is how a 100 TB pipeline keeps a
    forever-fresh reproducible eval sample: per-batch cost ∝ the
    batch, state is k tiny pairs per stratum, and appends displace a
    reservoir slot only by hash order — never by arrival order.

    Output mode update: each batch emits every touched key's CURRENT
    reservoir as (key, id, rank); the final state per (key, rank) is
    the sample."""
    with_h = docs.select(
        F.col(key_col).alias("_k"),
        F.col(id_col).alias("_id"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )

    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pairs: list[tuple[str, int]] = []
        if state.exists:
            hs, ids = state.get
            pairs = list(zip(hs, ids))
        for pdf in pdfs:
            pairs.extend(zip(pdf["_h"], (int(x) for x in pdf["_id"])))
        pairs = sorted(set(pairs))[:k]
        state.update(([h for h, _ in pairs], [i for _, i in pairs]))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(pairs),
                "sampled_id": [i for _, i in pairs],
                "rank": list(range(1, len(pairs) + 1)),
            }
        )

    return with_h.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType="key string, sampled_id bigint, rank int",
        stateStructType="hs array<string>, ids array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
