"""Streaming heavy hitters: Misra-Gries invariants end-to-end."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from confidential_storm_spark.streaming._drain import run_available_now
from confidential_storm_spark.streaming.heavy_hitters import (
    heavy_hitters_stream,
    mg_merge,
)


def test_mg_merge_invariants_brute_force():
    """Pure-function check on random sequences: after any sequence of
    merges, stored <= true <= stored + err for every stored value,
    every value with true count > err is stored, and the summary never
    exceeds capacity."""
    import pandas as pd

    rng = np.random.default_rng(7)
    for trial in range(20):
        cap = int(rng.integers(4, 12))
        vocab = [f"w{i}" for i in range(int(rng.integers(cap, 40)))]
        probs = rng.dirichlet(np.ones(len(vocab)) * 0.3)
        true: dict[str, int] = {}
        counts: dict[str, int] = {}
        err = 0
        for _batch in range(int(rng.integers(1, 6))):
            draw = rng.choice(vocab, size=int(rng.integers(1, 200)), p=probs)
            s = pd.Series(draw).value_counts()
            for v, n in s.items():
                true[v] = true.get(v, 0) + int(n)
            counts, inc = mg_merge(counts, s, cap)
            err += inc
        assert len(counts) <= cap
        for v, c in counts.items():
            assert c <= true[v] <= c + err, (trial, v)
        for v, t in true.items():
            if t > err:
                assert v in counts, (trial, v, t, err)


def test_heavy_hitters_stream_invariants(spark, tmp_path):
    """End-to-end over a 3-file Zipfian stream: bounded rows per shard,
    shard-exact MG bounds against true per-shard counts, hot values
    guaranteed present, and exact counts (err 0) when capacity covers
    the shard's distinct values."""
    rng = np.random.default_rng(11)
    vocab = [f"word{i}" for i in range(60)]
    probs = np.array([1.0 / (i + 1) ** 1.5 for i in range(60)])
    probs /= probs.sum()
    batches = [
        [(str(v),) for v in rng.choice(vocab, size=800, p=probs)] for _ in range(3)
    ]

    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "word string").coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    stream = (
        spark.readStream.schema("word string").option("maxFilesPerTrigger", 1).parquet(src)
    )

    out: list = []
    run_available_now(
        heavy_hitters_stream(stream, "word", capacity=16, num_shards=4)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out.append((bid, df.collect()))),
        str(tmp_path / "ckpt"),
    )

    # latest emission per shard is its current summary
    latest: dict[int, list] = {}
    for _bid, rows in out:
        for shard in {r["shard"] for r in rows}:
            latest[shard] = [r for r in rows if r["shard"] == shard]
    assert latest, "stream emitted nothing"
    for shard, rows in latest.items():
        assert len(rows) <= 16

    # true per-shard counts (crc32 of utf-8, same as Spark's crc32)
    true: dict[int, dict[str, int]] = {}
    for rows in batches:
        for (v,) in rows:
            sh = zlib.crc32(v.encode()) % 4
            true.setdefault(sh, {})[v] = true.get(sh, {}).get(v, 0) + 1

    for shard, rows in latest.items():
        err = rows[0]["err_bound"] if rows else 0
        assert all(r["err_bound"] == err for r in rows)
        for r in rows:
            t = true[shard].get(r["value"], 0)
            assert r["count"] <= t <= r["count"] + err, (shard, r)
        for v, t in true[shard].items():
            if t > err:
                assert v in {r["value"] for r in rows}, (shard, v, t, err)

    # generous capacity -> exact counts, zero error
    out2: list = []
    stream2 = (
        spark.readStream.schema("word string").option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_available_now(
        heavy_hitters_stream(stream2, "word", capacity=100, num_shards=2)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out2.append((bid, df.collect()))),
        str(tmp_path / "ckpt2"),
    )
    latest2: dict[int, list] = {}
    for _bid, rows in out2:
        for shard in {r["shard"] for r in rows}:
            latest2[shard] = [r for r in rows if r["shard"] == shard]
    true2: dict[str, int] = {}
    for rows in batches:
        for (v,) in rows:
            true2[v] = true2.get(v, 0) + 1
    got = {r["value"]: r["count"] for rows in latest2.values() for r in rows}
    assert got == true2
    assert all(r["err_bound"] == 0 for rows in latest2.values() for r in rows)
