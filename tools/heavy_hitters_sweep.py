"""Measured dial table for the streaming heavy-hitters operator:
capacity sweep on a Zipfian stream vs the exact top-k.

For each capacity, stream the same multi-batch Zipf(1.2) corpus
through ``heavy_hitters_stream`` and score the final summaries against
exact counts: top-k recall (are the true top-k present?), count error
on the true top-k, the summary's worst-case error bound, and rows of
state per shard.  Writes one CSV row per capacity to
``benchmark/heavy_hitters_sweep.csv``.

Usage: python tools/heavy_hitters_sweep.py [n_events] [out_csv]
"""

from __future__ import annotations

import csv
import os
import sys
import time
import zlib

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

N_SHARDS = 4
N_BATCHES = 5
VOCAB = 20_000
TOP_K = 20
CAPACITIES = (16, 32, 64, 128, 256)


def main() -> int:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_csv = sys.argv[2] if len(sys.argv) > 2 else f"{REPO}/benchmark/heavy_hitters_sweep.csv"

    from confidential_storm_spark.session import get_spark
    from confidential_storm_spark.streaming._drain import run_available_now
    from confidential_storm_spark.streaming.heavy_hitters import heavy_hitters_stream

    spark = get_spark()
    rng = np.random.default_rng(5)
    probs = 1.0 / np.arange(1, VOCAB + 1) ** 1.2
    probs /= probs.sum()
    draws = rng.choice(VOCAB, size=n_events, p=probs)
    vals = [f"w{d}" for d in draws]

    true: dict[str, int] = {}
    for v in vals:
        true[v] = true.get(v, 0) + 1
    top = sorted(true.items(), key=lambda kv: -kv[1])[:TOP_K]

    import tempfile

    src_root = tempfile.mkdtemp(prefix="hh_sweep_")
    per = n_events // N_BATCHES
    for i in range(N_BATCHES):
        spark.createDataFrame(
            [(v,) for v in vals[i * per : (i + 1) * per]], "word string"
        ).coalesce(4).write.mode("append" if i else "overwrite").parquet(f"{src_root}/src")

    rows = []
    for cap in CAPACITIES:
        out: list = []
        stream = (
            spark.readStream.schema("word string")
            .option("maxFilesPerTrigger", 4)
            .parquet(f"{src_root}/src")
        )
        t0 = time.time()
        run_available_now(
            heavy_hitters_stream(stream, "word", capacity=cap, num_shards=N_SHARDS)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid, acc=out: acc.append((bid, df.collect()))),
            f"{src_root}/ck_{cap}",
        )
        wall = time.time() - t0
        latest: dict[int, dict[str, int]] = {}
        errs: dict[int, int] = {}
        for _bid, emitted in out:
            for shard in {r["shard"] for r in emitted}:
                latest[shard] = {
                    r["value"]: r["count"] for r in emitted if r["shard"] == shard
                }
                errs[shard] = next(
                    r["err_bound"] for r in emitted if r["shard"] == shard
                )
        got = {v: c for summ in latest.values() for v, c in summ.items()}
        hits = [v for v, _t in top if v in got]
        recall = len(hits) / TOP_K
        rel_err = (
            float(np.mean([(true[v] - got[v]) / true[v] for v in hits])) if hits else 1.0
        )
        max_err_bound = max(errs.values()) if errs else 0
        rows.append(
            dict(
                capacity=cap,
                shards=N_SHARDS,
                events=n_events,
                topk=TOP_K,
                topk_recall=round(recall, 3),
                mean_rel_undercount_topk=round(rel_err, 4),
                max_shard_err_bound=max_err_bound,
                state_rows=sum(len(s) for s in latest.values()),
                wall_s=round(wall, 1),
            )
        )
        print(rows[-1], flush=True)

    with open(out_csv, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out_csv}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
