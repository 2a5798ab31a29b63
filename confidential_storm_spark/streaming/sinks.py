"""Streaming sinks (SURVEY §2.2 K1-K4).

All are ``foreachBatch`` writers — the Spark-native place for the
reference's per-tick side effects (histogram files, utility CSV rows,
micro-batch timing rows).  Profiler-style metrics (K4/A17) use
``DataFrame.observe`` + a streaming listener instead of hand-rolled
counters.
"""

from __future__ import annotations

import os
import time
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "histogram_file_sink",
    "utility_report_sink",
    "timing_sink",
    "observe_counts",
]


def histogram_file_sink(out_dir: str):
    """K1: per release tick, rewrite ``histogram.txt`` with ``key:count``
    lines sorted desc + a timestamp header
    (HistogramAggregatorBolt.java:55-99).

    The DP stream emits in ``update`` mode — a batch only carries the
    buckets that processed data — so the sink upserts into its own
    running view instead of overwriting (a DP bucket silent this tick
    must keep its released keys in the file, the reference's
    carry-forward behavior).  If the rows carry an ``epoch`` column
    (the per-key stream can emit several epochs of one key in one
    batch), the HIGHEST epoch per key wins the upsert."""
    state: dict = {}

    def write(df: DataFrame, batch_id: int) -> None:
        rows = df.collect()
        if rows and "epoch" in df.columns:
            rows = sorted(rows, key=lambda r: r["epoch"])
        for r in rows:
            state[r["key"]] = r["count"]
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "histogram.txt")
        with open(path, "w") as f:
            f.write(f"# epoch={batch_id} ts={int(time.time() * 1000)}\n")
            for k, v in sorted(state.items(), key=lambda kv: (-kv[1], kv[0])):
                f.write(f"{k}:{v}\n")

    return write


def utility_report_sink(csv_path: str, ground_truth: dict[str, float]):
    """K2: per release tick, from the ``key`` and ``count`` rows, append
    ``tick,ts,l0,l_inf,l1,l2,dp_keys,gt_keys``
    (BaselineHistogramAggregationBolt.java:247-289)."""
    header = "tick,ts,l0,l_inf,l1,l2,dp_keys,gt_keys\n"

    def write(df: DataFrame, batch_id: int) -> None:
        dp = {r["key"]: float(r["count"]) for r in df.collect()}
        keys = set(dp) | set(ground_truth)
        errs = [dp.get(k, 0.0) - ground_truth.get(k, 0.0) for k in keys]
        l0 = sum(1 for v in dp.values() if v > 0)
        l_inf = max((abs(e) for e in errs), default=0.0)
        l1 = sum(abs(e) for e in errs)
        l2 = sum(e * e for e in errs) ** 0.5
        new = not os.path.exists(csv_path)
        with open(csv_path, "a") as f:
            if new:
                f.write(header)
            f.write(
                f"{batch_id},{int(time.time() * 1000)},{l0},{l_inf},{l1},{l2},"
                f"{len(dp)},{len(ground_truth)}\n"
            )

    return write


def timing_sink(csv_path: str, run_id: str, parallelism: int):
    """K3: per-batch timing rows
    ``run_id,parallelism,batch_id,n_records,duration_ms,t_begin,t_end``
    (microbatch BaselineHistogramAggregationBolt.java:50-51,193-204;
    batch boundaries are exact in Spark so BEGIN/END markers vanish)."""
    header = "run_id,parallelism,batch_id,n_records,duration_ms,t_begin_epoch_ms,t_end_epoch_ms\n"

    def write(df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        n = df.count()
        t1 = time.time()
        new = not os.path.exists(csv_path)
        with open(csv_path, "a") as f:
            if new:
                f.write(header)
            f.write(
                f"{run_id},{parallelism},{batch_id},{n},"
                f"{int((t1 - t0) * 1000)},{int(t0 * 1000)},{int(t1 * 1000)}\n"
            )

    return write


def observe_counts(df: DataFrame, name: str = "metrics") -> DataFrame:
    """K4/A17: attach row/sum observations to a (streaming) DataFrame;
    read them from ``QueryProgressEvent.observedMetrics[name]`` — the
    Spark-native replacement for the reference's BoltProfiler counters
    (BoltProfiler.java:26-211)."""
    return df.observe(name, F.count(F.lit(1)).alias("rows"))
