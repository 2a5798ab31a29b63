"""DP-SQLP §5.1 utility benchmark (BASELINE.md parity).

Replicates the reference's ``UtilityBenchmarkTest`` workload on the
Spark engine: N_users with Zipf-Mandelbrot contribution budgets capped
at C, keys ~ Zipf-Mandelbrot ranks, rows scattered uniformly over T
epochs; paper DP parameters (eps=6, delta=1e-9, split eps/2, 2delta/3
/ delta/3, C=32, L=1, mu=0, alpha=0.5, ZCDP_LINEAR_LEGACY — the mode
that produced the committed reference CSVs).  Emits the
reference's CSV row format so results are directly comparable to
`benchmark/utility/benchmark_T100_*.csv` (l0=32146, linf=1094,
l1=16892132, l2=44538, ~698 s/run single-threaded).

Usage:
  python tools/utility_bench.py [--t 100] [--users 10000000]
      [--keys 1000000] [--runs 1] [--seed 42] [--buckets 128]
      [--out benchmark_utility.csv]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from confidential_storm_spark.dp.calibration import CompositionMode, calibrate
from confidential_storm_spark.dp.zipf import generate_benchmark_contributions

EPSILON, DELTA, C, L_M, MU, ALPHA = 6.0, 1e-9, 32, 1.0, 0, 0.5

CSV_HEADER = (
    "T,alpha,composition,mu,run,l0,l_inf,l1,l2,sec_per_run,"
    "eps_round,delta_round,sigma_key,sigma_hist,beta,threshold_quantile,tau_at_last_step"
)


def run_once(spark, t: int, users: int, keys: int, seed: int, buckets: int,
             composition: CompositionMode = CompositionMode.ZCDP_LINEAR,
             alpha: float = ALPHA, data_path: str | None = None):
    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.dp_batch import DPParams, dp_histogram_batch

    if data_path is None:
        data_path = _generate(t, users, keys, seed)

    df = spark.read.parquet(data_path)
    params = DPParams.from_budget(
        EPSILON, DELTA, c=C, t=t, mu=MU, seed=seed, composition=composition, alpha=alpha
    )

    t0 = time.perf_counter()
    dp = dp_histogram_batch(df, params, num_buckets=buckets)
    gt = df.groupBy("key").agg(F.sum("value").alias("gt_total"))
    joined = dp.join(gt, on="key", how="full_outer")
    d = F.coalesce(F.col("count").cast("double"), F.lit(0.0))
    g = F.coalesce(F.col("gt_total"), F.lit(0.0))
    err = d - g
    # l0 = dp.size() in the reference's computeMetrics
    # (UtilityBenchmarkTest.java:434-451): ALL released keys, including
    # those whose noisy sum clamped/rounded to 0 — not count(dp > 0).
    row = joined.agg(
        F.count(F.col("count")).alias("l0"),
        F.max(F.abs(err)).alias("l_inf"),
        F.sum(F.abs(err)).alias("l1"),
        F.sqrt(F.sum(err * err)).alias("l2"),
    ).head()
    sec = time.perf_counter() - t0
    return row, sec


def _generate(t: int, users: int, keys: int, seed: int) -> str:
    """Write one seed's contribution parquet; reused across every
    (alpha, composition) config of that run, as the reference does
    (UtilityBenchmarkTest.java:240-262)."""
    gen0 = time.perf_counter()
    uid, key_rank, epoch = generate_benchmark_contributions(
        num_users=users, num_keys=keys, max_contributions=C, t_steps=t, seed=seed
    )
    tmp = tempfile.mkdtemp(prefix="utility_bench_")
    path = os.path.join(tmp, "contribs.parquet")
    pq.write_table(
        pa.table(
            {
                "user_id": uid,
                "key": key_rank.astype(str),
                "value": np.ones(len(uid)),
                "epoch": epoch.astype(np.int32),
            }
        ),
        path,
    )
    print(f"# generated {len(uid):,} rows ({time.perf_counter()-gen0:.1f}s)", file=sys.stderr)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t", type=int, default=100)
    ap.add_argument("--users", type=int, default=10_000_000)
    ap.add_argument("--keys", type=int, default=1_000_000)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--buckets", type=int, default=128)
    ap.add_argument("--alpha", type=float, default=ALPHA)
    ap.add_argument(
        "--alpha-sweep",
        action="store_true",
        help="sweep alpha in {0.1..0.9} x every composition mode "
        "(UtilityBenchmarkTest.java:196-204; pair with the reference's "
        "fast-mode sizes --users 500000 --keys 100000)",
    )
    ap.add_argument(
        "--all-compositions",
        action="store_true",
        help="run every composition mode at the single --alpha",
    )
    ap.add_argument(
        "--composition",
        default="ZCDP_LINEAR_LEGACY",
        choices=[m.name for m in CompositionMode],
        help="C-fold composition theorem.  Default LEGACY matches the "
        "reference's COMMITTED T100/T1000 CSV baselines (tight-rho "
        "re-derivation); ZCDP_LINEAR is the budget-sound linear split "
        "matching the reference's current DPUtil.",
    )
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    if args.alpha_sweep:
        alphas = [round(0.1 * i, 1) for i in range(1, 10)]
        comps = list(CompositionMode)
    elif args.all_compositions:
        alphas = [args.alpha]
        comps = list(CompositionMode)
    else:
        alphas = [args.alpha]
        comps = [CompositionMode[args.composition]]
    configs = [(a, m) for a in alphas for m in comps]

    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="utility-bench")
    kappa = math.ceil(math.log2(args.t))

    lines = [CSV_HEADER]
    for run in range(args.runs):
        seed = args.seed + run
        data_path = _generate(args.t, args.users, args.keys, seed)
        for alpha, composition in configs:
            cal = calibrate(
                composition, EPSILON / 2, DELTA * 2 / 3, EPSILON / 2, DELTA / 3,
                C, args.t, L_M, alpha,
            )
            tau_last = math.sqrt(
                kappa * cal.sigma_key**2 / (2.0 * (1.0 - 2.0**-kappa))
            ) * cal.threshold_quantile
            row, sec = run_once(
                spark, args.t, args.users, args.keys, seed, args.buckets,
                composition, alpha, data_path,
            )
            line = (
                f"{args.t},{alpha:.4f},{composition.name},{MU},{run},"
                f"{row['l0']},{row['l_inf']:.0f},{row['l1']:.0f},{row['l2']:.3f},{sec:.1f},"
                f"{cal.epsilon_key_round:.6e},{cal.delta_key_round:.6e},"
                f"{cal.sigma_key:.6f},{cal.sigma_hist:.6f},{cal.beta:.6e},"
                f"{cal.threshold_quantile:.6f},{tau_last:.6f}"
            )
            print(line, flush=True)
            lines.append(line)

    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
