"""Benchmark harness: runs the full query registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Output contract (round-6 fix — VERDICT r5 item 1): the driver
captures only the TAIL of stdout and parses the FINAL line, and the
full per-query map (106 queries x medians + spreads) outgrew that
window in round 5, leaving BENCH_r05.json unparseable.  So stdout
now carries TWO JSON lines:

  line 1 (detail, may be truncated by the driver's capture — fine):
    {"metric": "total_query_sec", ..., "queries": {...}, "spread": {...}}
  line 2 (FINAL, compact, always parseable):
    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "runs": 3, "sf": 0.1, "n_queries": 106,
     "detail": "benchmark/bench_detail_sf0.1.json"}

The full detail object is also written to ``benchmark/
bench_detail_sf{sf}.json`` (committed per round) and echoed to
stderr, so the per-query record survives regardless of the driver's
capture window.

Each query is executed to completion (count() materializes every
partition) after a warm-up of the session, and timed over
$SPARK_GRAFT_BENCH_RUNS rounds (default 3, round-robin so host-load
spikes hit different queries each pass).  ``queries`` holds
per-query MEDIANS — the shared sandbox swings 2-8x (PLANS.md), so
single-shot timings are not decision-grade — and ``spread`` the
per-query [min, max] so a noisy median is visible as a wide band.

Sensitivity controls (round-11, VERDICT r10 next-round #3 — the old
3-sample medians had 2-3x spreads on replays/LSH, masking real
regressions):

- one full DISCARDED warm-up pass over the registry before any timed
  pass ($SPARK_GRAFT_BENCH_WARMUP, default 1; 0 restores the old
  behavior) — first-execution costs (codegen, state-store dirs,
  broadcast builds) land there instead of in some query's max;
- ADAPTIVE re-sampling: any query whose (max-min)/median exceeds
  $SPARK_GRAFT_BENCH_NOISY_SPREAD (default 1.5) after the main
  passes is re-timed until it holds $SPARK_GRAFT_BENCH_NOISY_RUNS
  samples (default 7), so its median rests on 5+ observations;
- per-query ``cv`` (stdev/mean) and ``n_samples`` maps in the detail
  object, so a judge can separate ambient drift from regression
  mechanically: high cv = don't trust a single-round delta.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from confidential_storm_spark.plans.queries import build_queries, prebuild_artifacts
    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="csspark-bench")
    # steady-state warm-up (untimed): first-query costs are session
    # boot, not query cost — exercise codegen, a real parquet scan +
    # shuffle, and the Arrow python-worker pool once before timing
    spark.range(1).count()
    from pyspark.sql.functions import col, pandas_udf

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().collect()
    _warm = pandas_udf(lambda s: s, "long")
    spark.range(10_000).repartition(64).select(_warm(col("id"))).count()
    # grouped-map (applyInPandas) workers and window machinery warm
    # up separately from scalar pandas UDFs
    from pyspark.sql import Window
    from pyspark.sql.functions import sum as fsum

    wdf = spark.range(2048).select((col("id") % 32).alias("b"), col("id").alias("v"))
    wdf.groupBy("b").applyInPandas(lambda pdf: pdf.head(1), "b long, v long").count()
    wdf.select(fsum("v").over(Window.partitionBy("b").orderBy("v"))).count()
    # crypto library import + one AEAD round trip (the sec_* queries'
    # driver-side artifact decrypt pays the import otherwise)
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    _k = b"\x00" * 32
    AESGCM(_k).decrypt(b"\x00" * 12, AESGCM(_k).encrypt(b"\x00" * 12, b"warm", None), None)
    # driver-side createDataFrame path (py4j local-relation transfer)
    # — the topology-edge queries pay its first-use cost otherwise
    spark.createDataFrame([("w", "w")], "x string, y string").count()
    # media-codec worker imports (jpeg/png/wav/y4m synth + decode):
    # the dedup_media_* queries otherwise pay the per-worker import on
    # their first run (measured ~4 s of a 5.5 s cold run at sf0.1) —
    # a 32-partition 32-row corpus touches every pooled worker once
    from confidential_storm_spark.operators.mediahash import (
        audio_energy_hashes,
        image_blockmean_hashes,
        media_corpus,
        sample_video_frames,
    )

    _mw = spark.range(32).repartition(32).selectExpr("id AS doc_id")
    image_blockmean_hashes(media_corpus(_mw, "image")).count()
    audio_energy_hashes(media_corpus(_mw, "audio")).count()
    sample_video_frames(media_corpus(_mw, "video")).count()
    # standing artifacts (IVF index table, encrypted topology graph):
    # maintained outside the query path, built once if absent
    t0 = time.perf_counter()
    prebuild_artifacts(spark, sf_dir)
    prebuild_sec = round(time.perf_counter() - t0, 3)
    # surfaced in the detail JSON too (VERDICT r11 "what's wrong" #2):
    # prebuild is untimed by design, so its growth must stay visible
    print(f"# prebuild_artifacts: {prebuild_sec:.3f}s", file=sys.stderr)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    warmup_runs = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))
    noisy_spread = float(os.environ.get("SPARK_GRAFT_BENCH_NOISY_SPREAD", "1.5"))
    noisy_runs = int(os.environ.get("SPARK_GRAFT_BENCH_NOISY_RUNS", "7"))
    qs = build_queries()
    samples: dict[str, list[float]] = {name: [] for name in qs}
    import gc

    def run_one(name: str, tag: str) -> float:
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        n = df.count()
        dt = round(time.perf_counter() - t0, 3)
        print(f"# {tag} {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
        # drop the py4j refs NOW: localCheckpoint blocks from the
        # dedup/graph queries stay pinned in the block manager
        # until the driver-side DataFrame is garbage-collected,
        # and letting them pile up across ~300 executions
        # inflates the late queries 3-7x with GC pressure
        del df
        gc.collect()
        return dt

    # full discarded pass(es): first-execution costs are setup, not
    # query cost — without this they land in some query's max and
    # fake a 2-3x spread
    for w in range(warmup_runs):
        for name in qs:
            run_one(name, f"warmup{w}")
    for run in range(n_runs):
        for name in qs:
            samples[name].append(run_one(name, f"run{run}"))

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    def spread_ratio(xs: list[float]) -> float:
        m = median(xs)
        return (max(xs) - min(xs)) / m if m > 0 else 0.0

    # adaptive pass: a query still spread-noisy after the main passes
    # gets more observations so its median rests on 5+ samples
    for name in list(qs):
        while spread_ratio(samples[name]) > noisy_spread and len(samples[name]) < noisy_runs:
            samples[name].append(run_one(name, f"extra{len(samples[name])}"))

    import statistics

    timings = {name: median(xs) for name, xs in samples.items()}
    spread = {name: [min(xs), max(xs)] for name, xs in samples.items()}
    cv = {
        name: round(statistics.pstdev(xs) / (statistics.fmean(xs) or 1.0), 4)
        for name, xs in samples.items()
    }
    n_samples = {name: len(xs) for name, xs in samples.items()}
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "cv": cv,
        "n_samples": n_samples,
        "runs": n_runs,
        "warmup_runs": warmup_runs,
        "prebuild_sec": prebuild_sec,
        "sf": sf,
    }
    # Per-config detail filename (VERDICT r11 item 2): the driver runs
    # the bench at BOTH 32 and 8 cores, and a single mutable
    # bench_detail_sf{sf}.json meant the scaling run overwrote the
    # main run's per-query medians — PERF_r11 got n_common=0.  Detail
    # now lands in bench_detail_sf{sf}_c{cpus}.json (one file per
    # config, nothing clobbers anything); the legacy un-suffixed path
    # is still written for any reader of the old name.  Without
    # $SPARK_GRAFT_CPUS the session's resolved task slots name the
    # config (a literal "*" made a glob character of the file name).
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(spark.sparkContext.defaultParallelism)
    base_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "benchmark")
    detail_path = os.path.join(base_dir, f"bench_detail_sf{sf}_c{cpus}.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        with open(os.path.join(base_dir, f"bench_detail_sf{sf}.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        detail_path = ""
    detail_line = json.dumps(detail)
    print(detail_line, file=sys.stderr)
    print(detail_line)
    # FINAL stdout line: compact, fits any tail-capture window — this
    # is the line the driver parses (nothing may print after it).
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "runs": n_runs,
                "sf": sf,
                "cpus": cpus,
                "n_queries": len(timings),
                "detail": detail_path and os.path.relpath(
                    detail_path, os.path.dirname(os.path.abspath(__file__))
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
