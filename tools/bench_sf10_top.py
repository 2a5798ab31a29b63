"""Second full-registry scale point: the sf1-most-expensive queries
re-timed at sf10 (VERDICT r8 #4) — the committed evidence that the
registry's top-cost family scales, not just the capstone chain.

Runs the N queries with the largest sf1 medians (read from
``benchmark/bench_detail_sf1.0.json``) against an sf10 testdata dir
(generated by ``tools/make_big_sf.py 100``), 3 runs each after the
standard untimed prebuild/warm-up, and writes
``benchmark/bench_detail_sf10.json`` in the bench.py detail format
plus an ``sf1_ratio`` map (sf10 median / sf1 median; the corpus is
10x, so ~10x is linear for corpus-bound queries, less for queries
dominated by fixed stage overhead).

Usage: python tools/bench_sf10_top.py [sf10_dir] [top_n] [runs]
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def main() -> int:
    sf10_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf10"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    if not os.path.exists(f"{sf10_dir}/lineitem.parquet"):
        raise SystemExit(
            f"{sf10_dir} missing — generate with: python tools/make_big_sf.py 100 {sf10_dir}"
        )

    # excluded with measured, committed causes (PLANS.md "sf10 scale
    # point", round 6): exact all-pairs Jaccard dies in ENOSPC at sf10
    # by the quadratic law (the measurement IS the wall; minhash-LSH
    # is the certified production path), and the simhash pair set is
    # OUTPUT-bound at 27.9M true pairs (321 s single-pass, measured) —
    # re-running them 3x would burn an hour re-proving known walls.
    skip = {
        "dedup_ngram_jaccard": "quadratic all-pairs: sf10 = ENOSPC wall (PLANS.md r6)",
        "dedup_simhash_pairs": "output-bound 27.9M true pairs, 321 s measured (PLANS.md r6)",
        # bucket-law wall, measured r9: 64-bit hash / 8 bands = 256
        # band values -> 2048 buckets TOTAL, candidate pairs grow
        # quadratically with corpus (sf1 19 s; sf10 ~4.7B candidates,
        # OOM at 8g, >20 min + 40 GB heap at 48g before kill).  The
        # certified queries stay exact at gate SFs; the sf10 path is
        # the capped join measured in benchmark/media_banded_cap.csv
        # (tools/media_cap_scale.py).
        "dedup_media_audio": "banded-join bucket law: 2048 buckets, quadratic candidates (PLANS.md r9)",
        "dedup_media_image": "same bucket law as dedup_media_audio (PLANS.md r9)",
        "dedup_media_video": "same bucket law, frame-keyed variant (PLANS.md r9)",
        # measured r9, one solo run at 48g: 666.3 s (260 rows) vs 15.2 s
        # at sf1 — 44x for 10x corpus.  Cause: the synthetic title
        # vocabulary is FIXED, so PassJoin segment document-frequency
        # grows linearly with corpus and candidate pairs quadratically
        # (Heaps' law, which the capped-segment design assumes of
        # natural corpora, does not hold for this generator).  The
        # measurement is committed here + PLANS.md; re-running it 3x
        # would spend 33 min re-proving a known wall.
        "dedup_edit_distance": "fixed-vocab segment-DF law: 666.3 s measured solo at sf10 (PLANS.md r9)",
        # composites over a skipped relation inherit its wall: the
        # method-agreement matrix materializes the simhash banded pair
        # set (the bucket-law relation above) — measured r9: broadcast
        # OOM at 8g driver during the eager checkpoint at sf10
        "dedup_method_overlap": "composes the simhash banded pair relation (bucket-law wall)",
        # the registry query pins max_bucket_size=None so the Spark
        # path and the mask-form oracle are semantically identical; on
        # THIS fixed-vocab synthetic corpus simhash values concentrate
        # and uncapped buckets go quadratic at sf10 (stage stalled >10
        # min at 48g, OOM at 16g).  The production dial is the
        # max_bucket_size cap; its recall is measured in
        # benchmark/media_hamming_lsh.csv
        "dedup_simhash_lsh": "uncapped oracle-identity dial: degenerate buckets on the fixed-vocab corpus",
        # containment shares the fixed-vocab synthetic-corpus DF law
        # with edit-distance: candidate volume is measured and
        # committed in benchmark/containment_scale.csv
        "dedup_containment": "fixed-vocab shingle-DF law, measured law in containment_scale.csv",
    }
    # the streaming replays are CERTIFICATION harnesses: epoch files
    # are materialized driver-side by design (streaming/replay.py),
    # so an sf10 run times pandas materialization, not the operator —
    # the operators' scale stories are the rate-driven ramps
    # (tools/rate_ramp.py) and the sketch sweeps
    skip.update(
        {
            k: "certification replay harness (driver-side epochs by design)"
            for k in (
                "stream_novelty_replay",
                "stream_hll_replay",
                "stream_quantiles_replay",
                "stream_kl_replay",
                "stream_join_replay",
                "stream_trending_replay",
                "stream_sessions_replay",
                "stream_dedup_replay",
                "stream_heavy_hitters_replay",
                "stream_anomaly_replay",
                "stream_dq_replay",
                "stream_digest_replay",
                "stream_mv_refresh_replay",
            )
        }
    )
    with open(os.path.join(REPO, "benchmark", "bench_detail_sf1.0.json")) as f:
        sf1 = json.load(f)["queries"]
    ranked = [k for k, _ in sorted(sf1.items(), key=lambda kv: -kv[1])]
    names = [k for k in ranked if k not in skip][:top_n]

    from confidential_storm_spark.plans.queries import QUERIES, prebuild_artifacts
    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="csspark-bench-sf10")
    spark.range(1).count()
    t0 = time.perf_counter()
    prebuild_artifacts(spark, sf10_dir)
    print(f"# prebuild: {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for run in range(runs):
        for name in names:
            t0 = time.perf_counter()
            df = QUERIES[name].builder(spark, sf10_dir)
            nrows = df.count()
            dt = round(time.perf_counter() - t0, 3)
            samples[name].append(dt)
            print(f"# run{run} {name}: {dt:.2f}s ({nrows} rows)", flush=True)
            del df
            gc.collect()

    timings = {n: round(statistics.median(xs), 3) for n, xs in samples.items()}
    detail = {
        "metric": "top_query_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": {n: [min(xs), max(xs)] for n, xs in samples.items()},
        "sf1_ratio": {n: round(timings[n] / sf1[n], 2) for n in names},
        "runs": runs,
        "sf": 10,
        "note": "top sf1-cost queries only; corpus 10x sf1",
        "skipped": skip,
    }
    out = os.path.join(REPO, "benchmark", "bench_detail_sf10.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({k: detail[k] for k in ("value", "queries", "sf1_ratio")}, indent=1))
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
