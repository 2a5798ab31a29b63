"""Focused per-query timing for optimization A/B runs.

Times the registry queries whose names match the given ``fnmatch``
patterns (``'stream_*'`` selects the stream-replay family) in ONE warm
session with the same action as bench.py (``df.count()``), printing
per-run seconds, the median and, after the timed runs, an
order-insensitive value hash per query (``check_correctness.value_hash``,
the correctness gate's scheme), so an A/B compares results as well as
speed.  ``--conf k=v`` (repeatable) adds session confs, ``--noop``
times the noop sink instead (computes every column, removes
sink/pruning artifacts), and ``--explain-dir`` dumps
``explain('formatted')`` per query.  A cold-then-warm pair at a large
scale factor is ``--warmup 0 --runs 2 --sf-dir DIR``.

Usage:
  python tools/qtime.py [--runs N] [--warmup N] [--noop] [--explain-dir DIR] \
      [--sf-dir DIR] [--conf k=v ...] pattern [pattern ...]
"""

from __future__ import annotations

import argparse
import contextlib
import fnmatch
import gc
import io
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_correctness import value_hash  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("patterns", nargs="+")
    args = ap.parse_args()

    from confidential_storm_spark.plans.queries import build_queries, prebuild_artifacts
    from confidential_storm_spark.session import get_spark

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="csspark-qtime", extra_conf=extra)
    spark.range(1).count()
    prebuild_artifacts(spark, args.sf_dir)
    qs = build_queries()
    names = [n for n in qs if any(fnmatch.fnmatchcase(n, p) for p in args.patterns)]
    unmatched = [p for p in args.patterns if not fnmatch.filter(qs, p)]
    if unmatched:
        print(f"patterns matching no query: {unmatched}", file=sys.stderr)
        return 2

    total = 0.0
    for name in names:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            del df
            gc.collect()
        samples: list[float] = []
        for i in range(args.warmup + args.runs):
            spark.sparkContext.setJobDescription(f"qtime:{name}:{i}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.perf_counter() - t0
            # drop the py4j ref so pinned checkpoint blocks are freed
            del df
            gc.collect()
            tag = "warm" if i < args.warmup else "run"
            print(f"# {name} {tag}{i}: {dt:.3f}s", file=sys.stderr)
            if i >= args.warmup:
                samples.append(dt)
        spark.sparkContext.setJobDescription(f"qtime:{name}:hash")
        h = value_hash(qs[name](spark, args.sf_dir).toPandas())
        gc.collect()
        med = statistics.median(samples)
        total += med
        print(f"{name}\tmedian={med:.3f}\truns={[round(s, 3) for s in samples]}\thash={h}")
    print(f"TOTAL\t{total:.3f}s over {len(names)} queries\tconfs={extra}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
