"""Measured A/B: Spark's runtime bloom-filter join reduction
(`spark.sql.optimizer.runtime.bloomFilter.*`) on the selective
dim-slice -> fact join — the third member of the shuffle-reduction
toolbox next to the bucketing A/B (benchmark/bucketed_join_ab.csv,
written by the since deleted tools/bucketed_join_ab.py: bucketing
removes the shuffle entirely for a one-time layout cost) and the skew
A/B (benchmark/skew_join_ab.csv, written by the since deleted
tools/skew_join_ab.py).

Shape: lineitem joined to a FILTERED orders slice on l_orderkey.  The
tables are not partitioned by the join key, so dynamic partition
pruning cannot apply; the runtime bloom is the only mechanism that can
push the dim's selectivity into the fact side at run time.  Spark
builds a bloom filter over the filtered dim's join keys and injects
`BloomFilterMightContain` into the fact scan's post-scan filter —
fact rows that cannot match are dropped BEFORE the shuffle, so the
eliminated cost is shuffle volume (at 100 TB, the dominant term of a
fact-fact join whose dim side is selective but above the broadcast
threshold).

Sandbox scaling, stated plainly: the defaults
(creationSideThreshold 10 MB, applicationSideScanSizeThreshold 10 GB)
are tuned for warehouses — at sf1 the fact scan is ~100 MB, far below
the 10 GB application-side gate, so stock Spark correctly declines to
build the filter (the filter's own build cost needs a big scan to
amortize).  The A/B lowers the application gate to 0 to measure what
the filter DOES when it fires; the defaults are the right production
posture and trip naturally at warehouse scale.

Each variant runs 3 times after an untimed warm-up; results are
asserted identical across variants.  Appends
``benchmark/runtime_filter_ab.csv``.

Usage: python tools/runtime_filter_ab.py [sf_dir] [runs]
"""

from __future__ import annotations

import csv
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from confidential_storm_spark.session import get_spark

    spark = get_spark(app_name="csspark-runtime-filter-ab")
    spark.range(1).count()

    # broadcast would bypass the shuffle entirely and hide the effect
    # under test — disable it, as the 100 TB shape does by size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def q():
        dim = orders.where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.year("o_orderdate") == 1996)
        ).select("o_orderkey", "o_custkey")
        return (
            lineitem.join(dim, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
            )
            .agg(
                F.count(F.lit(1)).alias("groups"),
                F.sum("n").alias("rows"),
                F.sum("rev").alias("rev"),
            )
        )

    variants = [
        ("bloom_off", {"spark.sql.optimizer.runtime.bloomFilter.enabled": "false"}),
        (
            "bloom_on_gate_open",
            {
                "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
                # sandbox scaling (see module docstring): open the
                # application-side gate so the filter fires at sf1
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            },
        ),
        (
            "bloom_defaults",
            {"spark.sql.optimizer.runtime.bloomFilter.enabled": "true"},
        ),
    ]

    results = {}
    rows_out = []
    for name, confs in variants:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = q()._jdf.queryExecution().executedPlan().toString()
        injected = "mightContain" in plan or "BloomFilter" in plan
        q().collect()  # warm-up, untimed
        walls = []
        for _ in range(runs):
            t0 = time.perf_counter()
            res = q().collect()
            walls.append(time.perf_counter() - t0)
        results[name] = [tuple(r) for r in res]
        rows_out.append(
            dict(
                sf_dir=os.path.basename(sf_dir.rstrip("/")),
                variant=name,
                filter_injected=injected,
                median_s=round(statistics.median(walls), 2),
                min_s=round(min(walls), 2),
                max_s=round(max(walls), 2),
                runs=runs,
            )
        )
        print(rows_out[-1], flush=True)
        # reset to session defaults between variants
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )

    assert len({tuple(v) for v in results.values()}) == 1, "variants disagree"

    out = os.path.join(REPO, "benchmark", "runtime_filter_ab.csv")
    exists = os.path.exists(out)
    with open(out, "a", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows_out[0].keys()))
        if not exists:
            w.writeheader()
        w.writerows(rows_out)
    print(f"appended {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
