"""End-to-end curation capstone at the 100x shape (VERDICT r7 item 8):
train a quality probe, run curated STREAMING ingest (stateless quality
gate, then near-dedup against the self-maintaining standing band
index), probe that standing index with a day-2 incremental batch, then
cut a mixture-executed, sequence-packed training batch from the
survivors — every stage timed, rates to one CSV.

This is the shape a 100 TB curation pipeline runs daily: the corpus is
only ever touched by scan+map stages (quality gate is a pure per-row
expression, mixture execution is a broadcast+predicate), the only
joins are banded index probes whose cost is ∝ the incoming BATCH, and
the standing index grows by appends — nothing recomputes over history.

Stages (CSV rows, benchmark/capstone_sf{X}.csv):
  probe_train     full-batch GD on a 2% hash sample (decimal-exact)
  ingest          curated_ingest_stream over N parquet micro-batches
  ingest_batch_i  per-micro-batch wall from StreamingQuery progress
  index_probe     day-2 re-crawl batch vs the standing index (all dups)
  mixture_batch   per-source token budget -> hash_accept -> pack_assign

Usage: python tools/capstone_pipeline.py [factor] [workdir]
  factor   make_big_sf multiplier over sf0.1 (default 100 -> "sf10")
  workdir  scratch+output dir (default /tmp/spark_graft_capstone)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

N_INGEST_FILES = 8
PROBE_DIM = 256
PROBE_SAMPLE_RATE = 0.02  # hash-sample fraction for probe training
QUALITY_REJECT_QUANTILE = 0.2
PACK_BUDGET = 2048
MIXTURE_KEEP_FRAC = 0.3  # token budget = 30% of survivor tokens


def main() -> int:
    # --monitors: attach the four bounded-state curation monitors
    # (streaming HLL / Misra-Gries heavy hitters / histogram quantiles
    # / vocab-KL drift) to the SAME file feed the curated ingest
    # consumes, running CONCURRENTLY with it — the "filter the crawl
    # as it lands, watched" shape (VERDICT r8 #8).  Stage rates go to
    # capstone_{sf}_monitored.csv (the solo capstone CSV is left
    # untouched — the monitored run is contended by construction);
    # per-epoch monitor emissions go to capstone_monitors_{sf}.csv.
    with_monitors = "--monitors" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--monitors"]
    factor = int(argv[0]) if len(argv) > 0 else 100
    work = argv[1] if len(argv) > 1 else "/tmp/spark_graft_capstone"
    sf_label = f"sf{factor / 10:g}"
    data_dir = f"/tmp/spark_graft_{sf_label}"

    if not os.path.exists(f"{data_dir}/documents.parquet"):
        print(f"generating {sf_label} testdata at {data_dir} ...", flush=True)
        subprocess.run(
            [sys.executable, f"{HERE}/make_big_sf.py", str(factor), data_dir],
            check=True,
        )

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.packing import pack_assign
    from confidential_storm_spark.operators.quality_model import (
        hashed_tf_features,
        linear_probe_train,
        quality_score_expr,
        rule_labels,
    )
    from confidential_storm_spark.operators.sampling import hash_accept
    from confidential_storm_spark.session import get_spark
    from confidential_storm_spark.streaming.ingest_dedup import (
        curated_ingest_stream,
        process_ingest_batch,
    )

    spark = get_spark()
    rows: list[dict] = []

    def record(stage: str, wall: float, rows_in: int, rows_out: int, detail: str = ""):
        rows.append(
            dict(
                stage=stage,
                wall_s=round(wall, 2),
                rows_in=rows_in,
                rows_out=rows_out,
                rate_rows_per_s=round(rows_in / wall, 1) if wall > 0 else None,
                detail=detail,
            )
        )
        print(f"{stage:16s} {wall:8.1f}s  in={rows_in:>9,}  out={rows_out:>9,}  {detail}", flush=True)

    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    n_docs = docs.count()

    # ---- stage 1: quality probe on a 2% hash sample (deterministic) --------
    t0 = time.time()
    sample = docs.filter(hash_accept(F.col("doc_id"), PROBE_SAMPLE_RATE))
    n_sample = sample.count()
    weights = linear_probe_train(
        hashed_tf_features(sample, dim=PROBE_DIM), rule_labels(sample), dim=PROBE_DIM
    )
    # threshold at the sample's 20th percentile -> gate rejects ~20%
    min_score = sample.select(
        quality_score_expr(weights).alias("s")
    ).approxQuantile("s", [QUALITY_REJECT_QUANTILE], 0.001)[0]
    record("probe_train", time.time() - t0, n_sample, PROBE_DIM + 1,
           f"dim={PROBE_DIM} min_score={min_score:.6f}")

    # ---- stage 2: curated streaming ingest over N micro-batches ------------
    src = f"{work}/src"
    docs.repartition(N_INGEST_FILES).write.parquet(src)
    if with_monitors:
        # watermark flusher: one doc_id=-1 row in a LATER-mtime file
        # (file source replays in mtime order, so it is the last
        # micro-batch); the monitors stamp it 1h ahead so every real
        # event-time window closes, and the ingest filters it out
        docs.limit(1).withColumn(
            "doc_id", F.lit(-1).cast("long")
        ).write.mode("append").parquet(src)

    monitor_qs: dict[str, tuple] = {}
    if with_monitors:
        from confidential_storm_spark.streaming import (
            hashed_ref_probs,
            histogram_quantiles_stream,
            hll_distinct_stream,
            vocab_kl_stream,
        )
        from confidential_storm_spark.streaming.heavy_hitters import (
            heavy_hitters_stream,
        )

        ref = hashed_ref_probs(
            [
                r["text"]
                for r in docs.filter(F.abs(F.hash("doc_id")) % 50 == 0)
                .select("text")
                .collect()
            ],
            n_bins=512,
        )

        def mon_feed():
            s = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            base = F.to_timestamp(F.lit("2026-03-01 00:00:00"))
            return s.select(
                "doc_id",
                "source",
                "text",
                F.length("text").cast("double").alias("n_chars"),
                F.when(
                    F.col("doc_id") < 0,
                    F.to_timestamp(F.lit("2026-03-01 01:00:00")),
                )
                .otherwise(
                    base
                    + F.make_interval(secs=(F.col("doc_id") % 50).cast("double"))
                )
                .alias("ts"),
            )

        monitors = {
            "hll_distinct_sources": (
                "append",
                lambda: hll_distinct_stream(
                    mon_feed(), "source", [], window="1 minute",
                    watermark_delay="30 seconds",
                ),
            ),
            "heavy_hitter_sources": (
                "update",
                lambda: heavy_hitters_stream(
                    mon_feed().select("source"), "source",
                    capacity=32, num_shards=4,
                ),
            ),
            "length_quantiles": (
                "append",
                lambda: histogram_quantiles_stream(
                    mon_feed(), "n_chars", qs=(0.5, 0.9, 0.99),
                    width=20, n_buckets=128, window="1 minute",
                    watermark_delay="30 seconds",
                ),
            ),
            "vocab_kl_drift": (
                "append",
                lambda: vocab_kl_stream(
                    mon_feed(), "text", ref, window="1 minute",
                    watermark_delay="30 seconds",
                ),
            ),
        }

    index_path, survivors_path = f"{work}/index", f"{work}/survivors"
    t0 = time.time()
    if with_monitors:
        for name, (mode, make) in monitors.items():
            collected: list = []

            def capture(df, bid, acc=collected):
                acc.append((bid, df.collect()))

            mq = (
                make()
                .writeStream.outputMode(mode)
                .foreachBatch(capture)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{work}/mon_ckpt/{name}")
                .start()
            )
            monitor_qs[name] = (mq, collected)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if with_monitors:
        stream = stream.where(F.col("doc_id") >= 0)  # drop the flusher
    q = curated_ingest_stream(
        stream,
        weights,
        index_path,
        survivors_path,
        f"{work}/ckpt",
        rejects_path=f"{work}/rejects",
        min_score=min_score,
    )
    wall_ingest = time.time() - t0
    monitor_rows: list[dict] = []
    for name, (mq, collected) in monitor_qs.items():
        mq.awaitTermination()
        mon_wall = time.time() - t0  # from the common concurrent start
        for bid, batch in collected:
            if not batch:
                continue
            monitor_rows.append(
                dict(
                    monitor=name,
                    batch_id=bid,
                    emitted_rows=len(batch),
                    wall_to_done_s=round(mon_wall, 1),
                    sample=str(batch[:2])[:200],
                )
            )
        print(
            f"monitor {name:24s} done at +{mon_wall:6.1f}s, "
            f"{sum(len(b) for _, b in collected)} rows over "
            f"{len([1 for _, b in collected if b])} emitting batches",
            flush=True,
        )
    survivors = spark.read.parquet(survivors_path)
    n_surv = survivors.count()
    n_rej = spark.read.parquet(f"{work}/rejects").count()
    record("ingest", wall_ingest, n_docs, n_surv,
           f"batches={N_INGEST_FILES} quality_rejects={n_rej} "
           f"neardup_drops={n_docs - n_surv - n_rej}")
    for i, p in enumerate(q.recentProgress):
        if not int(p["numInputRows"]):
            continue  # the terminal empty trigger
        dur = p["durationMs"]["triggerExecution"] / 1000.0
        # numInputRows multiply-counts the foreachBatch body's re-scans
        # (each write re-executes the batch scan), so report the true
        # per-file row count and keep the raw number as detail
        record(f"ingest_batch_{i}", dur, n_docs // N_INGEST_FILES, -1,
               f"numInputRows={p['numInputRows']}")

    # ---- stage 3: day-2 incremental batch vs the standing index ------------
    # a re-crawl: yesterday's first micro-batch reappears under new ids;
    # the standing index must drop ~all of it at batch-proportional cost
    day2 = (
        spark.read.parquet(
            f"{src}/{sorted(f for f in os.listdir(src) if f.startswith('part-'))[0]}"
        )
        .repartition(32)  # one-file batch: spread the interpreted scorer
        .withColumn("doc_id", F.col("doc_id") + 1_000_000_000)
        .filter(quality_score_expr(weights) >= min_score)
        .localCheckpoint()  # score once; count + ingest reuse it
    )
    n_day2 = day2.count()
    t0 = time.time()
    process_ingest_batch(day2, index_path, f"{work}/day2_survivors")
    wall = time.time() - t0
    try:
        n_day2_surv = spark.read.parquet(f"{work}/day2_survivors").count()
    except Exception:
        n_day2_surv = 0  # everything deduped -> nothing written
    record("index_probe", wall, n_day2, n_day2_surv,
           f"recrawl_dropped={n_day2 - n_day2_surv}")

    # ---- stage 4: mixture-executed, packed training batch ------------------
    t0 = time.time()
    from confidential_storm_spark.functions.text import words

    n_tok = F.size(words(F.col("text")))
    per_src = survivors.groupBy("source").agg(F.sum(n_tok).alias("tokens"))
    budget_row = per_src.agg(
        F.sum("tokens").alias("tot"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    budget = int(budget_row["tot"] * MIXTURE_KEEP_FRAC)
    plan = per_src.select(
        "source",
        "tokens",
        F.round(F.least(F.lit(1.0), (F.lit(budget) / budget_row["k"]) / F.col("tokens")), 6).alias("weight"),
    ).withColumn(
        "_thr", F.round(F.col("weight") * 1_000_000, 0).cast("long")
    )
    kept = (
        survivors.join(F.broadcast(plan), "source")
        .filter(hash_accept(F.col("doc_id"), F.col("_thr")))
    )
    packed = pack_assign(kept, PACK_BUDGET, shard_col="source", order_col="doc_id")
    packed.write.parquet(f"{work}/training_batch")
    out = spark.read.parquet(f"{work}/training_batch")
    n_kept = out.count()
    tok_kept = out.agg(F.sum("n_tokens")).collect()[0][0]
    n_packs = out.select("source", "pack_id").distinct().count()
    audit = (
        out.groupBy("source")
        .agg(F.sum("n_tokens").alias("kept_tokens"))
        .join(plan, "source")
        .select(
            "source", "weight",
            F.round(F.col("kept_tokens") / F.col("tokens"), 4).alias("realized"),
        )
        .orderBy("source")
        .collect()
    )
    wall = time.time() - t0
    record("mixture_batch", wall, n_surv, n_kept,
           f"tokens={tok_kept} packs={n_packs} budget={PACK_BUDGET} "
           + " ".join(f"{r['source']}:{r['weight']:.3f}->{r['realized']:.3f}" for r in audit[:5]))

    # ---- outputs ------------------------------------------------------------
    import csv

    suffix = "_monitored" if with_monitors else ""
    csv_path = f"{REPO}/benchmark/capstone_{sf_label}{suffix}.csv"
    with open(csv_path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    if with_monitors and monitor_rows:
        mon_csv = f"{REPO}/benchmark/capstone_monitors_{sf_label}.csv"
        with open(mon_csv, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(monitor_rows[0].keys()))
            w.writeheader()
            w.writerows(monitor_rows)
        print(f"wrote {mon_csv}")
    total = sum(r["wall_s"] for r in rows if not r["stage"].startswith("ingest_batch"))
    print(json.dumps({
        "metric": "capstone_wall_sec", "value": round(total, 1), "unit": "sec",
        "sf": factor / 10, "docs": n_docs, "survivors": n_surv,
        "training_docs": n_kept, "training_tokens": int(tok_kept),
        "csv": csv_path,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
