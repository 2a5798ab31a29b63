"""Workload ``dp_keyed``: the per-key DP-SQLP release over a Zipf-Mandelbrot
contribution stream, drained by streaming.keyed.run_keyed_dp_available_now
(epoch stamp -> per-(key, user) previous epoch -> per-key DP trees),
one micro-batch per epoch in every stage.

Why: many small state groups, so per-batch state-store cost and
per-group Python cost dominate; no crypto and no plan builders."""

from __future__ import annotations

import os
import shutil
import time

import gen
from harness import PER_LAYER, median, p95
from observe import Spans, event_log_conf, fold_event_log, operator_metrics, streaming_metrics

# Three epochs, so the median epoch leaves out the cold first batch. An
# epoch costs about 10 s on 4 cores, almost all of it per batch, so
# more epochs do not fit the run budget and fewer records save nothing.
RECORDS, KEYS, C, EPOCHS = 3600, 100, 32, 3


def warmup(spark) -> None:
    """Boot the Python workers (pandas and pyarrow imported) on every core."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(1).count()
    ident = pandas_udf(lambda s: s, "long")
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 1000).repartition(n).select(ident(F.col("id"))).count()
    spark.range(n * 64).withColumn("g", F.col("id") % n).groupBy("g").applyInPandas(
        lambda pdf: pdf.head(1), "id long, g long"
    ).count()


def drain(run, src: str, name: str) -> dict:
    """One availableNow drain of the three-stage pipeline over ``src``."""
    from confidential_storm_spark.operators.dp_batch import DPParams
    from confidential_storm_spark.streaming.keyed import run_keyed_dp_available_now

    spark = run.spark
    wd = run.path(name)
    shutil.rmtree(wd, ignore_errors=True)
    stream = spark.readStream.schema(gen.CONTRIB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    params = DPParams.zero_noise(t=EPOCHS, mu=0, c=C)
    t0 = time.time()
    res = run_keyed_dp_available_now(spark, stream, params, wd, gen.CONTRIB_SCHEMA)
    t1 = time.time()
    queries = run.listener.take()
    shutil.rmtree(wd, ignore_errors=True)
    return {"start": t0, "end": t1, "wall": t1 - t0, "queries": queries, "batches": res["batches"]}


def final_release(batches) -> dict:
    """key -> count at the key's latest released epoch."""
    latest: dict = {}
    for _, rows in batches:
        for r in rows:
            if r["key"] not in latest or r["epoch"] >= latest[r["key"]][0]:
                latest[r["key"]] = (r["epoch"], r["count"])
    return {k: c for k, (_, c) in latest.items()}


def check(d: dict, inputs: dict) -> tuple[int, int]:
    """(attempted, failed). One check per key: its last zero-noise
    release equals the generator's exact per-key sum. One check per
    epoch: the first stage read exactly that epoch's file as its batch."""
    released = final_release(d["batches"])
    expected = inputs["expected"]
    failed = sum(released.get(k) != v for k, v in expected.items())
    failed += len(set(released) - set(expected))
    stage1 = {p["batchId"]: p["numInputRows"] for p in d["queries"][0]["batches"]} if d["queries"] else {}
    failed += sum(stage1.get(e) != n for e, n in enumerate(inputs["rows_per_epoch"]))
    return len(expected) + inputs["epochs"], failed


def drain_metrics(d: dict) -> dict:
    qs = d["queries"]
    records = sum(p["numInputRows"] for p in qs[0]["batches"])
    per_epoch = [
        sum(p["durationMs"]["triggerExecution"] for q in qs for p in q["batches"] if p["batchId"] == e) / 1000.0
        for e in range(EPOCHS)
    ]
    per_query = [q["end"] - q["start"] for q in qs]
    return {
        "records_per_s": records / d["wall"],
        "epoch_p50_s": median(per_epoch),
        "wall_s": d["wall"],
        "query_p50_s": median(per_query),
        "query_p95_s": p95(per_query),
    }


def make_inputs(run) -> dict:
    return gen.write_contributions(run.seed, run.path("src"), RECORDS, KEYS, C, EPOCHS)


def input_size(inputs: dict) -> dict:
    return {k: v for k, v in inputs.items() if k != "expected"}


def timed(run) -> dict:
    inputs = make_inputs(run)
    setup = run.set_up(warmup)
    drains, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + run.seconds
    while not drains or time.perf_counter() < t_end:
        d = drain(run, run.path("src"), f"drain{len(drains)}")
        a, f = check(d, inputs)
        attempted, failed = attempted + a, failed + f
        drains.append(drain_metrics(d))
    metrics = {"setup_s": setup["setup_s"]}
    for k in drains[0]:
        metrics[k] = median(x[k] for x in drains)
    return run.result(attempted, failed, metrics, inputs=input_size(inputs), setups=setup["setups"],
                      samples={"drains": len(drains), "epochs": EPOCHS, "queries": 3}, drains=drains)


def mechanism_probe(src: str) -> tuple[float, dict]:
    """Drive StreamingDPMechanism in-process over the same epoch windows
    (per key: window total and user set), one snapshot per epoch."""
    import pyarrow.parquet as pq
    from confidential_storm_spark.dp.mechanism import StreamingDPMechanism
    from confidential_storm_spark.operators.dp_batch import DPParams

    p = DPParams.zero_noise(t=EPOCHS, mu=0, c=C)
    windows = []
    for e in range(EPOCHS):
        df = pq.read_table(os.path.join(src, f"part-{e:05d}.parquet")).to_pandas()
        g = df.groupby("key")
        windows.append(list(zip(g["value"].sum().items(), g["user_id"].agg(set).values)))
    t0 = time.perf_counter()
    mech = StreamingDPMechanism(p.sigma_key, p.sigma_hist, p.threshold_quantile, p.max_time_steps, p.mu,
                                p.max_contributions_per_user, seed=0)
    hist = {}
    for window in windows:
        for (key, total), users in window:
            mech.add_window(key, float(total), users)
        hist = mech.snapshot()
    return time.perf_counter() - t0, hist


def epoch0_s(d: dict) -> float:
    """First epoch's micro-batch durations summed over the stages."""
    return sum(p["durationMs"]["triggerExecution"] for q in d["queries"] for p in q["batches"]
               if p["batchId"] == 0) / 1000.0


def traced(run) -> dict:
    """Per-layer numbers. The local[1] drain of the first epoch runs
    first, in a fresh JVM like every timed drain. Then, each right after
    a session restart in the warmed JVM, an untraced drain of the first
    epoch and a traced drain of all epochs (event log on, spans
    recorded); the tracing overhead is the difference of their first
    epochs. Last, the in-process mechanism probe."""
    inputs = make_inputs(run)
    first = run.path("src_epoch0")
    os.makedirs(first)
    shutil.copy(os.path.join(run.path("src"), "part-00000.parquet"), first)
    spans = Spans()
    with spans.timed("local[1] set-up", "session"):
        setup = run.set_up(warmup, times=1, cpus=1)
    local1 = drain(run, first, "local1")
    spans.add("local[1] drain", "streaming", local1["start"], local1["end"])
    with spans.timed("set-up", "session"):
        run.set_up(warmup, times=1)
    untraced = drain(run, first, "untraced")
    log_dir = run.path("eventlog")
    with spans.timed("set-up (event log)", "session"):
        run.set_up(warmup, times=1, conf=event_log_conf(log_dir))
    d = drain(run, run.path("src"), "traced")
    attempted, failed = check(d, inputs)
    root = spans.add("dp_keyed drain", "streaming", d["start"], d["end"])
    spans.add_queries(d["queries"], parent=root)
    rss = run.peak_rss_mb()
    run.stop()
    jobs = [j for j in fold_event_log(log_dir) if d["start"] <= j["start"] <= d["end"]]
    spans.add_jobs(jobs)
    with spans.timed("mechanism probe", "dp"):
        mech_s, mech_hist = mechanism_probe(run.path("src"))
    attempted, failed = attempted + 1, failed + (mech_hist != inputs["expected"])
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(operator_metrics(jobs))
    m.update(streaming_metrics(d["queries"]))
    m.update({
        "session.start_s": setup["start_s"],
        "session.peak_rss_mb": rss,
        "operators.exec_s": sum(j["end"] - j["start"] for j in jobs),
        "dp.mechanism_s": mech_s,
        "dp.released_keys": len(final_release(d["batches"])),
        "streaming.local1_records_per_s": inputs["rows_per_epoch"][0] / local1["wall"],
        "trace.overhead_s": epoch0_s(d) - epoch0_s(untraced),
        "failed_ratio": failed / attempted,
    })
    spans.write(os.path.join(run.out, f"spans_dp_keyed_{run.seed}.json"))
    return run.result(attempted, failed, m, inputs=input_size(inputs), self_s=spans.self_times(),
                      untraced_epoch0_s=epoch0_s(untraced), traced_epoch0_s=epoch0_s(d), traced_wall_s=d["wall"],
                      local1_wall_s=local1["wall"])
