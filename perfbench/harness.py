"""Shared run context, metric names and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per timed run; setup_s is their median

END_TO_END = {
    "setup_s": "s", "records_per_s": "1/s", "epoch_p50_s": "s", "wall_s": "s",
    "query_p50_s": "s", "query_p95_s": "s",
}
_STREAM = {
    "batches": "count", "batch_s": "s", "add_batch_s": "s", "planning_s": "s", "log_commit_s": "s",
    "state_update_s": "s", "state_commit_s": "s", "state_rows_updated": "count",
    "state_rows_total": "count", "state_mem_mb": "MB", "state_stores": "count", "input_rows": "count",
}
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.eager_builders": "count",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.task_cpu_s": "s", "operators.task_run_s": "s",
    "operators.gc_s": "s", "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB", "operators.python_total_s": "s", "operators.python_boot_s": "s",
    "operators.python_mb": "MB",
    "sources.scan_mb": "MB", "sources.files_read": "count", "sources.offset_s": "s",
    **{f"streaming.{k}": u for k, u in _STREAM.items()},
    **{f"streaming.s{i}.{k}": u for i in (1, 2, 3) for k, u in _STREAM.items()},
    "streaming.replay_s": "s", "streaming.local1_records_per_s": "1/s",
    "dp.mechanism_s": "s", "dp.released_keys": "count",
    "functions.open_split_s": "s",
    "wordcount.drain_s": "s", "wordcount.batch_s": "s", "wordcount.s1.batch_s": "s",
    "wordcount.s1.add_batch_s": "s", "wordcount.s1.state_update_s": "s", "wordcount.s2.batch_s": "s",
    "wordcount.s2.add_batch_s": "s", "wordcount.s2.state_update_s": "s", "wordcount.s2.state_mem_mb": "MB",
    "wordcount.released_words": "count",
    "registry.dedup_s": "s", "registry.text_s": "s", "registry.tpch_s": "s", "registry.knn_s": "s",
    "registry.dp_s": "s", "registry.other_s": "s",
    "trace.overhead_s": "s", "failed_ratio": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(list(xs)))


def p95(xs) -> float:
    xs = sorted(xs)
    return float(statistics.quantiles(xs, n=20, method="inclusive")[18]) if len(xs) > 1 else float(xs[0])


class Run:
    """Per-run context: a fresh work directory inside the checkout, the
    session, and the streaming progress listener."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench_out")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "stream-tmp"):
            os.makedirs(os.path.join(self.work, d))
        os.makedirs(self.out, exist_ok=True)
        self.spark = None
        self.listener = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def set_up(self, warmup, times: int = SETUPS, cpus: int | None = None, conf: dict | None = None) -> dict:
        """Start the session ``times`` times (the first starts the JVM
        if none is running, the rest are restarts in it), each followed
        by ``warmup``. Returns the median set-up and session-start
        times."""
        from confidential_storm_spark.session import get_spark
        from observe import ProgressListener

        setups, starts = [], []
        for _ in range(times):
            self.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(cpus=cpus or nproc(), extra_conf=conf)
            t1 = time.perf_counter()
            warmup(self.spark)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        return {"setup_s": median(setups), "start_s": median(starts), "setups": setups}

    def peak_rss_mb(self) -> float:
        """Driver plus JVM peak resident set, from /proc VmHWM."""
        from observe import vm_hwm_mb

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb() + vm_hwm_mb(jvm_pid)

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def stop_jvm(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin
        closes), and wait for it. The next set-up starts a fresh JVM."""
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        self.stop_jvm()
        shutil.rmtree(self.work, ignore_errors=True)

    def result(self, attempted: int, failed: int, metrics: dict, **record) -> dict:
        """The result line; the same figures plus ``record`` (input size,
        sample counts) also go to stderr and to .perfbench_out/."""
        units = PER_LAYER if self.trace else END_TO_END
        missing = set(units) - set(metrics)
        if missing:
            raise KeyError(f"metrics not measured: {sorted(missing)}")
        out = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        rec = {"workload": self.workload, "seed": self.seed, "trace": int(self.trace), **record, **out}
        name = f"{self.workload}_{self.seed}_trace{int(self.trace)}.json"
        with open(os.path.join(self.out, name), "w") as f:
            json.dump(rec, f, indent=1)
        print(json.dumps(rec), file=sys.stderr)
        return out


def prepare_env(work: str) -> None:
    """Everything the JVM and the Python workers inherit: the library
    on PYTHONPATH (the driver's sys.path does not reach the workers),
    and every scratch location inside this run's work directory.
    Session settings stay at the library defaults."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_STREAM_TMP"] = os.path.join(work, "stream-tmp")
    # -XX:-UsePerfData: HotSpot keeps its perf-data file in /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    ).strip()
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = None
