"""Measurement taken from outside the library: a streaming-progress
listener, per-unit Spark job groups, an event-log fold, in-memory spans
and /proc memory readings. Nothing here patches the library."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# durationMs phases in the order a micro-batch runs them; a batch's
# child spans are laid end to end in this order from the trigger start
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
PHASE_LAYER = {
    "latestOffset": "sources",
    "getBatch": "sources",
    "walCommit": "streaming",
    "commitOffsets": "streaming",
    "queryPlanning": "streaming",
    "addBatch": "operators",
}
STREAM_FIELDS = (
    "batches", "batch_s", "add_batch_s", "planning_s", "log_commit_s", "state_update_s",
    "state_commit_s", "state_rows_updated", "state_rows_total", "state_mem_mb",
    "state_stores", "input_rows",
)


def iso_to_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every query start, progress and termination event. The
    listener bus delivers a query's events in order, so once a query's
    termination has arrived all of its progress events have too. A
    query's recorded end is the end of its last micro-batch."""

    def __init__(self):
        self._cond = threading.Condition()
        self.started: list[dict] = []
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self._cond:
            self.started.append({
                "id": str(event.id), "run_id": str(event.runId), "start": iso_to_epoch(event.timestamp),
            })

    def onQueryProgress(self, event):
        with self._cond:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.add(str(event.id))
            self._cond.notify_all()

    def take(self, timeout: float = 30.0) -> list[dict]:
        """Wait for every started query to terminate, then hand back one
        record per query (in start order) and forget them."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while any(q["id"] not in self.terminated for q in self.started):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming queries did not report termination")
                self._cond.wait(left)
            queries = []
            for q in self.started:
                batches = [p for p in self.progress if p["id"] == q["id"]]
                queries.append({**q, "end": batch_end(batches[-1]) if batches else q["start"], "batches": batches})
            self.started, self.progress, self.terminated = [], [], set()
        return queries


def batch_end(progress: dict) -> float:
    """End of a micro-batch on the JVM clock (trigger start plus its
    duration); the listener's own delivery delay is left out."""
    return iso_to_epoch(progress["timestamp"]) + progress["durationMs"].get("triggerExecution", 0) / 1000.0


def stream_totals(batches: list[dict]) -> dict:
    """Fold one query's progress events into the streaming.* fields."""
    def d(p, k):
        return p["durationMs"].get(k, 0) / 1000.0

    ops_last = batches[-1]["stateOperators"] if batches else []
    return {
        "batches": len(batches),
        "batch_s": sum(d(p, "triggerExecution") for p in batches),
        "add_batch_s": sum(d(p, "addBatch") for p in batches),
        "planning_s": sum(d(p, "queryPlanning") for p in batches),
        "log_commit_s": sum(d(p, "walCommit") + d(p, "commitOffsets") for p in batches),
        "offset_s": sum(d(p, "latestOffset") + d(p, "getBatch") for p in batches),
        "state_update_s": sum(
            (o.get("allUpdatesTimeMs", 0) + o.get("allRemovalsTimeMs", 0)) / 1000.0
            for p in batches for o in p["stateOperators"]
        ),
        "state_commit_s": sum(o.get("commitTimeMs", 0) / 1000.0 for p in batches for o in p["stateOperators"]),
        "state_rows_updated": sum(o.get("numRowsUpdated", 0) for p in batches for o in p["stateOperators"]),
        "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops_last),
        "state_mem_mb": sum(o.get("memoryUsedBytes", 0) for o in ops_last) / 1e6,
        "state_stores": sum(o.get("numStateStoreInstances", 0) for o in ops_last),
        "input_rows": sum(p.get("numInputRows", 0) for p in batches),
    }


def streaming_metrics(queries: list[dict], prefix: str = "streaming", stages: int = 3,
                      fields=STREAM_FIELDS) -> dict:
    """``<prefix>.*`` totals over all queries plus ``<prefix>.s1.*`` ...
    per query in start order (zeros where fewer queries ran)."""
    per = [stream_totals(q["batches"]) for q in queries]
    out = {f"{prefix}.{f}": sum(p[f] for p in per) for f in fields}
    for i in range(stages):
        for f in fields:
            out[f"{prefix}.s{i + 1}.{f}"] = per[i][f] if i < len(per) else 0
    out["sources.offset_s"] = sum(p["offset_s"] for p in per)
    return out


class Spans:
    """In-memory spans; written out once, when the run ends."""

    def __init__(self):
        self.t0 = time.time()
        self.items: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span from epoch-second bounds; returns its id."""
        self.items.append({
            "id": len(self.items), "parent": parent, "name": name, "layer": layer,
            "start": start - self.t0, "end": end - self.t0, **attrs,
        })
        return len(self.items) - 1

    @contextlib.contextmanager
    def timed(self, name: str, layer: str):
        """Span around the body of a ``with`` block."""
        start = time.time()
        yield
        self.add(name, layer, start, time.time())

    def add_queries(self, queries: list[dict], parent: int | None = None) -> None:
        """One span per streaming query, one per micro-batch, and the
        batch's durationMs phases as its children."""
        for q in queries:
            qid = self.add(f"query {q['id'][:8]}", "streaming", q["start"], q["end"], parent)
            for p in q["batches"]:
                t = iso_to_epoch(p["timestamp"])
                dur = p["durationMs"]
                bid = self.add(f"batch {p['batchId']}", "streaming", t, batch_end(p), qid, rows=p.get("numInputRows", 0))
                for ph in PHASES:
                    if ph in dur:
                        self.add(ph, PHASE_LAYER[ph], t, t + dur[ph] / 1000.0, bid)
                        t += dur[ph] / 1000.0

    def add_jobs(self, jobs: list[dict]) -> None:
        """Spark jobs (from the event log) as children of the shortest
        recorded span that contains their submission."""
        spans = list(self.items)
        for j in jobs:
            t = j["start"] - self.t0
            around = [s for s in spans if s["start"] <= t <= s["end"]]
            parent = min(around, key=lambda s: s["end"] - s["start"])["id"] if around else None
            self.add(f"job {j['id']}", "operators", j["start"], j["end"], parent, group=j["group"])

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part covered by children."""
        kids: dict[int, list[dict]] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.items:
            covered, reach = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], reach), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.items, "self_s": self.self_times()}, f)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
    }


# Spark 4.1 SQL metric names of the Python evaluation nodes
PY_TOTAL = "time to run Python workers"  # ms
PY_BOOT = "time to start Python workers"  # ms
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _event_log_files(log_dir: str) -> list[str]:
    """The application's event log: one file, or (Spark 4's default
    rolling layout) a directory of events_<n>_* parts in order."""
    apps = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _lines(files: list[str]):
    for name in files:
        with open(name) as f:
            yield from f


def fold_event_log(log_dir: str) -> list[dict]:
    """Read the uncompressed event log in ``log_dir``. Returns the
    completed jobs with their group, times and task totals, so callers
    can sum any subset of jobs into operators.* / sources.* metrics."""
    files = _event_log_files(log_dir)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_name: dict[int, str] = {}
    exec_jobs: dict[int, list[int]] = {}
    driver_acc: list[tuple[int, int, int]] = []

    def walk_plan(info):
        for m in info.get("metrics", []):
            acc_name[m["accumulatorId"]] = m["name"]
        for c in info.get("children", []):
            walk_plan(c)

    for line in _lines(files):
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            ex = props.get("spark.sql.execution.id")
            jobs[jid] = {
                "id": jid,
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "task_run_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
                "scan_mb": 0.0, "files_read": 0, "python_total_s": 0.0, "python_boot_s": 0.0,
                "python_mb": 0.0,
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
            if ex is not None:
                exec_jobs.setdefault(int(ex), []).append(jid)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if jid is None or not m:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            j["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            j["task_run_s"] += m["Executor Run Time"] / 1000.0
            j["gc_s"] += m["JVM GC Time"] / 1000.0
            j["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
            r = m["Shuffle Read Metrics"]
            j["shuffle_read_mb"] += (r["Remote Bytes Read"] + r["Local Bytes Read"]) / 1e6
            j["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 1e6
            j["scan_mb"] += m["Input Metrics"]["Bytes Read"] / 1e6
            for a in e["Task Info"].get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.isdigit()):
                    continue
                upd = int(upd)
                if name == PY_TOTAL:
                    j["python_total_s"] += upd / 1000.0
                elif name == PY_BOOT:
                    j["python_boot_s"] += upd / 1000.0
                elif name in (PY_SENT, PY_RECV):
                    j["python_mb"] += upd / 1e6
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            walk_plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver_acc.append((e["executionId"], acc_id, value))
    for ex, acc_id, value in driver_acc:
        if acc_name.get(acc_id) == "number of files read" and exec_jobs.get(ex):
            jobs[exec_jobs[ex][0]]["files_read"] += int(value)
    return [j for j in jobs.values() if j["end"] is not None]


OPERATOR_FIELDS = (
    "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "python_total_s", "python_boot_s", "python_mb",
)


def operator_metrics(jobs: list[dict]) -> dict:
    """operators.* and the scan half of sources.* summed over ``jobs``."""
    out = {f"operators.{f}": sum(j[f] for j in jobs) for f in OPERATOR_FIELDS}
    out["operators.jobs"] = len(jobs)
    out["sources.scan_mb"] = sum(j["scan_mb"] for j in jobs)
    out["sources.files_read"] = sum(j["files_read"] for j in jobs)
    return out
