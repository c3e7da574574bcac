"""Traced-run support: spans placed around calls into the engine's layers,
a parser for Spark's JSON event log, and a streaming-progress listener.

Nothing here changes the engine.  ``instrument`` rebinds a layer function
in every loaded module of the package to a wrapper that records a span;
the original is restored by the returned ``undo``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from datetime import datetime

# SQL-metric names Spark 4.1 attaches to tasks, and their keys here.
PYTHON_WORKER_ACCUMS = {
    "data sent to Python workers": "python_worker.bytes_sent",
    "data returned from Python workers": "python_worker.bytes_returned",
    "time to start Python workers": "python_worker.start_s",
    "time to initialize Python workers": "python_worker.init_s",
    "time to run Python workers": "python_worker.run_s",
}
_MS_ACCUMS = {"python_worker.start_s", "python_worker.init_s", "python_worker.run_s"}


class Tracer:
    """In-memory spans: name, start, end, parent index and query-run id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id: int | None = None

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "run": self.run_id})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._stack.pop()

    def unwind(self) -> None:
        """End every open span (after a call raised)."""
        while self._stack:
            self.end(self._stack[-1])

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)
        traced.__wrapped__ = fn
        return traced

    def of_run(self, run: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run and s["name"] == name]


def instrument(tracer: Tracer, package: str, targets: dict[str, tuple]):
    """Rebind each ``(module, attribute)`` target, wherever the package has
    imported it, to a span-recording wrapper named by the dict key."""
    undo = []
    for name, (module, attr) in targets.items():
        orig = getattr(module, attr)
        traced = tracer.wrap(name, orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(package):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    undo.append((mod, key, orig))

    def restore():
        for mod, key, orig in undo:
            setattr(mod, key, orig)
    return restore


def read_event_log(log_dir: str) -> list[dict]:
    """All events under ``log_dir`` (plain or rolling ``eventlog_v2_*``)."""
    events = []
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in files:
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def jobs_from_events(events: list[dict]) -> list[dict]:
    """One record per finished job: interval (epoch seconds), stages, and the
    task metrics summed over its tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"start": e["Submission Time"] / 1e3, "end": None,
                         "stages": set(), "tasks": 0, "m": defaultdict(float),
                         "task_s": defaultdict(list)}
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job["stages"].add(e["Stage ID"])
            job["tasks"] += 1
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            job["task_s"][e["Stage ID"]].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
            m = job["m"]
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spark.input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics", {})
            m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            m["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
            m["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["spark.spill_disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["spark.spill_memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key = PYTHON_WORKER_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    val = float(acc.get("Update") or 0)
                    m[key] += val / 1e3 if key in _MS_ACCUMS else val
    return [j for j in jobs.values() if j["end"] is not None]


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_skew(jobs: list[dict]) -> float:
    """Worst stage's slowest task over its median task (stages of >1 task)."""
    worst = 1.0
    for job in jobs:
        for durs in job["task_s"].values():
            if len(durs) < 2:
                continue
            med = statistics.median(durs)
            if med > 0:
                worst = max(worst, max(durs) / med)
    return worst


def span_job_metrics(span: dict, jobs: list[dict]) -> dict:
    """Spark-side metrics of the jobs submitted inside one span.

    ``spark.job_s`` clips job intervals to the span, so it plus
    ``spark.driver_gap_s`` is the span's wall by construction.  Two figures
    show when that attribution is wrong: ``spark.job_unclipped_s``, the
    union of the same jobs' whole intervals (above ``spark.job_s`` when a
    job outlives the span), and ``spark.jobs_left_out``, the jobs that
    overlap the span but were submitted before it.
    """
    s, e = span["start"], span["end"]
    inside = [j for j in jobs if s <= j["start"] <= e]
    job_s = union_seconds([(max(j["start"], s), min(j["end"], e)) for j in inside])
    left_out = [j for j in jobs if j["start"] < s < j["end"]]
    out = defaultdict(float)
    stages: set = set()
    for j in inside:
        stages |= j["stages"]
        out["spark.tasks"] += j["tasks"]
        for k, v in j["m"].items():
            out[k] += v
    out["spark.jobs"] = len(inside)
    out["spark.stages"] = len(stages)
    out["spark.job_s"] = job_s
    out["spark.job_unclipped_s"] = union_seconds([(j["start"], j["end"]) for j in inside])
    out["spark.jobs_left_out"] = len(left_out)
    out["spark.driver_gap_s"] = (e - s) - job_s
    out["spark.stage_skew"] = stage_skew(inside)
    return out


def progress_time(progress: dict) -> float:
    """Batch start of a streaming progress record, as epoch seconds."""
    ts = progress["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def progress_metrics(progresses: list[dict]) -> dict:
    """Listener metrics summed over micro-batches."""
    out = defaultdict(float)
    keys = {"triggerExecution": "streaming.trigger_s", "addBatch": "streaming.add_batch_s",
            "queryPlanning": "streaming.query_planning_s",
            "latestOffset": "streaming.latest_offset_s", "getBatch": "streaming.get_batch_s",
            "walCommit": "streaming.wal_commit_s", "commitOffsets": "streaming.commit_offsets_s"}
    for p in progresses:
        out["streaming.batches"] += 1
        out["streaming.batch_rows"] += p.get("numInputRows", 0)
        for src, dst in keys.items():
            out[dst] += p.get("durationMs", {}).get(src, 0) / 1e3
        for op in p.get("stateOperators", []):
            out["state.rows_total"] += op.get("numRowsTotal", 0)
            out["state.memory_bytes"] += op.get("memoryUsedBytes", 0)
            out["state.commit_s"] += op.get("commitTimeMs", 0) / 1e3
            out["state.update_s"] += op.get("allUpdatesTimeMs", 0) / 1e3
            out["state.rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
    return out


def make_listener(sink: list):
    """A StreamingQueryListener that keeps every progress record as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()
