"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all outside the program:

- spans recorded by wrappers that this module installs around the
  public functions of each ``fdf_spark`` layer package (name, start,
  end, parent, op id), kept in memory and written out at the end;
- Spark's own uncompressed event log: jobs, stages, task metrics, SQL
  executions, SQL and Python-worker accumulables, and the ``StreamingQueryListener``
  progress events the listener bus forwards to it (read from the log
  rather than through a Python listener, which needs the py4j callback
  server).
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from contextlib import contextmanager
from datetime import datetime

#: fdf_spark sub-packages whose public functions get spans
LAYERS = ("catalog", "operators", "functions", "llm", "sources", "streaming")


class Tracer:
    """In-memory span recorder. Times are ``time.time()`` seconds so they
    line up with the millisecond wall-clock stamps of the event log."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        #: layer wrappers record only while an op runs
        self.active = False
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, fn, layer: str):
        qual = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(qual, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> int:
        """Wrap every public function of the layer packages and rebind
        every module-level reference to it inside ``fdf_spark``.  Returns
        the number of functions wrapped."""
        import fdf_spark

        for info in pkgutil.walk_packages(fdf_spark.__path__, "fdf_spark."):
            importlib.import_module(info.name)
        modules = [m for n, m in list(sys.modules.items())
                   if n.startswith("fdf_spark.") and m is not None]
        wrapped: dict[int, object] = {}
        for mod in modules:
            layer = mod.__name__.split(".")[1]
            if layer not in LAYERS:
                continue
            for name, obj in vars(mod).items():
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__
                        # pandas/Python UDF objects carry their own
                        # call protocol; leave them alone
                        or hasattr(obj, "evalType")):
                    continue
                wrapped[id(obj)] = self._wrap(obj, layer)
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and w.__wrapped__ is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, w)
        return len(wrapped)

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> list[dict]:
    """All events logged under ``log_dir`` (one uncompressed, unrolled
    log file per context)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: task-level SQL metrics (times in ms) -> per-layer metric
ACCUMS = {
    "scan time": "spark.scan_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


#: micro-batch phases (``durationMs`` keys) summed per metric
PROGRESS = {
    "streaming.trigger_s": ["triggerExecution"],
    "streaming.add_batch_s": ["addBatch"],
    "streaming.planning_s": ["queryPlanning"],
    "streaming.wal_commit_s": ["walCommit", "commitOffsets"],
}


def spark_metrics(events: list[dict], lo: float, hi: float) -> tuple[dict, list[dict], list[dict]]:
    """Totals of the jobs and tasks that started within [lo, hi]
    (seconds) and of the micro-batches that triggered in it, plus, for
    attribution to ops, the job list ``[{start, end, run_s}]`` (``run_s``:
    executor run time of the job's tasks) and the SQL execution list
    ``[{start, end}]``."""
    m = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s",
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
        "spark.input_rows", "spark.input_bytes", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", *ACCUMS.values(),
        "streaming.batches", *PROGRESS)}
    jobs: dict[int, dict] = {}
    sqls: dict[int, dict] = {}
    #: stage id -> the job that submitted it
    stage_job: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1e3
            if lo <= t <= hi:
                job = jobs[e["Job ID"]] = {"start": t, "end": hi, "run_s": 0.0}
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            t = e["time"] / 1e3
            if lo <= t <= hi:
                sqls[e["executionId"]] = {"start": t, "end": hi}
        elif kind.endswith("SparkListenerSQLExecutionEnd") and e["executionId"] in sqls:
            sqls[e["executionId"]]["end"] = e["time"] / 1e3
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if lo <= t <= hi:
                m["streaming.batches"] += 1
                for key, fields in PROGRESS.items():
                    m[key] += sum(p["durationMs"].get(f, 0) for f in fields) / 1e3
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted" and e["Stage Info"]["Stage ID"] in stage_job:
            m["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            m["spark.tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            dur_ms = ti["Finish Time"] - ti["Launch Time"]
            m["spark.sched_delay_s"] += max(0, dur_ms - run_ms - tm.get("Executor Deserialize Time", 0)
                                            - tm.get("Result Serialization Time", 0)
                                            - ti.get("Getting Result Time", 0)) / 1e3
            m["spark.executor_run_s"] += run_ms / 1e3
            stage_job[e["Stage ID"]]["run_s"] += run_ms / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            im = tm.get("Input Metrics", {})
            m["spark.input_rows"] += im.get("Records Read", 0)
            m["spark.input_bytes"] += im.get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["spark.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for a in ti.get("Accumulables", []):
                key = ACCUMS.get(a.get("Name"))
                if key is not None:
                    v = float(a.get("Update") or 0)
                    m[key] += v / 1e3 if key.endswith("_s") else v
    m["spark.jobs"] = float(len(jobs))
    return m, list(jobs.values()), list(sqls.values())


def layer_metrics(spans: list[dict], jobs: list[dict]) -> dict:
    """Per-layer self time, call count and jobs launched while the layer
    is the innermost traced layer on the stack."""
    out = {}
    for layer in LAYERS:
        out.update({f"{layer}.self_s": 0.0, f"{layer}.calls": 0.0, f"{layer}.eager_jobs": 0.0})
    child_time = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    for s in spans:
        if s["layer"] in LAYERS:
            out[f"{s['layer']}.self_s"] += (s["end"] - s["start"]) - child_time[s["id"]]
            out[f"{s['layer']}.calls"] += 1
    # innermost span containing each job's submission
    by_start = sorted((s for s in spans if s["layer"] in LAYERS), key=lambda s: s["start"])
    for j in jobs:
        inner = None
        for s in by_start:
            if s["start"] > j["start"]:
                break
            if s["end"] >= j["start"] and (inner is None or s["start"] >= inner["start"]):
                inner = s
        if inner is not None:
            out[f"{inner['layer']}.eager_jobs"] += 1
    return out


def jobs_between(jobs: list[dict], lo: float, hi: float) -> int:
    return sum(1 for j in jobs if lo <= j["start"] < hi)


def covered(intervals: list[dict], lo: float, hi: float) -> float:
    """Time within [lo, hi] during which any of ``intervals`` (dicts with
    ``start`` and ``end``) runs."""
    return _union_len([(i["start"], i["end"]) for i in intervals], lo, hi)
