"""Tracing for the traced run: spans around calls into each kittispark
layer, and engine counts read back from Spark's event log.

Spans are recorded from the benchmark's side: ``Tracer.install``
replaces the public functions of each layer module with a wrapper that
records a span, and rebinds every reference that already-imported
kittispark modules hold to the original. It must run before
``registry._load_all()`` imports the query modules, which bind
operators with ``from ... import``. Spans stay in memory and are
written out once, at exit.

Lazy DataFrame calls return before Spark runs anything, so a layer's
span covers its driver-side work (plan building, listing, schema and
footer reads); engine work shows under the span of the action that
runs it and, per task, in the ``spark.*`` counts from the event log.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

# (module, function names or None for every public function, layer)
TARGETS = (
    ("kittispark.session", ("get_spark",), "session"),
    ("kittispark.registry", ("_load_all", "ensure_package_shipped"), "registry"),
    ("kittispark.sources.tables", ("load_table",), "sources"),
    ("kittispark.sources.kitti", ("read_points", "read_labels", "read_calib"), "sources"),
    ("kittispark.operators.kitti", ("analyze", "cutout_pipeline", "frame_count_stats"),
     "operators"),
    ("kittispark.operators.util", ("materialize",), "operators"),
    ("kittispark.operators.dedup", None, "operators"),
    ("kittispark.operators.similarity", None, "operators"),
    ("kittispark.sinks", ("write_kitti_bins", "write_frames"), "sinks"),
    ("kittispark.streaming.ops", ("run_available_now",), "streaming"),
)
# calls whose arguments and result are kept (the last call of each)
CAPTURE = frozenset({
    "operators.dedup.minhash_lsh_candidates",
    "operators.dedup.connected_components",
})
LAYERS = ("session", "registry", "sources", "operators", "queries", "sinks", "streaming")


class Tracer:
    """In-memory span recorder. A span is (name, layer, start, end,
    parent index, job); ``job`` is the benchmark job the span ran in,
    or -1 for set-up. While ``enabled`` is false nothing is recorded."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.job = -1
        self.enabled = True
        self.captured: dict[str, tuple] = {}
        self._local = threading.local()

    def span(self, name: str, layer: str):
        return _Span(self, name, layer) if self.enabled else contextlib.nullcontext()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            if name in CAPTURE:
                tracer.captured[name] = ((args, kwargs), result)
            return result

        return traced

    def install(self) -> None:
        replaced = {}
        for mod_name, names, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            short = mod_name.replace("kittispark.", "")
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if inspect.isfunction(f) and not n.startswith("_")
                    and f.__module__ == mod_name
                ]
            for n in names:
                orig = getattr(mod, n)
                wrapped = self._wrap(orig, f"{short}.{n.lstrip('_')}", layer)
                replaced[id(orig)] = (orig, wrapped)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("kittispark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = replaced.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    # ------------------------------------------------------------------
    # Reports
    # ------------------------------------------------------------------

    def _children_time(self) -> list[float]:
        kids = [0.0] * len(self.spans)
        for s in self.spans:
            if s[4] is not None:
                kids[s[4]] += s[3] - s[2]
        return kids

    def self_time(self, jobs: set[int]) -> dict[str, float]:
        """Layer -> seconds spent in that layer's spans, minus the time
        of the spans they called, summed over ``jobs``."""
        kids = self._children_time()
        out = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            if s[5] in jobs:
                out[s[1]] += (s[3] - s[2]) - kids[i]
        return out

    def per_job(self, jobs: list[int], pred) -> list[tuple[int, float]]:
        """[(calls, seconds)] per job for spans whose name matches pred."""
        acc = {j: [0, 0.0] for j in jobs}
        for s in self.spans:
            if s[5] in acc and pred(s[0]):
                acc[s[5]][0] += 1
                acc[s[5]][1] += s[3] - s[2]
        return [tuple(acc[j]) for j in jobs]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(
                    {"name": s[0], "layer": s[1], "start": s[2], "end": s[3],
                     "parent": s[4], "job": s[5]}
                ) + "\n")


class _Span:
    __slots__ = ("tracer", "rec", "idx")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer = tracer
        self.rec = [name, layer, 0.0, 0.0, None, tracer.job]

    def __enter__(self):
        local = self.tracer._local
        stack = getattr(local, "stack", None)
        if stack is None:
            stack = local.stack = []
        self.rec[4] = stack[-1] if stack else None
        self.idx = len(self.tracer.spans)
        self.tracer.spans.append(self.rec)
        stack.append(self.idx)
        self.rec[2] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.rec[3] = time.perf_counter()
        self.tracer._local.stack.pop()
        return False


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

_PY_NODES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF", "ArrowEvalPython")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one plain-text event log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _walk_plan(node: dict, parent_py: bool, acc: dict) -> None:
    name = node.get("nodeName", "")
    is_py = any(k in name for k in _PY_NODES)
    for m in node.get("metrics", []):
        if name.startswith("Scan "):
            acc["scan"][m["accumulatorId"]] = m["name"]
        if is_py and m["name"] == "data sent to Python workers":
            acc["py_bytes"].add(m["accumulatorId"])
    if parent_py:
        # rows sent to a Python node: output rows of its nearest child
        # that counts rows
        rows = [m for m in node.get("metrics", []) if m["name"] == "number of output rows"]
        if rows:
            acc["py_rows"].add(rows[0]["accumulatorId"])
            parent_py = False
    for child in node.get("children", []):
        _walk_plan(child, is_py or parent_py, acc)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))] \
            if os.path.isdir(path) else [path]
        for fp in files:
            if os.path.basename(fp).startswith("appstatus"):
                continue
            with open(fp) as f:
                for line in f:
                    if line.strip():
                        events.append(json.loads(line))
    return events


def spark_metrics(events: list[dict], windows: dict[int, tuple[float, float]],
                  cores: int) -> dict[int, dict[str, float]]:
    """Engine counts per benchmark job. ``windows`` maps a job to its
    (start, end) wall-clock seconds; Spark jobs, SQL executions and
    streaming progress events are attributed by submission time."""

    def job_at(t_ms: float):
        t = t_ms / 1000.0
        for j, (a, b) in windows.items():
            if a <= t <= b:
                return j
        return None

    plan = {"scan": {}, "py_bytes": set(), "py_rows": set()}
    exec_job: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    per = {j: defaultdict(float) for j in windows}
    task_times: dict[int, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            j = job_at(ev["time"])
            if j is not None:
                exec_job[ev["executionId"]] = j
            _walk_plan(ev["sparkPlanInfo"], False, plan)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], False, plan)
        elif kind == "SparkListenerJobStart":
            j = job_at(ev["Submission Time"])
            if j is not None:
                per[j]["spark.jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, j)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                per[stage_job[sid]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            j = stage_job.get(sid)
            if j is None:
                continue
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            p = per[j]
            p["spark.tasks"] += 1
            dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            run = tm.get("Executor Run Time", 0) / 1000.0
            p["_run_s"] += run
            p["spark.scheduler_delay_s"] += max(0.0, dur - run - (
                tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)) / 1000.0)
            p["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            p["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics", {})
            sr = tm.get("Shuffle Read Metrics", {})
            p["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            p["spark.shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            p["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            task_times[sid].append(dur)
            for acc in info.get("Accumulables", []):
                _add_acc(p, plan, acc["ID"], acc.get("Update"))
        elif kind.endswith("DriverAccumUpdates"):
            j = exec_job.get(ev["executionId"])
            if j is not None:
                for aid, val in ev["accumUpdates"]:
                    _add_acc(per[j], plan, aid, val)
        elif kind.endswith("QueryProgressEvent"):
            ts = ev.get("progress", {}).get("timestamp")
            if ts:
                t_ms = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3
                j = job_at(t_ms)
                if j is not None:
                    per[j]["streaming.batches"] += 1

    out = {}
    for j, (a, b) in windows.items():
        p = per[j]
        skew = 1.0
        for sid, times in task_times.items():
            if stage_job.get(sid) == j and len(times) >= 2:
                med = statistics.median(times)
                if med > 0:
                    skew = max(skew, max(times) / med)
        p["spark.task_skew"] = skew
        p["spark.busy_share"] = p.pop("_run_s", 0.0) / ((b - a) * cores)
        out[j] = dict(p)
    return out


def _add_acc(p: dict, plan: dict, aid: int, val) -> None:
    if val is None:
        return
    try:
        v = float(val)
    except (TypeError, ValueError):
        return
    if aid in plan["py_bytes"]:
        p["spark.python_bytes"] += v
    if aid in plan["py_rows"]:
        p["spark.python_rows"] += v
    metric = plan["scan"].get(aid)
    if metric == "number of files read":
        p["sources.files"] += v
    elif metric == "size of files read":
        p["sources.bytes"] += v
    elif metric == "number of output rows":
        p["sources.rows"] += v
