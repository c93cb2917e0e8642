"""Spans, Spark event-log rollup and process-tree memory for the benchmark.

The benchmark records a span around each call it makes into a layer of
the engine (name, layer, start, end, parent). Spans stay in memory and
are written out once, when the run ends. A layer's self time is the
sum of its spans' durations minus the part covered by their child spans.

Spark's own work is read back from its event log (plain JSON lines when
``spark.eventLog.compress=false`` and rolling is off). The benchmark
tags every job it causes with ``SparkContext.addJobTag``; the rollup
here groups jobs, stages, tasks and SQL metrics by that tag.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
TAG_PREFIX = "perfbench."


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and sets no
    job tags, so an untraced run pays only the clock reads."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None  # set once the session exists; job tags need it
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, tag: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        if tag is not None:
            rec["tag"] = TAG_PREFIX + tag
        self.spans.append(rec)
        self._stack.append(idx)
        if tag is not None and self.sc is not None:
            self.sc.addJobTag(rec["tag"])
        try:
            yield
        finally:
            if tag is not None and self.sc is not None:
                self.sc.removeJobTag(rec["tag"])
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus its children's."""
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s["end"] is None:
            continue
        out[s["layer"]] += (s["end"] - s["start"]) - child_time[i]
    return dict(out)


# -- event log ------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# SQL metric name -> per-layer counter it feeds
_PY_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / MB, "sum": 1.0}


def _plan_metric_types(node, out: dict[int, str]) -> None:
    if isinstance(node, dict):
        for m in node.get("metrics") or ():
            if isinstance(m, dict) and "accumulatorId" in m:
                out[int(m["accumulatorId"])] = m.get("metricType", "sum")
        for v in node.values():
            _plan_metric_types(v, out)
    elif isinstance(node, list):
        for v in node:
            _plan_metric_types(v, out)


def _interval_union(spans: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def rollup_event_log(lines) -> dict[str, dict[str, float]]:
    """Group an event log's Spark work by benchmark job tag.

    ``lines`` is an iterable of JSON lines. Returns ``{tag: counters}``
    with jobs, stages, tasks, SQL executions, job wall time (union of
    job intervals), executor run/CPU/GC time, shuffle, spill, input and
    output volume, and the Python-worker SQL metrics. Jobs without a
    benchmark tag are ignored.
    """
    job_tag: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_tag: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    job_spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    sql_ids: dict[str, set] = defaultdict(set)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind in (_SQL_START, _SQL_UPDATE):
            _plan_metric_types(ev.get("sparkPlanInfo"), metric_type)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t.startswith(TAG_PREFIX)]
            if not tags:
                continue
            jid = ev["Job ID"]
            tag = tags[-1]
            job_tag[jid] = tag
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            for sid in ev.get("Stage IDs", ()):
                stage_tag[sid] = tag
            if props.get("spark.sql.execution.id") is not None:
                sql_ids[tag].add(props["spark.sql.execution.id"])
            out[tag]["spark.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_tag:
                job_spans[job_tag[jid]].append((job_start[jid], ev.get("Completion Time", 0) / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_tag:
                out[stage_tag[sid]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev.get("Stage ID"))
            if tag is None:
                continue
            c = out[tag]
            c["spark.tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            c["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            c["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            c["spark.spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB
            sw = tm.get("Shuffle Write Metrics") or {}
            c["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            c["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            im = tm.get("Input Metrics") or {}
            c["io.input_mb"] += im.get("Bytes Read", 0) / MB
            c["io.input_rows"] += im.get("Records Read", 0)
            om = tm.get("Output Metrics") or {}
            c["io.output_mb"] += om.get("Bytes Written", 0) / MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or ():
                name = _PY_METRICS.get(acc.get("Name"))
                if name is None:
                    continue
                scale = _UNIT_SCALE.get(metric_type.get(int(acc["ID"]), "timing" if name.endswith("_s") else "size"), 1.0)
                c[name] += float(acc.get("Update") or 0) * scale
    for tag, spans in job_spans.items():
        out[tag]["spark.job_s"] = _interval_union(spans)
    for tag, ids in sql_ids.items():
        out[tag]["spark.sql_executions"] = len(ids)
    return {tag: dict(c) for tag, c in out.items()}


def read_event_log(log_dir: str, app_id: str) -> list[str]:
    """The finished event log of ``app_id`` (after ``spark.stop()``)."""
    with open(os.path.join(log_dir, app_id), encoding="utf-8") as f:
        return f.readlines()


# -- process-tree memory ----------------------------------------------------


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, as the sum of
    their proportional set sizes: a page shared by several processes
    (a forked Python worker, a JVM child between fork and exec) is
    counted once, not once per process."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
        todo += _children(pid)
    return total


class PeakRss:
    """Samples the process tree's resident memory every ``interval``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
