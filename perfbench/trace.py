"""Traced-run tooling: spans around layer calls, Spark job groups, and an
event-log reader that sums task counters by job group.

Each span sets the Spark job group to its own id before the layer call and
restores the parent's group after it, so every Spark job the call starts is
tagged with exactly one span. ``job_group_totals`` then sums the event log's
task counters per job group. Attribution is by job group, never by
wall-clock window: work that overlaps in time is still charged to the call
that started it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory.

    With ``spark_context`` set, each span also becomes the Spark job group
    for the duration of the call."""

    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{sid}:{name}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` on the instance with a spanned call."""
        inner = getattr(obj, method)

        def spanned(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, spanned)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """span id -> its duration minus the time its direct children cover.
        Children of one span run one after another in this benchmark (a
        single client thread), so their union is their sum."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


_PY_WORKER_ACC = "time to run Python workers"


def job_group_totals(log_dir: str) -> dict[str, dict]:
    """Event log -> {job group: summed counters}.

    Counters: jobs, tasks, task_s (executor run time), cpu_s (JVM-thread
    CPU), python_worker_s ("time to run Python workers"), gc_s,
    shuffle_write_mb, spill_mb (memory + disk spill), read_mb (input bytes),
    written_mb (output bytes), records_read, records_written."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    tasks: list[tuple[int, dict, dict]] = []

    def bucket(group: str) -> dict:
        return totals.setdefault(
            group,
            {
                k: 0.0
                for k in (
                    "jobs", "tasks", "task_s", "cpu_s", "python_worker_s", "gc_s",
                    "shuffle_write_mb", "spill_mb", "read_mb", "written_mb",
                    "records_read", "records_written",
                )
            },
        )

    # Spark 4 writes a rolling log: a directory of event files and an
    # appstatus marker per application
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        bucket(group)["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(
                        (ev["Stage ID"], ev.get("Task Info") or {}, ev.get("Task Metrics") or {})
                    )

    mb = 1 / (1 << 20)
    for stage_id, info, tm in tasks:
        group = stage_group.get(stage_id)
        if group is None:
            continue
        t = bucket(group)
        t["tasks"] += 1
        t["task_s"] += tm.get("Executor Run Time", 0) / 1e3
        t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
        t["spill_mb"] += (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) * mb
        im = tm.get("Input Metrics") or {}
        t["read_mb"] += im.get("Bytes Read", 0) * mb
        t["records_read"] += im.get("Records Read", 0)
        om = tm.get("Output Metrics") or {}
        t["written_mb"] += om.get("Bytes Written", 0) * mb
        t["records_written"] += om.get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == _PY_WORKER_ACC:
                # SQL-metric updates are logged as strings, in milliseconds
                t["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
    return totals


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM so far (``VmHWM``); in local mode
    the driver JVM also runs every executor task."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def subtree_totals(tracer: Tracer, totals: dict, root_id: int) -> dict:
    """Counters of a span and all spans below it, summed."""
    ids = {root_id}
    for s in tracer.spans:  # parents precede children
        if s["parent"] in ids:
            ids.add(s["id"])
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s["id"] in ids:
            for k, v in totals.get(s["group"], {}).items():
                out[k] = out.get(k, 0.0) + v
    return out
