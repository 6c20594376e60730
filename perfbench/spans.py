"""Spans for the traced run, and Spark task metrics attributed to them.

A span is one call into a layer of the package, recorded from the
benchmark's side: name, start, end, parent span and the run's trace
id. Spans live in memory and are written once, at the end, with their
self time (duration minus the part of it that child spans cover).

Jobs are attributed to spans through Spark job tags the tracer sets on
the calling thread. Jobs submitted from threads the tracer does not
see (``CdcEngine``'s table pool, the streaming callback) carry no tag;
they are attributed to the innermost ``window`` span open when they
were submitted. Task metrics come from the application's local event
log, read after the session has stopped.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

PYTHON_WORKER_METRIC = "time to run Python workers"


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._windows: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, window: bool = False, root: bool = False,
             **attrs):
        """Time a block as span ``name``. A ``window`` span also owns the
        untagged jobs submitted while it is open. A span opened on a
        thread with no open span is the child of the innermost open
        window span, unless it is a ``root``."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._windows[-1] if self._windows and not root else None
        )
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "thread": threading.current_thread().name,
            "window": window,
            **attrs,
        }
        tag = f"span-{rec['id']}"
        if self.sc is not None:
            self.sc.addJobTag(tag)
        stack.append(rec)
        if window:
            with self._lock:
                self._windows.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(tag)
            with self._lock:
                if window:
                    self._windows.remove(rec)
                self.spans.append(rec)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until ``unwrap_all``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, window: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, window=window):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def total(self, name: str) -> float:
        """Summed duration of the spans named ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, with their stages' task metrics summed, from one
    application's uncompressed, unrolled event log."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                j = {
                    "id": e["Job ID"],
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "tags": (props.get("spark.job.tags") or "").split(","),
                    "stages": set(),
                    "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                    "input_bytes": 0, "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0,
                    "python_s": 0.0,
                }
                jobs[j["id"]] = j
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, j["id"])
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["stages"].add(e["Stage ID"])
                j["tasks"] += 1
                j["task_s"] += m.get("Executor Run Time", 0) / 1e3
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                j["input_bytes"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + \
                    sr.get("Local Bytes Read", 0)
                j["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                    m.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_WORKER_METRIC:
                        # an SQL timing metric: nanoseconds
                        j["python_s"] += float(acc.get("Update") or 0) / 1e9
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return jobs


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


EXEC_SUMS = ("tasks", "task_s", "cpu_s", "gc_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "python_s")


def attribute(spans: list[dict], jobs: dict, cores: int) -> None:
    """Attribute each job to one span: the innermost span whose tag it
    carries, else the innermost window span open when it was submitted.
    Then give every span its self time, its job ids and the summed task
    metrics of the jobs in its subtree (``exec``)."""
    by_id = {s["id"]: s for s in spans}
    windows = sorted((s for s in spans if s["window"]),
                     key=lambda s: s["start"])
    for s in spans:
        s["jobs"] = []
    for j in jobs.values():
        owner = None
        tagged = [int(t[5:]) for t in j["tags"] if t.startswith("span-")]
        tagged = [by_id[i] for i in tagged if i in by_id]
        if tagged:
            owner = max(tagged, key=lambda s: s["start"])
        else:
            open_ = [w for w in windows if w["start"] <= j["submit"] <= w["end"]]
            if open_:
                owner = open_[-1]
        if owner is not None:
            owner["jobs"].append(j)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s):
        out = list(s["jobs"])
        for c in children.get(s["id"], []):
            out.extend(subtree_jobs(c))
        return out

    for s in spans:
        wall = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])
                if c["thread"] == s["thread"]]
        s["self_s"] = wall - _union_s(kids)
        js = subtree_jobs(s)
        agg = {k: sum(j[k] for j in js) for k in EXEC_SUMS}
        agg["jobs"] = len(js)
        agg["stages"] = len({st for j in js for st in j["stages"]})
        agg["driver_gap_s"] = max(
            0.0, wall - _union_s([(j["submit"], j["end"]) for j in js]))
        agg["busy_ratio"] = agg["task_s"] / (wall * cores) if wall > 0 else 0.0
        s["exec"] = agg
    for s in spans:
        s["job_ids"] = [j["id"] for j in s.pop("jobs")]


def exec_over(spans: list[dict], names: set[str], cores: int) -> dict:
    """``exec.*`` per-layer metrics summed over the spans named in
    ``names`` (each span's subtree), with the gap and busy ratio over
    their summed wall time."""
    sel = [s for s in spans if s["name"] in names]
    out = {f"exec.{k}": sum(s["exec"][k] for s in sel)
           for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                     "input_bytes", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes", "driver_gap_s")}
    wall = sum(s["end"] - s["start"] for s in sel)
    out["exec.busy_ratio"] = out["exec.task_s"] / (wall * cores) if wall else 0.0
    return out


def write_trace(path: str, tracer: Tracer) -> None:
    with open(path, "w") as f:
        json.dump({"trace": tracer.trace_id, "spans": tracer.spans}, f,
                  indent=1)
