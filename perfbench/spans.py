"""In-memory spans for the traced benchmark run, plus Spark event-log
attribution.

Spans are recorded around calls into the engine's public functions by
replacing those functions, from the benchmark's own files, with timing
wrappers (``Tracer.wrap``); the engine itself is not modified. Each span
has a name, start, end, parent span and request id, and is written to a
JSON file when the run ends. Spark jobs are attributed to the innermost
span whose interval contains the job's submission time, using the event
log that ``get_spark(extra_conf=...)`` turns on.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. ``enabled`` can be flipped at run time, so one process
    can time the same work with and without spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, request_id) -> None:
        """Tag spans opened later on this thread with ``request_id``."""
        self._local.request = request_id

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": getattr(self._local, "request", None),
            "attrs": attrs,
            "start": time.time(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span.
        ``count(args, kwargs, result) -> dict`` adds counts to the span
        once it has ended."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            # counted after the span has closed, so counting is not timed
            if rec is not None and count is not None:
                rec["attrs"].update(count(args, kwargs, out))
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", attr)
        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON."""
        selfs = self_times(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [{**s, "self_s": selfs[s["id"]]} for s in self.spans]}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> seconds of its interval not covered by its children."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def by_name(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in by_name(spans, name)]


# -- Spark event log -------------------------------------------------------

_PYTHON_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


def read_event_log(log_dir: str) -> dict:
    """-> {"jobs": [...], "stages": {sid: {...}}} from every (uncompressed)
    event log in ``log_dir``, single-file or rolling (``eventlog_v2_*/``)."""
    jobs, stages = [], {}
    paths = glob.glob(os.path.join(log_dir, "*")) + glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": list(ev.get("Stage IDs", [])),
                    })
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = " ".join(
                        r.get("Scope", "") + r.get("Name", "")
                        for r in info.get("RDD Info", [])
                    )
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["python"] = any(p in scopes for p in _PYTHON_SCOPES)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["wall"] = (
                        info.get("Completion Time", 0) - info.get("Submission Time", 0)
                    ) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    ti = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    st["task_s"].append(
                        (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                    )
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"task_s": [], "cpu_s": 0.0, "shuffle_bytes": 0, "wall": 0.0, "python": False}


def attribute_jobs(spans: list[dict], log: dict) -> dict[int, list]:
    """span id -> jobs whose submission falls inside the span and inside
    none of its children (the innermost enclosing span)."""
    out: dict[int, list] = {}
    ordered = sorted(spans, key=lambda s: s["start"])
    for job in log["jobs"]:
        best = None
        for s in ordered:
            if s["start"] > job["submit"]:
                break
            if s["end"] >= job["submit"] and (
                best is None or s["end"] - s["start"] <= best["end"] - best["start"]
            ):
                best = s
        if best is not None:
            out.setdefault(best["id"], []).append(job)
    return out


def spark_counts(jobs: list[dict], log: dict) -> dict:
    """Event-log counts for one span's jobs: jobs, stages and tasks run,
    executor CPU seconds, shuffle bytes, wall of Python stages, and the
    task skew (max / median task time) of the widest stage."""
    sids = [sid for j in jobs for sid in j["stages"] if log["stages"].get(sid, {}).get("task_s")]
    st = [log["stages"][sid] for sid in sids]
    widest = max(st, key=lambda s: len(s["task_s"]), default=None)
    skew = 0.0
    if widest is not None:
        med = statistics.median(widest["task_s"])
        skew = max(widest["task_s"]) / med if med > 0 else 1.0
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(len(s["task_s"]) for s in st),
        "executor_cpu_s": sum(s["cpu_s"] for s in st),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in st),
        "python_stage_s": sum(s["wall"] for s in st if s["python"]),
        "task_skew": skew,
    }
