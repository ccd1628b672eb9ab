"""Layer spans for the traced run, and the Spark event-log join.

The program is not edited: ``Tracer.install`` replaces a layer's public
functions, in every ``tildener_spark`` module namespace that imported
them, with wrappers that record a span (name, start, end, parent span,
operation id).  Spans are kept in memory and written as JSON at exit.

After ``spark.stop()`` flushes the event log, ``read_event_log`` parses
it with the stdlib, and every Spark job is attributed to the innermost
span that was open when the job was submitted.  A span's self time is
its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.active = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        with self._lock:
            s = {"id": len(self.spans), "name": name, "op": self.op,
                 "parent": self._stack[-1]["id"] if self._stack else None,
                 "start": time.time(), "end": None, "attrs": attrs}
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s["end"] = time.time()
                self._stack.remove(s)

    def wrap(self, name: str, fn, before=None, after=None):
        """``before(args, kwargs)`` runs ahead of the span (e.g. to set
        the operation id); ``after(span, args, kwargs, out)`` runs in a
        ``trace.probe`` span of its own, so trace-only work such as an
        extra count is not charged to any layer."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if before is not None:
                before(args, kwargs)
            with self.span(name) as s:
                out = fn(*args, **kwargs)
            if after is not None:
                with self.span("trace.probe"):
                    after(s, args, kwargs, out)
            return out
        return wrapper

    def install(self, targets) -> None:
        """``targets``: (module, attribute, span name, before, after).
        Class attributes are given as ``"Class.method"``."""
        for module, attr, name, before, after in targets:
            owner_name, _, fn_name = attr.rpartition(".")
            owner = sys.modules[module]
            if owner_name:
                owner = getattr(owner, owner_name)
            orig = getattr(owner, fn_name)
            wrapped = self.wrap(name, orig, before, after)
            setattr(owner, fn_name, wrapped)
            if owner_name:
                continue
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("tildener_spark"):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapped)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# ------------------------------------------------------------ event log

def _acc(task: dict) -> dict:
    return {a.get("Name"): a.get("Update")
            for a in task["Task Info"].get("Accumulables", [])}


def read_event_log(ev_dir: str) -> list[dict]:
    """Jobs with their task metrics summed, from an uncompressed
    (rolling ``eventlog_v2_*`` or single-file) event log."""
    files = sorted(
        glob.glob(os.path.join(ev_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    files += [p for p in glob.glob(os.path.join(ev_dir, "*"))
              if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    keys = ("run_ms", "python_ms", "to_python_b", "from_python_b",
            "shuffle_write_b", "spill_b", "input_b", "output_b")
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    j = {"id": e["Job ID"], "submit": e["Submission Time"]
                         / 1000.0, "end": None, **{k: 0.0 for k in keys}}
                    jobs[j["id"]] = j
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, j["id"])
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = \
                            e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    acc = _acc(e)
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    j["shuffle_write_b"] += m.get(
                        "Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    j["input_b"] += m.get("Input Metrics", {}).get(
                        "Bytes Read", 0)
                    j["output_b"] += m.get("Output Metrics", {}).get(
                        "Bytes Written", 0)
                    j["python_ms"] += float(
                        acc.get("time to run Python workers") or 0)
                    j["to_python_b"] += float(
                        acc.get("data sent to Python workers") or 0)
                    j["from_python_b"] += float(
                        acc.get("data returned from Python workers") or 0)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job["span"]`` to the innermost span open at submission."""
    closed = [s for s in spans if s["end"] is not None]
    for j in jobs:
        t = j["submit"]
        inner = None
        for s in closed:
            # event-log times have millisecond resolution
            if s["start"] - 0.001 <= t <= s["end"] + 0.001 and (
                    inner is None or s["start"] >= inner["start"]):
                inner = s
        j["span"] = inner["id"] if inner else None


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], []) if c["end"] is not None]
        out[s["id"]] = (s["end"] - s["start"]) - _union(
            [k for k in kids if k[1] > k[0]])
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
