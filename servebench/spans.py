"""Tracing for the traced run: spans around calls into tank_spark's
public functions (patched from here, never edited in the package), and
Spark job/stage figures read back from Spark's own event log.

A span is (name, start, end, parent, op). Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.op = -1
        self._root = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op: int) -> None:
        """Spans from now on belong to ``op``; the next top-level span
        is its root, and top-level spans on other threads (stream
        callbacks) become the root's children."""
        self.op, self._root = op, -1

    def call(self, name: str, fn, *args, **kwargs):
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.time(), 0.0, parent, self.op))
            if parent < 0:
                self._root = idx
        st.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            st.pop()
            with self._lock:
                n, t0, _, p, op = self.spans[idx]
                self.spans[idx] = (n, t0, time.time(), p, op)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(name, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch_plan(self, owner, attr: str, name: str, exec_name: str) -> None:
        """``patch`` for a function that only builds a lazy DataFrame:
        span ``name`` times the plan build, and the returned frame's
        eager ``localCheckpoint``, where the plan runs, is recorded as
        span ``exec_name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            df = tracer.call(name, orig, *args, **kwargs)
            checkpoint = df.localCheckpoint
            df.localCheckpoint = functools.partial(tracer.call, exec_name, checkpoint)
            return df

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- summaries

    def durations(self, name: str, ops: set[int]) -> list[float]:
        """Milliseconds of every span called ``name`` in ``ops``."""
        return [(e - s) * 1000.0 for n, s, e, _, op in self.spans
                if n == name and op in ops]

    def self_ms(self, ops: set[int]) -> dict[str, float]:
        """Total self time (ms) per span name over the spans of ``ops``:
        each span's duration minus the part of its interval its child
        spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for n, s, e, p, _ in self.spans:
            if p >= 0:
                children.setdefault(p, []).append((s, e))
        out: dict[str, float] = {}
        for i, (n, s, e, _, op) in enumerate(self.spans):
            if op in ops:
                out[n] = out.get(n, 0.0) + (e - s - _covered(children.get(i, []))) * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for n, s, e, p, op in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e,
                                    "parent": p, "op": op}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


# ------------------------------------------------------------- event log


def spark_jobs(event_dir: str) -> list[dict]:
    """Every Spark job of the run from its uncompressed event log:
    submit/end (epoch seconds), task count of its completed stages,
    executor run time (ms) summed over those stages."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    paths = [os.path.join(r, f) for r, _d, files in os.walk(event_dir)
             for f in files if not f.startswith(".")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    run_ms = sum(
                        int(a.get("Value", 0)) for a in info.get("Accumulables", [])
                        if a.get("Name") == "internal.metrics.executorRunTime")
                    stages[info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"], "run_ms": run_ms}
    out = []
    for j in jobs.values():
        done = [stages[s] for s in j["stages"] if s in stages]
        out.append({"submit": j["submit"], "end": j["end"] or j["submit"],
                    "tasks": sum(s["tasks"] for s in done),
                    "run_ms": sum(s["run_ms"] for s in done)})
    return out


def attribute_jobs(jobs: list[dict], ops: list[dict]) -> None:
    """Add jobs / tasks / exec_ms / driver_ms to each op dict (keys
    ``t0``/``t1``, epoch seconds). Ops run one at a time, so a job
    belongs to the op whose interval holds its submission; driver time
    is the part of the op's wall no job covers."""
    for op in ops:
        mine = [j for j in jobs if op["t0"] <= j["submit"] <= op["t1"]]
        op["jobs"] = len(mine)
        op["tasks"] = sum(j["tasks"] for j in mine)
        op["exec_ms"] = float(sum(j["run_ms"] for j in mine))
        busy = _covered([(j["submit"], min(j["end"], op["t1"])) for j in mine])
        op["driver_ms"] = max(0.0, (op["t1"] - op["t0"] - busy) * 1000.0)
