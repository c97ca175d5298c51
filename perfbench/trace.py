"""Span tracing from outside the program, plus Spark event-log totals.

Spans are recorded by wrapping the public functions and methods the
benchmark calls into (``Tracer.wrap``); nothing under ``crawler_spark/``
changes. A span is (id, name, start, end, parent); times are wall-clock
epoch seconds so they line up with the millisecond timestamps in Spark's
event log. Spans stay in memory and are written out once, at exit.

Spans opened on a helper thread (the engine writes checkpoint parts from a
thread pool) take the main thread's innermost open span as their parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent,
                 "start": time.time(), "end": None}
            )
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``after(result,
        args)`` runs once the call returns, outside the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, args)
            return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- queries ---------------------------------------------------------------

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= since
                and s["end"] is not None]

    def has_ancestor(self, span: dict, names: set[str]) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] in names:
                return True
            p = self.spans[p]["parent"]
        return False

    def total(self, name: str, since: float = 0.0,
              under: set[str] | None = None) -> float:
        """Summed duration of ``name`` spans, optionally only those nested
        inside a span named in ``under``."""
        return sum(s["end"] - s["start"] for s in self.named(name, since)
                   if under is None or self.has_ancestor(s, under))

    def self_time(self, span: dict) -> float:
        """Duration minus the union of its child spans' intervals."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"] and c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans}))


def spark_unit_totals(event_log: Path, units: list[tuple[float, float]],
                      excluded: list[tuple[float, float]]) -> dict:
    """Sum Spark work per measured unit from an uncompressed event log.

    A job belongs to a unit when it was submitted inside the unit's
    [start, end] window (epoch seconds) and outside every ``excluded``
    window (the traced run's own staging jobs). Returns total jobs, executed
    stages, tasks, task busy seconds (launch to finish) and shuffle bytes
    written across all units."""
    def inside(ms: int, windows) -> bool:
        t = ms / 1000.0
        return any(s <= t <= e for s, e in windows)

    job_stages: dict[int, list[int]] = {}
    stage_done: set[int] = set()
    tasks: list[tuple[int, int, int, int]] = []
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (inside(ev["Submission Time"], units)
                        and not inside(ev["Submission Time"], excluded)):
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
            elif kind == "SparkListenerStageCompleted":
                stage_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                shuffle = (ev.get("Task Metrics") or {}).get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                tasks.append((ev["Stage ID"], info["Launch Time"],
                              info["Finish Time"], shuffle))
    # A stage reused from an earlier job lists its id again without running
    # again; only tasks launched inside a unit count towards it.
    job_stage_ids = {s for ids in job_stages.values() for s in ids}
    mine = [t for t in tasks
            if t[0] in job_stage_ids and t[0] in stage_done
            and inside(t[1], units)]
    stages = {t[0] for t in mine}
    return {
        "jobs": len(job_stages),
        "stages": len(stages),
        "tasks": len(mine),
        "task_busy_s": sum(f - s for _, s, f, _ in mine) / 1000.0,
        "shuffle_bytes": sum(b for *_, b in mine),
    }
