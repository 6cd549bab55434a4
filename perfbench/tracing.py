"""Spans recorded in memory at the benchmark's own call boundaries.

A span has a name, a start, an end and a parent. The tracer records
spans around calls the benchmark makes into the package and around
public module attributes it wraps (``wrap``), so nothing inside the
package changes. Each span also gets its own Spark job group, so the
jobs, stages and tasks it ran are read back from the status tracker
(``resolve_spark_counts``); a child span's jobs are counted on the child,
and a parent's inclusive count is its own plus its children's.

Spans opened on a thread that has no open span (a foreachBatch callback
runs on a Py4J callback thread) are parented to ``adopt``'s span, so
the micro-batch work is attributed to the stream run that caused it.
A disabled tracer records nothing and touches no job group.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the session exists; enables job groups
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._adopted: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        """Record one span; yields its record (None when disabled) so the
        caller can attach counts to it."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._adopted
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["job_group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["job_group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            if self.sc is not None:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(prev_group, "")
            rec["end"] = time.perf_counter() - self.t0
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def adopt(self, rec: dict | None):
        """Parent spans opened on threads without an open span to ``rec``."""
        prev, self._adopted = self._adopted, rec
        try:
            yield
        finally:
            self._adopted = prev

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        wrapper that records a span per call. ``post(rec, result, args,
        kwargs)`` may attach counts. No-op when disabled."""
        if not self.enabled:
            return
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if post is not None:
                    post(rec, out, args, kwargs)
                return out

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        """Put every wrapped attribute back, newest first."""
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)

    # --- read-back -----------------------------------------------------

    def resolve_spark_counts(self) -> None:
        """Fill ``jobs``/``stages``/``tasks`` (self counts) on every span
        from the status tracker's job groups."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            group = rec.get("job_group")
            if group is None:
                continue
            jobs = stages = tasks = 0
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks)

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                out.setdefault(rec["parent"], []).append(rec)
        return out

    def self_time(self, rec: dict, kids: dict[int, list[dict]]) -> float:
        """Span duration minus the part of it its children cover."""
        covered = 0.0
        cur_s = cur_e = None
        for c in sorted(kids.get(rec["id"], []), key=lambda r: r["start"]):
            s, e = max(c["start"], rec["start"]), min(c["end"], rec["end"])
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
        return (rec["end"] - rec["start"]) - covered

    def inclusive(self, rec: dict, key: str, kids: dict[int, list[dict]]) -> int:
        return rec.get(key, 0) + sum(
            self.inclusive(c, key, kids) for c in kids.get(rec["id"], [])
        )

    def under(self, root_names: tuple[str, ...]) -> list[dict]:
        """Every span whose top-level ancestor is named in ``root_names``."""
        by_id = {r["id"]: r for r in self.spans}
        out = []
        for rec in self.spans:
            top = rec
            while top["parent"] is not None and top["parent"] in by_id:
                top = by_id[top["parent"]]
            if top["name"] in root_names:
                out.append(rec)
        return out

    def top_level_coverage(self) -> float:
        """Seconds of wall time covered by top-level spans on the main
        thread (they never overlap there)."""
        main = threading.main_thread().ident
        return sum(
            r["end"] - r["start"]
            for r in self.spans
            if r["parent"] is None and r["thread"] == main
        )

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
