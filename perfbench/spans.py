"""Spans recorded from outside the engine, around calls into its modules.

A :class:`Tracer` replaces a module attribute or class method with a
wrapper at the place its callers look it up (``job.merge_batch``,
``ManifestTable.stage``, ...). Each call becomes a span with a name, start,
end, parent and batch id, and runs under its own Spark job group, opened in
the calling thread (job groups are thread-local, and pipelined MoR staging
calls ``stage_batch_mor`` from a worker thread). Job, stage, task and
failed-task counts per group are read from ``sc.statusTracker()`` once, when
the run ends, after the listener bus has drained. Spans live in memory until
then and are written out once.

Nothing inside the engine package changes: the wrappers are installed for a
traced run and removed afterwards.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_tag: str) -> None:
        self.sc = sc
        self.run_tag = run_tag
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # Spans opened in a thread with no open span of its own (pool
        # workers) are parented to the workload step that is running.
        self.step_id: int | None = None
        self.step: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ---------------- spans ----------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, batch: str | None = None, step: str | None = None):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1]["id"] if st else self.step_id
        group = f"{self.run_tag}-{sid}"
        sp = {
            "id": sid,
            "name": name,
            "parent": parent,
            "step": step if step is not None else self.step,
            "batch": batch,
            "group": group,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        st.append(sp)
        if step is not None:
            self.step_id, self.step = sid, step
        try:
            yield sp
        except BaseException as e:
            sp["attrs"]["error"] = type(e).__name__
            raise
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            if step is not None:
                self.step_id = self.step = None
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(sp)

    # ---------------- patching ----------------

    def wrap(self, owner, attr: str, name: str, batch=None, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.

        ``batch(args)`` names the engine batch the call works on;
        ``after(span, args, kwargs, result)`` may add attributes to the span
        from the call's arguments and return value."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            bid = batch(args) if batch is not None else None
            with tracer.span(name, batch=bid) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---------------- counts, written once at the end ----------------

    def resolve_counts(self) -> None:
        """Attach job/stage/task/failed-task counts to every span not yet
        counted. Counts are the span's own (jobs submitted under its
        group). Call before the SparkContext that ran them stops."""
        drain_listener_bus(self.sc)
        st = self.sc.statusTracker()
        for s in self.spans:
            if "jobs" in s:
                continue
            jobs = st.getJobIdsForGroup(s["group"])
            stages: set[int] = set()
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None or sid in stages:
                        continue
                    ran = si.numCompletedTasks + si.numFailedTasks
                    if ran > 0:
                        stages.add(sid)
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
            s["jobs"], s["stages"], s["tasks"], s["failed_tasks"] = (
                len(jobs), len(stages), tasks, failed,
            )

    def finish(self) -> None:
        """Resolve outstanding counts, then derive inclusive counts and each
        span's self time (its duration minus the union of its children's)."""
        self.resolve_counts()
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                s[k + "_incl"] = s[k]
        # children close before parents, so accumulate in close order
        for s in self.spans:
            p = by_id.get(s["parent"])
            if p is not None:
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    p[k + "_incl"] += s[k + "_incl"]
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - _covered(
                s["start"], s["end"], children.get(s["id"], [])
            )

    def write(self, path: str, t0: float) -> None:
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            d = dict(s)
            d["start"] = round(s["start"] - t0, 6)
            d["end"] = round(s["end"] - t0, 6)
            d["self_s"] = round(s["self_s"], 6)
            out.append(d)
        with open(path, "w") as fh:
            json.dump({"spans": out}, fh, indent=1)

    # ---------------- aggregation ----------------

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def signature(self) -> list[tuple]:
        """Per-span (step, batch, name, jobs, stages, tasks), in a
        thread-stable order: two traced runs with the same seed must give
        the same list over the steps both ran."""
        return sorted(
            (str(s["step"]), str(s["batch"]), s["name"], s["jobs"], s["stages"], s["tasks"])
            for s in self.spans
        )


def _covered(lo: float, hi: float, kids: list[dict]) -> float:
    """Length of [lo, hi] covered by the union of the children's intervals."""
    iv = sorted((max(lo, k["start"]), min(hi, k["end"])) for k in kids)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def drain_listener_bus(sc, timeout_ms: int = 60_000) -> None:
    """Wait until every job/stage event has reached the status store, so the
    counts read afterwards are final."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
