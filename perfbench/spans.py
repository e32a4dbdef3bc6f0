"""Spans around calls into ``patternly_spark``, recorded from the benchmark.

A span is a named interval on the driver.  Each span runs its Spark jobs
under its own job group, so the status tracker can say which jobs,
stages and tasks it caused.  Layers are traced by patching methods of
the public detector classes for the length of a traced run; nothing in
the package itself knows about tracing.

Per span the tracer keeps wall time, self time (wall time minus the wall
time of its child spans), its jobs, the stages and tasks those jobs ran,
and the driver gap: wall time not covered by any of its jobs.  Job start
and end times come from the UI REST API on localhost, which the traced
run enables.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
import urllib.request
from contextlib import contextmanager


def _rest_time(text: str) -> float:
    # e.g. "2026-10-17T12:23:41.123GMT"
    return _dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()


def _union_seconds(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Span:
    __slots__ = ("name", "parent", "group", "start", "end", "epoch0", "epoch1", "children", "jobs")

    def __init__(self, name: str, parent: "Span | None", group: str) -> None:
        self.name = name
        self.parent = parent
        self.group = group
        self.children: list[Span] = []
        self.jobs: list[int] = []

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Records spans; ``close()`` undoes every patch."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._stack: list[Span] = []
        self._n = 0
        self._patches: list[tuple[type, str, object]] = []
        self._rest = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(name, parent, f"perfbench-{self._n}-{name}")
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.epoch0, sp.start = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.end, sp.epoch1 = time.perf_counter(), time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            if parent is None:
                self._settle(sp)

    def _settle(self, root: Span) -> None:
        """Wait for the listener to record every job of a finished root
        span, then attach job ids to each span of the tree."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + 30.0
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.02)
        for sp in root.walk():
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))

    def patch(self, cls: type, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(cls, attr, traced)
        self._patches.append((cls, attr, orig))

    def close(self) -> None:
        for cls, attr, orig in reversed(self._patches):
            setattr(cls, attr, orig)
        self._patches.clear()

    # -- per-span counts -------------------------------------------------
    def _rest_jobs(self) -> dict[int, dict]:
        with urllib.request.urlopen(f"{self._rest}/jobs", timeout=30) as r:
            return {j["jobId"]: j for j in json.load(r)}

    def summarize(self, root: Span) -> dict[str, dict]:
        """Per layer name in the tree of ``root``: summed self time, call
        count, and the jobs / stages / tasks / gap of its subtrees."""
        tracker = self.sc.statusTracker()
        wanted = {j for sp in root.walk() for j in sp.jobs}
        deadline = time.time() + 30.0
        while True:
            rest = self._rest_jobs()
            if all(rest.get(j, {}).get("completionTime") for j in wanted) or time.time() > deadline:
                break
            time.sleep(0.05)
        out: dict[str, dict] = {}
        for sp in root.walk():
            rec = out.setdefault(
                sp.name, {"self_s": 0.0, "calls": 0, "jobs": 0, "stages": 0, "tasks": 0, "gap_s": 0.0}
            )
            rec["self_s"] += sp.self_s
            rec["calls"] += 1
            # subtree counts, unless an ancestor of the same name already
            # counted them
            anc = sp.parent
            while anc is not None and anc.name != sp.name:
                anc = anc.parent
            if anc is not None:
                continue
            jobs = [j for s in sp.walk() for j in s.jobs]
            # a shuffle stage run by one job shows up again, skipped, in
            # the jobs that read it: count each stage once
            stage_ids = set()
            intervals = []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                stage_ids.update(info.stageIds if info else [])
                rj = rest.get(jid)
                if rj and rj.get("submissionTime") and rj.get("completionTime"):
                    intervals.append((_rest_time(rj["submissionTime"]), _rest_time(rj["completionTime"])))
            covered = _union_seconds((max(a, sp.epoch0), min(b, sp.epoch1)) for a, b in intervals if b > a)
            ran = [st for st in map(tracker.getStageInfo, stage_ids) if st is not None and st.numCompletedTasks > 0]
            rec["jobs"] += len(jobs)
            rec["stages"] += len(ran)
            rec["tasks"] += sum(st.numCompletedTasks for st in ran)
            rec["gap_s"] += max(sp.wall - covered, 0.0)
        return out
