"""Spans recorded by the benchmark around its own calls into the engine.

Nothing inside ``importpipeline_spark`` is instrumented: a span opens just
before the benchmark calls a layer's public function and closes when the
call returns. Spans live in memory and are written out once, at the end of
a traced run. An untraced run uses ``NullTracer``, whose spans record
nothing and tag no Spark jobs, so it measures the engine alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Iterable, List, Optional, Tuple


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: List[dict]) -> dict:
    """span id → its duration minus the part of it its children cover."""
    kids: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(s, c["start"]), min(e, c["end"]))
            for c in kids.get(sp["id"], [])
            if c["end"] > s and c["start"] < e
        )
        out[sp["id"]] = (e - s) - covered
    return out


def self_time_by_layer(spans: List[dict]) -> dict:
    """layer → summed self time of its spans."""
    st = self_times(spans)
    out: dict = {}
    for sp in spans:
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + st[sp["id"]]
    return out


def top_level_coverage(spans: List[dict], t0: float, t1: float) -> float:
    """Share of the wall interval [t0, t1) that top-level spans cover."""
    tops = [(max(t0, sp["start"]), min(t1, sp["end"]))
            for sp in spans if sp["parent"] is None]
    return union_length(i for i in tops if i[1] > i[0]) / (t1 - t0)


class NullTracer:
    """Untraced runs: spans cost one context-manager entry and record
    nothing."""

    enabled = False

    def bind(self, sc) -> None:
        pass

    @contextmanager
    def span(self, layer: str, name: str, req: Optional[str] = None,
             spark: bool = False):
        yield None


class Tracer:
    """In-memory spans with a parent link, a request id and the Spark jobs
    that ran inside each one.

    Around every span the benchmark sets the Spark job group and description
    (``layer:name``) so the jobs a layer call submits from the calling thread
    carry its name. Calls that submit jobs from their own worker threads
    (``write_index`` does) leave those jobs untagged, so a span's jobs are
    all jobs whose ids appeared while it was open: job ids grow
    monotonically and this benchmark is the only client of its session.
    """

    enabled = True

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._sc = None
        self._groups: set = set()

    def bind(self, sc) -> None:
        """Attach the current SparkContext (None after the session stops)."""
        self._sc = sc
        self._groups = set()

    def _all_job_ids(self) -> set:
        st = self._sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for g in self._groups:
            ids.update(st.getJobIdsForGroup(g))
        return ids

    def _tag(self, sp: Optional[dict]) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._groups.add("perfbench")
            self._sc.setJobGroup("perfbench", "perfbench")
            self._sc.setJobDescription("perfbench")
            return
        label = f"{sp['layer']}:{sp['name']}"
        group = f"perfbench/{sp['id']}"
        self._groups.add(group)
        self._sc.setJobGroup(group, label)
        self._sc.setJobDescription(label)

    @contextmanager
    def span(self, layer: str, name: str, req: Optional[str] = None,
             spark: bool = False):
        """``spark=True`` tags and collects the Spark jobs the call runs;
        driver-only calls (local search, codec decode) skip that cost."""
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = parent["req"]
        sp = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req,
            "start": time.perf_counter(),
            "end": None,
            "jobs": [],
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._sc if spark else None
        before = self._all_job_ids() if sc is not None else None
        if sc is not None:
            self._tag(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None and self._sc is sc:
                sp["jobs"] = sorted(self._all_job_ids() - before)
                self._tag(next((p for p in reversed(self._stack)
                                if f"perfbench/{p['id']}" in self._groups),
                               None))

    def tasks_of(self, job_ids: Iterable[int]) -> int:
        """Tasks completed by the given jobs (stages they skipped count 0)."""
        st = self._sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    n += si.numCompletedTasks
        return n

    def dump(self, path: str, t0: float) -> None:
        """Write spans as JSON lines, times relative to ``t0``."""
        st = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                row = dict(sp)
                row["start"] = round(sp["start"] - t0, 6)
                row["end"] = round(sp["end"] - t0, 6)
                row["self_s"] = round(st[sp["id"]], 6)
                f.write(json.dumps(row) + "\n")
