"""Spans recorded from the benchmark's own files, and Spark-side counts read
from outside the program (status tracker, executed-plan SQL metrics).

A span is (name, start, end, parent, job). Spans stay in memory and are
written out once, when the run ends. A disabled :class:`Tracer` records
nothing, so the untraced run pays only a branch per call site.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    job: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._job: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, job: int | None = None):
        """Time the block; nested spans name this one as their parent."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        outer_job = self._job
        if job is not None:
            self._job = job
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self._job)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._job = outer_job

    def path(self, span: Span) -> str:
        """``parent/child`` name path of a span, for reporting."""
        names = [span.name]
        while span.parent is not None:
            span = self.spans[span.parent]
            names.append(span.name)
        return "/".join(reversed(names))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# ---------------------------------------------------------------------------
# Spark status tracker: jobs, stages and tasks of one benchmark job
# ---------------------------------------------------------------------------

class JobCounter:
    """Counts the Spark jobs, stages and tasks one benchmark job launched.

    The benchmark job runs under its own job group. Jobs that operators
    submit from their own threads (``route_writes`` writes its sinks from a
    thread pool) do not inherit the group, so ungrouped jobs whose id is
    above the last id seen before the benchmark job started are counted too:
    with one closed-loop client nothing else submits jobs meanwhile.
    """

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.group = ""
        self._floor = -1

    def _ungrouped(self) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(None))

    def begin(self, group: str) -> None:
        self.group = group
        seen = self._ungrouped() + list(self.tracker.getJobIdsForGroup(group))
        self._floor = max(seen, default=self._floor)
        self.sc.setJobGroup(group, group)

    def end(self) -> dict[str, int]:
        self.sc._jsc.clearJobGroup()
        ids = set(self.tracker.getJobIdsForGroup(self.group))
        ids |= {j for j in self._ungrouped() if j > self._floor}
        stages = tasks = 0
        for jid in ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(ids), "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------

_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(nodeName, SQL metrics) for every node of ``df``'s executed plan, read
    after an action on ``df`` itself (``collect``/``toPandas``). Adaptive
    plans are unwrapped to their final plan and query stages to the plan
    they ran, so exchange and aggregate nodes inside stages are reached; a
    reused exchange ran once, where it was first planned, and is skipped."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.finalPhysicalPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue
        out.append((name, _metrics(node)))
        stack.extend(_seq(node.children()))
    return out


def plan_counts(nodes: list[tuple[str, dict[str, int]]]) -> dict[str, int]:
    """Shuffle bytes written over all exchanges, and aggregate peak memory
    (Spark sums each node's per-task peaks) over all aggregate nodes."""
    shuffle = peak = 0
    for name, m in nodes:
        if "Exchange" in name:
            shuffle += m.get("shuffleBytesWritten", 0)
        if name in _AGG_NODES:
            peak += m.get("peakMemory", 0)
    return {"shuffle_bytes": shuffle, "agg_peak_memory_bytes": peak}

