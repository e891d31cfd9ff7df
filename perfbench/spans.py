"""Spans around calls into the program, with Spark counters per span.

A span is opened by the benchmark around one call into a module's public
function. With tracing on, each span runs under its own Spark job group
(``sc.setJobGroup``); when it closes, the group's jobs and stages are read
from the JVM status store, which is populated with the UI off. Stage
metrics are read per attempt through
``statusStore().stageAttempt(id, 0, ...)``; a stage that the store no
longer holds counts as evicted, and the run reports it as a failed check.

The JVM's JIT compile time and GC time are read at both ends of a span,
so each span also carries what the JVM spent on those during it.

With tracing off, ``span`` only yields: no job group, no status-store
reads, so end-to-end timings carry no tracing cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.input_bytes",
    "spark.output_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.sched_gap_s",
    "spark.busy_ratio",
    "jvm.jit_s",
    "jvm.gc_s",
)
_SUMMED = COUNTERS[:-4]


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    pass_id: int
    start: float  # epoch seconds
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    intervals: list = field(default_factory=list)  # stage [start, end] epoch s
    self_s: float = 0.0

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {
            "name": self.name,
            "id": self.span_id,
            "parent": self.parent,
            "pass": self.pass_id,
            "start": self.start,
            "end": self.end,
            "dur_s": self.dur_s,
            "self_s": self.self_s,
            "counters": self.counters,
        }


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


class Tracer:
    """Collects spans in memory; ``finish`` fills in self time and the
    counters of parents, and ``records`` returns them for one JSON file."""

    def __init__(self, spark, probe, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self.evicted_stages = 0
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._probe = probe

    @contextmanager
    def span(self, name: str, pass_id: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.span_id if parent else None, pass_id, time.time())
        group = f"bench-{s.span_id}"
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(group, name)
        jit, gc = self._probe.jit_s(), self._probe.gc_s()
        try:
            yield s
        finally:
            s.end = time.time()
            jvm = {"jvm.jit_s": self._probe.jit_s() - jit, "jvm.gc_s": self._probe.gc_s() - gc}
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"bench-{parent.span_id}", parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._read_group(s, group)
            s.counters.update(jvm)

    def _read_group(self, s: Span, group: str) -> None:
        """Own-group counters of one span, read once its jobs have ended."""
        self._probe.drain()  # the status store is fed asynchronously
        tracker = self._sc.statusTracker()
        c = dict.fromkeys(_SUMMED, 0)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            c["spark.jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            st = self._probe.stage(sid)
            if st is None:
                self.evicted_stages += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += st.numCompleteTasks()
            c["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            c["spark.input_bytes"] += st.inputBytes()
            c["spark.output_bytes"] += st.outputBytes()
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                s.intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        s.counters = c

    def finish(self) -> None:
        """Roll own-group counters up into parents (children close first,
        so one reverse pass suffices), then derive gap, busy and self time."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        for s in reversed(self.spans):
            for k in kids.get(s.span_id, []):
                for key in _SUMMED:
                    s.counters[key] += k.counters[key]
                s.intervals.extend(k.intervals)
        for s in self.spans:
            wall = max(s.dur_s, 1e-9)
            s.counters["spark.sched_gap_s"] = wall - _covered(s.intervals, s.start, s.end)
            s.counters["spark.busy_ratio"] = s.counters["spark.executor_run_s"] / (wall * self.cores)
            s.self_s = s.dur_s - _covered(
                [(k.start, k.end) for k in kids.get(s.span_id, [])], s.start, s.end
            )

    def records(self) -> list[dict]:
        return [s.record() for s in self.spans]
