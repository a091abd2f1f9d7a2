"""In-memory span tracer for the benchmark's calls into engine layers.

A span records its name, start, end, parent span and request id. Spans
that can launch Spark jobs run inside their own Spark job group, so
after the run every job (and through it every stage) is attributed to
exactly one span: the innermost one open when the job was submitted.
Counters are read from the status store only after the run, so the
measured code pays one ``setJobGroup`` per span and nothing else.

With tracing disabled ``span`` is a no-op context manager; the timed
(end-to-end) runs use that mode.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# span-name prefix -> the engine module (layer) the call goes into
LAYERS = {
    "globs": "functions.globs",
    "timeparts": "operators.timeparts",
    "partitions": "operators.partitions",
    "pipeline": "operators.pipeline",
    "metacache": "sources.metacache",
    "changes": "operators.changes",
    "writer": "sources.writer",
    "catalog": "sources.catalog",
    "dedup": "operators.dedup",
    "vectorops": "operators.vectorops",
    "textops": "operators.textops",
    "bench": "bench",
}

# StageData getters summed per span
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "jvmGcTime",
    "inputRecords",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    req: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return LAYERS[self.name.split(".", 1)[0]]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, req: int | None = None, jobs: bool = True):
        """Time one layer call. ``jobs=False`` for pure driver-side
        calls (Column building, cache gets) that never submit a job:
        they skip the job-group bracket, which would cost more than
        the call itself."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans),
            name,
            parent.sid if parent else None,
            req if req is not None else (parent.req if parent else None),
            0.0,
        )
        self.spans.append(s)
        if jobs:
            s.group = f"perfbench-{s.sid}"
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                outer = next((p for p in reversed(self._stack) if p.group), None)
                if outer is not None:
                    self.sc.setJobGroup(outer.group, outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    # -- after the run ---------------------------------------------------
    def attribute_counters(self) -> None:
        """Sum completed-stage counters per span from the status store
        (each stage counted once per span, skipped stages excluded)."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            c = dict.fromkeys(("jobs", "stages") + STAGE_FIELDS, 0)
            if s.group:
                stages: set[int] = set()
                for jid in tracker.getJobIdsForGroup(s.group):
                    c["jobs"] += 1
                    info = tracker.getJobInfo(jid)
                    if info is not None:
                        stages.update(info.stageIds)
                for sid in stages:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # evicted or never submitted
                        continue
                    if str(sd.status()) != "COMPLETE":
                        continue
                    c["stages"] += 1
                    for f in STAGE_FIELDS:
                        c[f] += int(getattr(sd, f)())
            s.counters = c

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover. Children of
        one span never overlap (one client thread), so coverage is the
        sum of their durations."""
        child = dict.fromkeys((s.sid for s in self.spans), 0.0)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.sid: s.dur - child[s.sid] for s in self.spans}

    def in_operations(self) -> list[Span]:
        """Spans inside a timed operation (a ``bench.*`` span or below),
        i.e. not the off-the-clock probes of traced runs."""
        ok: dict[int, bool] = {}
        for s in self.spans:  # parents are recorded before children
            ok[s.sid] = s.name.startswith("bench.") or (s.parent is not None and ok[s.parent])
        return [s for s in self.spans if ok[s.sid]]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def mean(self, name: str) -> float:
        """Mean duration of the spans with this name (0 if none)."""
        spans = self.named(name)
        return sum(s.dur for s in spans) / len(spans) if spans else 0.0

    def counter(self, name: str, field_: str) -> int:
        return sum(s.counters.get(field_, 0) for s in self.named(name))

    def dump(self) -> list[dict]:
        st = self.self_times()
        return [
            {
                "sid": s.sid,
                "name": s.name,
                "layer": s.layer,
                "parent": s.parent,
                "req": s.req,
                "start": s.start,
                "end": s.end,
                "self_s": st[s.sid],
                "group": s.group,
                **s.counters,
            }
            for s in self.spans
        ]
