"""Spans and Spark counters, recorded from outside the package.

A `Tracer` keeps spans in memory (name, start, end, parent, workload,
pass) and writes them out once, when the run ends. Spans are opened
around calls into the package's public functions, by the benchmark's
own hook methods and store/model subclasses, and by a line tracer on
`llm_pipeline_e2e`'s frame. `NULL_TRACER` is the untraced stand-in.

`StatusReader` reads Spark's own status store (it is populated with
the UI off) for the jobs submitted since its last read, and charges
each job's stages to the innermost span open at the job's submission.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import sys
import time

# Spark stage counters summed per span; values in the store's units
STAGE_COUNTERS = {
    "tasks": ("numTasks",),
    "executor_run_ms": ("executorRunTime",),
    "executor_cpu_ns": ("executorCpuTime",),
    "gc_ms": ("jvmGcTime",),
    "shuffle_write_bytes": ("shuffleWriteBytes",),
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


class Span:
    __slots__ = ("name", "start", "end", "parent", "stage", "counters", "children")

    def __init__(self, name: str, start: float, parent: "Span | None", stage: bool):
        self.name = name
        self.start = start
        self.end: float | None = None
        self.parent = parent
        self.stage = stage  # closed by the next stage mark of its parent
        self.counters: dict[str, float] = {}
        self.children: list[Span] = []

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def self_time(self) -> float:
        return (self.end - self.start) - sum(c.end - c.start for c in self.children)


class Tracer:
    """In-memory span recorder for one thread."""

    enabled = True

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.pass_label = ""
        self.roots: list[Span] = []
        self.labels: list[str] = []  # pass label of each root
        self._stack: list[Span] = []
        # perf_counter → epoch milliseconds, to match Spark's timestamps
        self._epoch_offset = time.time() - time.perf_counter()

    def epoch_ms(self, t: float) -> float:
        return (t + self._epoch_offset) * 1000.0

    def _open(self, name: str, stage: bool = False) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), parent, stage)
        if parent is None:
            self.roots.append(span)
            self.labels.append(self.pass_label)
        else:
            parent.children.append(span)
        self._stack.append(span)
        return span

    def _close_to(self, span: Span) -> None:
        now = time.perf_counter()
        while self._stack:
            top = self._stack.pop()
            top.end = now
            if top is span:
                return

    @contextlib.contextmanager
    def span(self, name: str):
        span = self._open(name)
        try:
            yield span
        finally:
            self._close_to(span)

    def stage(self, name: str | None) -> None:
        """Mark the start of a stage: closes the open stage span of the
        same parent (if any) and opens `name` (None only closes)."""
        if self._stack and self._stack[-1].stage:
            self._close_to(self._stack[-1])
        if name is not None:
            self._open(name, stage=True)

    def records(self) -> list[dict]:
        out: list[dict] = []
        ids: dict[int, int] = {}

        def walk(span: Span, pass_label: str) -> None:
            ids[id(span)] = len(out)
            out.append(
                {
                    "id": len(out),
                    "name": span.name,
                    "start": round(span.start, 6),
                    "end": round(span.end, 6),
                    "parent": ids.get(id(span.parent)) if span.parent else None,
                    "workload": self.workload,
                    "pass": pass_label,
                    "self_s": round(span.self_time(), 6),
                    **span.counters,
                }
            )
            for child in span.children:
                walk(child, pass_label)

        for root, label in zip(self.roots, self.labels):
            walk(root, label)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.records():
                fh.write(json.dumps(rec) + "\n")


class _NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def stage(self, name: str | None) -> None:
        pass


NULL_TRACER = _NullTracer()


def iter_spans(roots: list[Span]):
    for root in roots:
        stack = [root]
        while stack:
            span = stack.pop()
            yield span
            stack.extend(span.children)


class StatusReader:
    """Reads jobs and stages from Spark's status store and charges them
    to spans (innermost span open at the job's submission time)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module.__getattr__("MODULE$")
        )
        self._seen = set(self._job_ids())

    def _job_ids(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup())

    def new_jobs(self) -> list[dict]:
        """Jobs (with their stages' data) submitted since the last read."""
        jobs = []
        for job_id in sorted(set(self._job_ids()) - self._seen):
            self._seen.add(job_id)
            job = json.loads(self._mapper.writeValueAsString(self._store.job(job_id)))
            job["stages"] = []
            for stage_id in job["stageIds"]:
                try:
                    stage = self._store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — stage evicted or never ran
                    continue
                job["stages"].append(json.loads(self._mapper.writeValueAsString(stage)))
            jobs.append(job)
        return jobs

    def charge(self, tracer: Tracer, spans: list[Span]) -> None:
        """Read new jobs and add their counters to the innermost of
        `spans` (closed or open) whose interval holds the submission."""
        for job in self.new_jobs():
            t = job["submissionTime"]
            owner = None
            for span in spans:
                end = span.end if span.end is not None else time.perf_counter()
                if tracer.epoch_ms(span.start) - 1 <= t <= tracer.epoch_ms(end) + 1:
                    if owner is None or span.start >= owner.start:
                        owner = span
            if owner is None:
                continue
            c = owner.counters
            c["jobs"] = c.get("jobs", 0) + 1
            c.setdefault("call_sites", [])
            if job["name"] not in c["call_sites"]:
                c["call_sites"].append(job["name"])
            for stage in job["stages"]:
                if stage.get("status") == "SKIPPED":
                    continue
                for key, fields in STAGE_COUNTERS.items():
                    c[key] = c.get(key, 0) + sum(stage.get(f) or 0 for f in fields)


class LineStageTracer:
    """Opens a stage span whenever execution inside `func` crosses into
    the source region of another stage. Regions start at anchor lines
    (the first line containing each anchor text); lines before the
    first anchor, and regions mapped to None, belong to no stage. An
    anchor missing from the source merges its region into the one
    before it (`missing_anchors` reports it)."""

    def __init__(self, tracer: Tracer, func, anchors: tuple, prefix: str) -> None:
        self.tracer = tracer
        self.code = func.__code__
        lines, first = inspect.getsourcelines(func)
        starts = []
        for text, stage in anchors:
            for offset, line in enumerate(lines):
                if text in line:
                    starts.append((first + offset, stage))
                    break
        starts.sort()
        self._line_stage = {}
        for lineno in range(first, first + len(lines)):
            stage = None
            for start, name in starts:
                if start <= lineno:
                    stage = name
            self._line_stage[lineno] = stage
        self.prefix = prefix
        self._current = None

    def _local(self, frame, event, arg):
        if event == "line":
            stage = self._line_stage.get(frame.f_lineno)
            if stage != self._current:
                self._current = stage
                self.tracer.stage(f"{self.prefix}.{stage}" if stage else None)
        elif event == "return":
            self._current = None
            self.tracer.stage(None)
        return self._local

    def _global(self, frame, event, arg):
        if frame.f_code is self.code:
            return self._local
        return None

    @contextlib.contextmanager
    def active(self):
        sys.settrace(self._global)
        try:
            yield
        finally:
            sys.settrace(None)


def missing_anchors(func, anchors: tuple) -> list[str]:
    """Anchor texts that no longer occur in `func`'s source."""
    source = inspect.getsource(func)
    return [text for text, _ in anchors if text not in source]
