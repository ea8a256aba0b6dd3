"""Per-layer attribution from outside the engine.

The traced run wraps the engine's public entry points in spans (name,
start, end, parent, operation) and tags every Spark job a span starts
with the span's id as its job group. After each operation it reads
Spark's own job and stage accounting from the local REST API and
charges each job's stages to the span that issued it. Nothing in the
engine changes: wrappers are installed on the module attributes (and
on every engine module that imported the function by name) and only
in the traced run.

The pure helpers at the top (``tail_percentile``, ``self_times``,
``aggregate_stages``, ``idle_seconds``) carry the arithmetic and are
unit-tested on their own.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# pure helpers
# ---------------------------------------------------------------------------


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``values`` that has at least ``beyond``
    samples above it, as ``(percentile, value)``. With fewer than
    ``2 * beyond`` samples no percentile above the median qualifies and
    the median is returned, so the result never rests on a handful of
    extreme samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return 50.0, _median_sorted(xs)
    # the value at sorted index i has n - 1 - i samples above it
    i = n - 1 - beyond
    return 100.0 * (i + 1) / n, xs[i]


def _median_sorted(xs: list[float]) -> float:
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def median(values: list[float]) -> float:
    return _median_sorted(sorted(values))


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval covered by
    its direct children (children may overlap; the union is taken)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        )
        out[s.id] = max(0.0, (s.end - s.start) - covered)
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_seconds(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Wall time of ``[start, end]`` during which no Spark job ran."""
    clipped = [(max(a, start), min(b, end)) for a, b in jobs]
    return max(0.0, (end - start) - _union_length(clipped))


STAGE_FIELDS = {
    # REST stage field → (metric, scale to the metric's unit)
    "executorRunTime": ("exec.run_s", 1e-3),
    "executorCpuTime": ("exec.cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "shuffleReadBytes": ("exec.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("exec.shuffle_write_bytes", 1),
    "diskBytesSpilled": ("exec.spill_bytes", 1),
    "numCompleteTasks": ("exec.tasks", 1),
}


def aggregate_stages(jobs: list[dict], stages: list[dict]) -> dict[str | None, dict[str, float]]:
    """Job group → summed executor metrics and job/stage counts.

    A stage id can appear in several jobs' ``stageIds`` (a later job
    reuses a finished shuffle stage and lists it as skipped); its
    metrics are charged once, to the lowest job id that lists it.
    Skipped stages did no work and are not counted."""
    owner: dict[int, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j)
    out: dict[str | None, dict[str, float]] = {}

    def bucket(group):
        if group not in out:
            out[group] = {"sched.jobs": 0, "sched.stages": 0}
            out[group].update({m: 0 for m, _ in STAGE_FIELDS.values()})
        return out[group]

    for j in jobs:
        bucket(j.get("jobGroup"))["sched.jobs"] += 1
    for st in stages:
        if st.get("status") == "SKIPPED" or st["stageId"] not in owner:
            continue
        b = bucket(owner[st["stageId"]].get("jobGroup"))
        b["sched.stages"] += 1
        for fld, (metric, scale) in STAGE_FIELDS.items():
            b[metric] += st.get(fld, 0) * scale
    return out


def rest_time(s: str) -> float:
    """REST timestamps ('2026-10-16T18:17:56.839GMT') → epoch seconds."""
    return (
        _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )


# ---------------------------------------------------------------------------
# the tracer
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """Spans in memory plus the REST reader. ``enabled=False`` makes
    every method a no-op so the untraced run pays nothing."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _op: int | None = None
    _last_job: int = -1
    _base: str = ""

    def attach(self, sc) -> None:
        self.sc = sc
        if self.enabled:
            port = sc.uiWebUrl.rsplit(":", 1)[1]
            self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(),
                 parent=parent.id if parent else None, op=self._op)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(str(s.id), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(str(self._stack[-1].id), self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, name: str):
        """Root span of one timed operation; REST accounting for its jobs
        is pulled after it ends, outside its own interval."""
        if not self.enabled:
            yield None
            return
        with self.span(name) as s:
            self._op = s.id
            s.op = s.id
            try:
                yield s
            finally:
                self._op = None
        self.collect()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, and
        rebind every engine module that imported it by name."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        for mod in list(sys.modules.values()):
            if mod is not None and getattr(mod, "__name__", "").startswith("php_etl_spark"):
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, traced)
        setattr(module, attr, traced)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(cls, attr, traced)

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    def collect(self, timeout: float = 10.0) -> None:
        """Pull every job newer than the last pull, waiting until the
        status store has them finished, then their stages. Runs after
        each operation because the UI retains only the newest 1000 jobs
        and stages."""
        deadline = time.monotonic() + timeout
        while True:
            new = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in new)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        if not new:
            return
        want = {sid for j in new for sid in j["stageIds"]}
        while True:
            stages = [s for s in self._get("/stages") if s["stageId"] in want]
            if all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages) or (
                time.monotonic() > deadline
            ):
                break
            time.sleep(0.02)
        self.jobs.extend(new)
        for s in stages:
            self.stages[s["stageId"]] = s
        self._last_job = max(j["jobId"] for j in new)
