"""In-memory spans around calls into the engine's layers, with Spark job
counts read from ``SparkContext.statusTracker()``.

Each span on the main thread runs under its own Spark job group, so a job is
attributed to the innermost span that launched it however late the status
listener records it.  Jobs launched from other driver threads carry no job
group; they are counted per phase as the new ids of
``getJobIdsForGroup(None)`` and reported as untagged.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)  # jobs of this span's own group
    untagged: list[int] = field(default_factory=list)  # driver-thread jobs in this span
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``op`` is the id of the operation spans belong to."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._main = threading.get_ident()
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self.op: int | None = None

    def _group(self, span: Span | None) -> None:
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"perfbench-{span.id}"
        )

    def _drain(self) -> None:
        # Job start events reach the status store through an asynchronous
        # listener bus; wait until it is empty before reading job ids.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def untagged_jobs(self) -> set[int]:
        self._drain()
        return set(self._tracker.getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, count_untagged: bool = False, **attrs):
        on_main = threading.get_ident() == self._main
        before = self.untagged_jobs() if count_untagged else None
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(len(self.spans), name, parent and parent.id, self.op,
                     time.perf_counter(), attrs=attrs)
            self.spans.append(s)
        if on_main:
            self._stack.append(s)
            self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if on_main:
                self._stack.pop()
                self._group(self._stack[-1] if self._stack else None)
                self._drain()
                s.jobs = list(self._tracker.getJobIdsForGroup(f"perfbench-{s.id}"))
            if before is not None:
                s.untagged = sorted(self.untagged_jobs() - before)

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` inside a span; ``attrs(args, kwargs)``, if given, adds
        attributes to the span after the call, outside its time."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
            if attrs is not None:
                s.attrs.update(attrs(args, kwargs))
            return result

        return traced

    def stage_counts(self, job_ids) -> tuple[int, int]:
        """Stages that ran at least one task, and the tasks they ran.
        Stages skipped because their shuffle output was reused count zero."""
        stages = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for sid in stages:
            info = self._tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += info.numCompletedTasks
        return n_stages, n_tasks


def patch_module_functions(package: str, original, replacement) -> list:
    """Rebind every loaded ``package`` module attribute that is ``original``
    (the function and each module that imported it by name) to
    ``replacement``.  Returns (module, attribute) pairs for ``restore``."""
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                patched.append((mod, attr, original))
    return patched


def restore(patched) -> None:
    for mod, attr, original in patched:
        setattr(mod, attr, original)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


def subtree_jobs(spans: list[Span]) -> dict[int, set[int]]:
    """Jobs launched in a span or any of its descendants, untagged included."""
    out = {s.id: set(s.jobs) | set(s.untagged) for s in spans}
    for s in sorted(spans, key=lambda s: s.id, reverse=True):
        if s.parent is not None:
            out[s.parent] |= out[s.id]
    return out
