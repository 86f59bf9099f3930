"""Spans recorded from outside the program: the benchmark wraps public
functions of the package and times each call.

Two levels, switched per op:

- ``LIGHT``: only the calls named in ``light_names`` are timed (a clock
  read and a list append each). The untraced end-to-end numbers need
  these, e.g. the per-table load time inside ``run_group``.
- ``FULL``: every wrapped call becomes a span with a parent, an op id
  and its own Spark job group, so each span's Spark jobs and tasks can
  be counted afterwards through ``statusTracker()``.

Spark is lazy: a span around a call that only builds a plan (such as
``TransformationEngine.apply`` or ``dedup_latest``) measures plan
building; the work runs inside whichever span triggers the action.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

from stats import self_time

LIGHT, FULL = 0, 1


class Span:
    __slots__ = (
        "sid", "name", "start", "end", "parent", "op", "group",
        "prev_group", "counts", "children",
    )

    def __init__(self, sid, name, parent, op, group):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.group = group
        self.prev_group = None
        self.start = time.perf_counter()
        self.end = None
        self.counts: dict = {}
        self.children: list = []

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self_time(
            self.start, self.end, [(c.start, c.end) for c in self.children]
        )

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent.sid if self.parent is not None else None,
            "op": self.op,
            "self_s": self.self_s,
            **self.counts,
        }


class Tracer:
    """Holds every span in memory until :meth:`dump`."""

    def __init__(self, spark_context=None, light_names=()):
        self.sc = spark_context
        self.light_names = set(light_names)
        self.level = LIGHT
        self.op = None
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list = []
        self._patches: list = []

    # -- span stack ----------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _parent(self):
        stack = self._stack()
        if stack:
            return stack[-1]
        if threading.get_ident() != self._main:
            # a worker thread (e.g. run_group's pool) opens its first
            # span under whatever the op's own thread has open
            main = self._main_stack
            return main[-1] if main else None
        return None

    def start_op(self, op_id, level: int) -> None:
        self.op = op_id
        self.level = level
        self._main = threading.get_ident()
        self._main_stack = self._stack()

    def recording(self, name: str) -> bool:
        return self.level == FULL or name in self.light_names

    def open(self, name: str) -> Span | None:
        if not self.recording(name):
            return None
        parent = self._parent()
        sid = next(self._ids)
        group = prev_group = None
        if self.level == FULL and self.sc is not None:
            group = f"perfbench-{sid}"
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        span = Span(sid, name, parent, self.op, group)
        span.prev_group = prev_group
        self._stack().append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if span.group is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span.prev_group)
        with self._lock:
            self.spans.append(span)
            if span.parent is not None:
                span.parent.children.append(span)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace ``owner.attr`` with a timed wrapper. ``post(span, args,
        kwargs, result)`` runs after the span closed, so its own cost
        (e.g. a directory walk) is outside the timed interval."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(span)
            if span is not None and post is not None:
                post(span, args, kwargs, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results -------------------------------------------------------------

    def count_jobs(self) -> None:
        """Attach ``spark.jobs`` / ``spark.tasks`` to every FULL span: the
        jobs run under the span's own job group, i.e. its self work."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        _drain(tracker, [s.group for s in self.spans if s.group])
        for span in self.spans:
            if span.group is None:
                continue
            jobs = tracker.getJobIdsForGroup(span.group)
            tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in list(info.stageIds) if info else ():
                    st = tracker.getStageInfo(stage)
                    tasks += st.numCompletedTasks if st else 0
            span.counts["spark.jobs"] = len(jobs)
            span.counts["spark.tasks"] = tasks

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for span in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(span.as_dict()) + "\n")


def _drain(tracker, groups, timeout: float = 10.0) -> None:
    """Wait until the status store has seen every traced job finish; the
    listener bus updates it asynchronously after an action returns."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        running = any(
            (info := tracker.getJobInfo(j)) is not None
            and info.status in ("RUNNING", "UNKNOWN")
            for g in groups
            for j in tracker.getJobIdsForGroup(g)
        )
        if not running:
            return
        time.sleep(0.1)
