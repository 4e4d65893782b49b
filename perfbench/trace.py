"""In-memory spans recorded from the benchmark's side of each layer call.

A span is ``(name, start, end, parent, op)``. Spans of one operation share
``op``; ``parent`` is the innermost open span of the same thread, or else the
operation's root span (a call the program hands to another thread, such as
an HTTP handler or a thread-pool task, still nests under the op that caused
it). Nothing is written until ``dump``.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.current_op = None  # op of a span opened with no op and no parent
        self._mu = threading.Lock()
        self._local = threading.local()
        self._roots: dict = {}  # op -> id of its root span

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None:
            op = self.spans[parent]["op"] if parent is not None else self.current_op
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        with self._mu:
            if parent is None:
                rec["parent"] = self._roots.get(op)
            sid = len(self.spans)
            self.spans.append(rec)
            if rec["parent"] is None:
                self._roots[op] = sid
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add_root(self, name: str, start: float, end: float, op) -> None:
        """Record a span measured elsewhere (a streaming progress report) as
        ``op``'s root, adopting the spans already recorded under ``op``."""
        with self._mu:
            sid = len(self.spans)
            for s in self.spans:
                if s["op"] == op and s["parent"] is None:
                    s["parent"] = sid
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": None, "op": op})
            self._roots[op] = sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


def cover(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]``: overlapping intervals count once."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the part of its interval its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - cover(kids.get(i, ()), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def wrap_method(obj, name: str, tracer: Tracer, span_name: str,
                before=None, after=None, op_of=None):
    """Replace ``obj.name`` (an instance or a class) by a wrapper that
    records a span around each call. ``before()`` runs inside the span
    before the call and its result is passed to ``after(token, rec)``;
    ``op_of(args)`` names the call's op when the caller's op does not."""
    orig = getattr(obj, name)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name, op=op_of(args) if op_of else None) as rec:
            token = before() if before else None
            try:
                return orig(*args, **kwargs)
            finally:
                if after:
                    after(token, rec)

    setattr(obj, name, wrapper)


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM, by wrapping the
    gateway client class's ``send_command``."""

    def __init__(self) -> None:
        self.n = 0
        self._mu = threading.Lock()

    def install(self, spark) -> None:
        cls = type(spark.sparkContext._gateway._gateway_client)
        orig = cls.send_command
        counter = self

        def send_command(self, *args, **kwargs):
            with counter._mu:
                counter.n += 1
            return orig(self, *args, **kwargs)

        cls.send_command = send_command


class JobGroups:
    """Spark jobs and tasks run under named job groups. ``enter``/``exit``
    set and restore the calling thread's group, so a wrapper can tag the
    jobs a layer starts without disturbing the caller's own group."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._saved = threading.local()

    def enter(self, group: str) -> None:
        stack = self._saved.__dict__.setdefault("stack", [])
        stack.append([self.sc.getLocalProperty(p) for p in self._PROPS])
        self.sc.setJobGroup(group, group)

    def exit(self) -> None:
        for prop, value in zip(self._PROPS, self._saved.stack.pop()):
            self.sc.setLocalProperty(prop, value)

    def job_ids(self, group) -> set:
        """Job ids of ``group``; ``None`` means jobs started with no group
        (e.g. from a thread pool the program creates)."""
        return set(self.tracker.getJobIdsForGroup(group))

    def jobs(self, group) -> int:
        return len(self.job_ids(group))

    def tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                n += st.numCompletedTasks if st else 0
        return n
