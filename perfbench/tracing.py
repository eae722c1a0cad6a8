"""Traced-run plumbing: spans, module wrappers, Spark job counts and
streaming progress — all measured from outside the package.

Nothing here is installed in an untraced run. ``Tracer.wrap`` replaces a
public function on a package module attribute; every call becomes a span
(name, start, end, parent span, operation id). Spans stay in memory and
are written once, by ``Tracer.dump``, when the run ends. Time spent in
the tracing code itself is summed in ``Tracer.self_s``.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.op: int | None = None
        self.self_s = 0.0  # time spent in tracing code itself
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def charge(self, seconds: float) -> None:
        """Count ``seconds`` as time spent tracing."""
        with self._lock:
            self.self_s += seconds

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a ``name`` span per
        call; ``on_result(args, kwargs, result)`` may record counts."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            span = self.span(name).__enter__()
            t1 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                span.__exit__()
            if on_result is not None:
                on_result(args, kwargs, out)
            self.charge((t1 - t0) + (time.perf_counter() - t2))
            return out

        self.replace(owner, attr, traced)

    def replace(self, owner: object, attr: str, value: object) -> None:
        """Set ``owner.attr`` to ``value`` until ``uninstall``."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_module(self, module: object, prefix: str) -> None:
        """Wrap every public function a module lists in ``__all__``."""
        for attr in getattr(module, "__all__", ()):
            obj = getattr(module, attr, None)
            if callable(obj) and getattr(obj, "__module__", None) == module.__name__ and not isinstance(obj, type):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def self_times(self) -> list[float]:
        """Per span (by id): its duration minus the part of its interval
        that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        stack = t._local.__dict__.setdefault("stack", [])
        with t._lock:
            self.id = len(t.spans)
            t.spans.append(
                {
                    "id": self.id,
                    "name": self.name,
                    "parent": stack[-1] if stack else None,
                    "op": t.op,
                    "start": time.perf_counter(),
                    "end": None,
                }
            )
        stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.t._local.stack.pop()
        self.t.spans[self.id]["end"] = time.perf_counter()


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from the status
    tracker; a stage shared by two jobs counts once."""
    st = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    jobs = st.getJobIdsForGroup(group)
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), tasks


class ProgressListener(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` (as parsed JSON), in arrival
    order and per query name, and counts terminated queries; its callback
    time counts as tracing time."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.events: list[dict] = []
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        p = json.loads(event.progress.json)
        self.events.append(p)
        self.progress[p.get("name") or p["id"]].append(p)
        self.tracer.charge(time.perf_counter() - t)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated += 1
