"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: :func:`install`
wraps the public entry point of each layer (planner search, task
calls, source reads, the result cache, the viewer, the Flask route
handlers) with a timing wrapper, and the workloads open one root span
per measured operation and per step between operations. Nothing inside the package is edited.

A span is ``(name, start, end, parent, op)``. Only spans opened on the
driver's main thread are kept, so children never overlap and a span's
self time is its duration minus the durations of its direct children.
Every Spark job is tagged with the job group of the innermost open
span, which is how jobs are attributed to layers.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

#: root span names: one per measured operation or step between them
ROOTS = ("op", "step")


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._main = threading.get_ident()
        self.spans: list = []
        self._stack: list = []
        self.enabled = False
        self._own = False
        self.op = None
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.counts: Counter = Counter()

    def current(self):
        return self.spans[self._stack[-1]][0] if self._stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._main:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self._set_group(name)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.current())

    def _set_group(self, name) -> None:
        self._own = True
        try:
            if name is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(name, name)
        finally:
            self._own = False

    def wrap(self, name: str, fn, under=None):
        """``fn`` timed as a ``name`` span; with ``under``, only when the
        innermost open span is one of those names."""

        @functools.wraps(fn)
        def traced(*a, **kw):
            if under is not None and self.current() not in under:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def self_times(self) -> dict:
        """Total self time per span name, over completed spans."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def calls(self, name: str) -> int:
        """Number of spans called ``name``."""
        return sum(1 for s in self.spans if s[0] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": t0, "end": t1,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )


def _patch(obj, attr: str, wrapper) -> None:
    setattr(obj, attr, wrapper(getattr(obj, attr)))


def install(tracer: Tracer, spark) -> None:
    """Wrap each layer's public entry points with ``tracer`` spans."""
    from pyspark.sql import DataFrameReader

    import task_on_dataframes_spark.browse as browse
    import task_on_dataframes_spark.cache as cache
    import task_on_dataframes_spark.runtime as runtime
    import task_on_dataframes_spark.serve as serve
    from task_on_dataframes_spark.plans import solve

    w = tracer.wrap
    _patch(solve, "find_path", lambda f: w("plans.search", f))
    _patch(browse.BrowseState, "further_actions", lambda f: w("plans.lookahead", f))

    expand = solve.TaskProblem.actions

    def counted_expand(self, state):
        if tracer.enabled:
            tracer.counts["plans.states_expanded"] += 1
        return expand(self, state)

    solve.TaskProblem.actions = counted_expand
    _patch(runtime, "call_task", lambda f: w("runtime.call_task", f))
    _patch(DataFrameReader, "parquet", lambda f: w("sources.resolve", f))
    for meth in ("get_or_compute", "load", "store"):
        _patch(cache.ResultCache, meth, lambda f, m=meth: w(f"cache.{m}", f))
    _patch(serve, "page", lambda f: w("view.render", f))
    _patch(serve, "to_html", lambda f: w("view.render", f))
    # the view handler's own actions (the row count and the page
    # collect) are final execution, not serve self time
    actions_under = {"serve.request", "view.render"}
    frame_cls = type(spark.range(0))  # the concrete DataFrame class
    _patch(frame_cls, "count", lambda f: w("exec", f, under=actions_under))
    _patch(frame_cls, "collect", lambda f: w("exec", f, under=actions_under))

    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command

    def timed_send(self, *a, **kw):
        if (
            tracer.op is None
            or tracer._own
            or threading.get_ident() != tracer._main
        ):
            return send(self, *a, **kw)
        t0 = time.perf_counter()
        try:
            return send(self, *a, **kw)
        finally:
            tracer.py4j_calls += 1
            tracer.py4j_s += time.perf_counter() - t0

    client.send_command = timed_send


def wrap_routes(tracer: Tracer, app) -> None:
    """Time every Flask route handler of ``app`` as ``serve.request``."""
    for endpoint, fn in list(app.view_functions.items()):
        app.view_functions[endpoint] = tracer.wrap("serve.request", fn)
