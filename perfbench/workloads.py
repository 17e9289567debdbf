"""The two closed-loop workloads. One client issues the next request
only after the previous one returned.

Each workload has ``warm_up`` (part of set-up), ``cycle`` (one fixed
unit of measured work, repeated until the run's time is used up) and
``check`` (output checks, run after the measured loop). Inside a
cycle, ``ctx.op`` times one measured operation: a failure is counted
and the cycle goes on. ``ctx.step`` runs a timed step that is not an
operation: a failure ends the cycle and counts as one failed op. The
seed only changes what the workload does with the fixed inputs: query
order and the session walk.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter
from urllib.parse import unquote

#: registered queries whose final execution is most of their time; the
#: two planner queries add BFS planning and task calls to the mix
LAZY_QUERIES = (
    "q1_pricing_summary",
    "q5_region_volume",
    "a1_value_counts",
    "planner_top90_tokens",
    "planner_llm_chunks",
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class LazyAnalytics:
    """Whole passes over ``LAZY_QUERIES`` in a seeded order; one op is
    one ``queries()[name](spark, sf)`` construction plus a noop write.
    Each query is its own op kind. Nothing is reused between ops, so
    the first half of the measured passes count as first visits and
    the second half as revisits: a cache change should move neither."""

    #: two first-visit and two revisit passes, so each query has two
    #: samples in each of those medians
    min_cycles = 4
    FIRST_PASSES = 2

    def __init__(self, ctx):
        import __spark_entry__

        self.qs = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.passes = 0

    def warm_up(self, ctx) -> None:
        for name in LAZY_QUERIES:
            noop_write(self.qs[name](ctx.spark, ctx.sf_dir))

    def cycle(self, ctx) -> None:
        self.passes += 1
        first = self.passes <= self.FIRST_PASSES
        order = list(LAZY_QUERIES)
        ctx.rng.shuffle(order)
        for name in order:
            ctx.op(name, first, lambda n=name: self._run(ctx, n))

    def _run(self, ctx, name: str) -> None:
        with ctx.span("registry.construct"):
            df = self.qs[name](ctx.spark, ctx.sf_dir)
        if ctx.traced:
            ctx.plan_phases(df)
        with ctx.span("exec"):
            noop_write(df)

    def cache_dirs(self, ctx) -> list:
        return []

    def check(self, ctx) -> list:
        """Each query's result against its DuckDB oracle, compared the
        way ``tools/check_correctness.py`` compares them."""
        import check_correctness as cc

        con = cc.duck_conn()
        bad = []
        for name in LAZY_QUERIES:
            s = cc.normalize(self.qs[name](ctx.spark, ctx.sf_dir).toPandas())
            o = cc.normalize(con.execute(self.oracles[name]).fetchdf())
            for c in set(s.columns) & set(o.columns):
                kinds = {s[c].dtype.kind, o[c].dtype.kind}
                if kinds <= {"i", "f", "u"} and len(kinds) > 1:
                    s[c] = s[c].astype("float64").round(6)
                    o[c] = o[c].astype("float64").round(6)
            s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
            o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
            if list(s.columns) != list(o.columns) or not s.equals(o):
                bad.append(f"{name}: result differs from its oracle")
        con.close()
        return bad


def _rows(rows) -> Counter:
    """Order-free multiset of result rows, floats rounded to 9 places."""
    return Counter(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    )


_EXPLORE_LINK = re.compile(r'href="/explore/([^"]*)"')
_VIEW_LINK = re.compile(r'href="/view/0/(\d+)/([^"]*)"')


class ExploreSession:
    """One simulated user of ``serve.create_app`` over the LLM task
    registry plus the pack task, driven through Flask's test client.
    A cycle is one session against a fresh result-cache root. From the
    empty plan the user follows next-action links that add get_docs and
    then each of ``BRANCHES``, viewing each new frame (cache misses).
    Then the user goes back to earlier states ``N_REVISIT`` times and
    views one of their frames again (cache hits), on a seeded page. One
    op is one ``/view`` request."""

    #: tasks added after get_docs: every task whose only input is the
    #: ``docs.text`` column get_docs makes, so every session makes the
    #: same four cold views and only their order and the bindings
    #: chosen change with the seed
    BRANCHES = ("score_quality", "lang_id_docs", "dedup_exact_docs")
    #: 6 revisits to 4 first visits: a 60 % revisit share, the whole
    #: number nearest the 58 % of page visits that were revisits in
    #: Tauscher and Greenberg, "How people revisit web pages" (Int. J.
    #: Human-Computer Studies 47(1), 1997)
    N_REVISIT = 6
    min_cycles = 3

    def __init__(self, ctx):
        from task_on_dataframes_spark.llm_tasks import (
            register_llm_tasks,
            register_pack_task,
        )

        self.registry = register_pack_task(
            register_llm_tasks(ctx.spark, ctx.sf_dir)
        )
        self.n = 0
        self.cache_root = None
        self.viewed: list = []

    def _app(self, ctx, root: str):
        from task_on_dataframes_spark.serve import create_app

        app = create_app(ctx.spark, registry=self.registry, cache_root=root)
        if ctx.tracer is not None:
            from spans import wrap_routes

            wrap_routes(ctx.tracer, app)
        return app.test_client()

    def warm_up(self, ctx) -> None:
        """Two sessions on fixed walks, not the run's seed: after one,
        the first measured session still ran slower."""
        for i in range(2):
            self.cycle(ctx, rng=random.Random(i), record=False)

    def cache_dirs(self, ctx) -> list:
        return [self.cache_root]

    def cycle(self, ctx, rng=None, record=True) -> None:
        self.n += 1
        self.cache_root = os.path.join(ctx.run_dir, f"cache_{self.n}")
        client = self._app(ctx, self.cache_root)
        rng = ctx.rng if rng is None else rng
        step = ctx.step if record else ctx.unrecorded
        op = ctx.op if record else ctx.unrecorded
        viewed: list = []
        q = ""
        # add get_docs, then the BRANCHES tasks in a seeded order, each
        # through a seeded one of the explore page's links for it, and
        # view the frame each one adds
        tasks = list(self.BRANCHES)
        rng.shuffle(tasks)
        for task in ["get_docs", *tasks, None]:
            body = step("explore", lambda q=q: _get(client, f"/explore/{q}"))
            if q:
                target = _VIEW_LINK.findall(body)[-1]
                viewed.append(target)
                self._view(op, rng, client, target, True)
            if task is not None:
                mark = f"_task={task}"
                q = rng.choice([
                    m for m in _EXPLORE_LINK.findall(body)
                    if unquote(m).count(mark) > unquote(q).count(mark)
                ])
        # then go back to earlier states and view their frames again
        for _ in range(self.N_REVISIT):
            target = rng.choice(viewed)
            step("explore", lambda t=target: _get(client, f"/explore/{t[1]}"))
            self._view(op, rng, client, target, False)
        self.viewed = viewed

    @staticmethod
    def _view(op, rng, client, target, first_visit: bool) -> None:
        frame, vq = target
        page = rng.randrange(3)
        op("view", first_visit, lambda: _get(client, f"/view/{page}/{frame}/{vq}"))

    def check(self, ctx) -> list:
        """Each result the last session cached equals, ignoring row
        order, the same frame computed without the cache."""
        from task_on_dataframes_spark.browse import BrowseState
        from task_on_dataframes_spark.cache import ResultCache, plan_key
        from task_on_dataframes_spark.plans.solve import perform_actions

        cache = ResultCache(self.cache_root)
        bad = []
        for frame, vq in self.viewed:
            bs = BrowseState.from_url_q(unquote(vq), registry=self.registry)
            key = plan_key(list(bs.actions), [*bs.files, f"frame={frame}"])
            cached = cache.load(ctx.spark, key)
            fresh = perform_actions(
                [], bs.actions, registry=self.registry,
                return_latest_first=False,
            )[int(frame)]
            if cached is None or _rows(cached.collect()) != _rows(fresh.collect()):
                bad.append(f"explore: cached frame {frame} of {vq[:60]} differs")
        return bad


def _get(client, url: str) -> str:
    r = client.get(url)
    if r.status_code != 200:
        raise RuntimeError(f"GET {url[:80]} -> {r.status_code}")
    return r.get_data(as_text=True)


WORKLOADS = {
    "lazy_analytics": LazyAnalytics,
    "explore_session": ExploreSession,
}
