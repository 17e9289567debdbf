"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs on first
use (``.perfbench/data``), starts Spark on ``local[<cores>]``, sets up
the workload (imports, Spark start and one warm-up pass: ``setup_s``),
then repeats the workload's cycle until ``--seconds`` have passed and
at least ``min_cycles`` cycles are done, finishing the cycle in
progress. Output checks run after the measured
loop. Every run works in its own directory under ``.perfbench/runs``
(warehouse, temp and cache dirs), deletes it at the end, and fails if
it left any other file behind in the checkout.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans are written as JSON lines to
``.perfbench/traces``. The line before it holds details: the seed,
the tail percentile and its sample count, cycle walls and checks.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _files(root: str, skip: str) -> set:
    out = set()
    for d, dirs, files in os.walk(root):
        if os.path.abspath(d) == skip:
            dirs[:] = []
            continue
        out.update(os.path.join(d, f) for f in files + dirs)
    return out


def _isolate(run_dir: str, sf_dir: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update(
        # every JVM, the spark-submit launcher's too: temp files in the
        # run dir, and no hsperfdata files in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LOCAL_IP="127.0.0.1",
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_SUBMIT_ARGS=shlex.join(args + ["pyspark-shell"]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_UI="true" if trace else "false",
        SF_DIR=sf_dir,
    )


def _tail(xs: list) -> tuple:
    """(value, percentile, samples): the highest whole percentile with
    at least ten samples above it, never below the median."""
    n = len(xs)
    p = max(50, int(100 * (1 - 10 / n))) if n else 50
    s = sorted(xs)
    return s[min(n - 1, max(0, -(-p * n // 100) - 1))], p, n


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else float("nan")


def _typical(ops: list) -> float:
    """Geometric mean over op kinds of each kind's median latency: with
    one kind, the median; with several, each counts once, however far
    apart their latencies are."""
    by_kind = defaultdict(list)
    for kind, x, _ in ops:
        by_kind[kind].append(x)
    if not by_kind:
        return float("nan")
    return statistics.geometric_mean([_median(xs) for xs in by_kind.values()])


def _descendants() -> list:
    """Pids of every live descendant of this process."""
    kids: dict = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def _peak_rss_mb(spark) -> float:
    """Peak resident size (VmHWM) of the Python driver plus its JVM.
    Python workers are left out: how many the scheduler forks varies
    from run to run, and forked pages would be counted twice."""
    kb = 0
    for pid in (os.getpid(), spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))
    return kb / 1024


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    procs = _descendants()
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _du_mb(path) -> float:
    if not path or not os.path.exists(path):
        return 0.0
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    ) / (1 << 20)


class Context:
    """What a workload sees: Spark, the inputs, the run dir, the seeded
    RNG, the tracer (``None`` when untraced) and the op recorder."""

    def __init__(self, spark, sf_dir, run_dir, seed, tracer):
        self.spark, self.sf_dir, self.run_dir = spark, sf_dir, run_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.lat: list = []  # (kind, latency, first_visit) of successful ops
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self._next_id = 0

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def span(self, name):
        from contextlib import nullcontext

        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def _root(self, kind, fn):
        tr = self.tracer
        if tr is None or not tr.enabled:
            return fn()
        self._next_id += 1
        tr.op = self._next_id
        try:
            with tr.span(kind):
                return fn()
        finally:
            tr.op = None

    def op(self, kind: str, first_visit: bool, fn) -> None:
        """One measured operation of ``kind``; an exception counts as a
        failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self._root("op", fn)
        except Exception:
            self.failed += 1
            self.errors.append(f"op {kind}: {traceback.format_exc(limit=3)}")
            return
        self.lat.append((kind, time.perf_counter() - t0, first_visit))

    def step(self, name, fn):
        """A timed step between ops, not itself an op; failures propagate
        and end the cycle."""
        return self._root("step", fn)

    def unrecorded(self, *args):
        return args[-1]()

    def plan_phases(self, df) -> None:
        """Force the frame's Catalyst planning and record the tracker's
        phase times (analysis already ran during construction)."""
        with self.span("catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    self.tracer.counts[f"catalyst.{ph}_s"] += (
                        opt.get().durationMs() / 1000
                    )


def _measure(ctx, wl, seconds: float, trace: bool) -> dict:
    """Repeat ``wl.cycle`` until ``seconds`` have passed and
    ``wl.min_cycles`` cycles are done. Traced runs
    alternate untraced and traced cycles so the tracing overhead is
    measured in the same process, on the same inputs."""
    walls = {False: [], True: []}
    cache_mb = 0.0
    n_traced_ops = 0
    t_start = time.perf_counter()
    i = 0
    while True:
        traced = trace and i % 2 == 1
        if ctx.tracer is not None:
            ctx.tracer.enabled = traced
            # a traced cycle and the untraced one after it draw the same
            # seeded inputs, so the overhead ratio compares like with like
            ctx.rng = random.Random(f"{ctx.seed}:{(i + 1) // 2}")
        before = len(ctx.lat) + ctx.failed
        t0 = time.perf_counter()
        try:
            wl.cycle(ctx)
        except Exception:
            ctx.attempted += 1
            ctx.failed += 1
            ctx.errors.append(f"cycle {i}: {traceback.format_exc(limit=3)}")
        if not (trace and i == 0):
            # a traced run leaves out its first (still warming) cycle,
            # so the overhead ratio compares like with like
            walls[traced].append(time.perf_counter() - t0)
        if traced:
            n_traced_ops += len(ctx.lat) + ctx.failed - before
            cache_mb += sum(_du_mb(p) for p in wl.cache_dirs(ctx))
        i += 1
        done = time.perf_counter() - t_start >= seconds
        done = done and i >= getattr(wl, "min_cycles", 1)
        if done and (not trace or (i % 2 == 1 and walls[False])):
            break  # a traced run ends on an untraced cycle, pairs complete
    if ctx.tracer is not None:
        ctx.tracer.enabled = False
    return {
        "loop_s": time.perf_counter() - t_start,
        "cycles": i,
        "walls": walls,
        "traced_ops": n_traced_ops,
        "cache_mb": cache_mb,
    }


def _end_to_end(ctx, m: dict, setup_s: float, rss_mb: float) -> tuple:
    lat = [x for _, x, _ in ctx.lat]
    tail, p, n = _tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (_median(m["walls"][False]), "s"),
        "ops_per_s": (len(lat) / m["loop_s"], "1/s"),
        "latency_p50_s": (_typical(ctx.lat), "s"),
        "latency_tail_s": (tail, "s"),
        "success_ratio": (1 - ctx.failed / max(ctx.attempted, 1), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "first_visit_p50_s": (_typical([o for o in ctx.lat if o[2]]), "s"),
        "revisit_p50_s": (_typical([o for o in ctx.lat if not o[2]]), "s"),
    }
    return metrics, {"tail_percentile": p, "tail_samples": n}


def _missing(metrics: dict) -> list:
    """Names of metrics with no samples behind them (NaN)."""
    return [k for k, (v, _) in metrics.items() if v != v]


def _rest(spark, path: str):
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _per_layer(ctx, m: dict) -> dict:
    import spans

    tr = ctx.tracer
    sc = ctx.spark.sparkContext
    ops = max(m["traced_ops"], 1)
    self_s = tr.self_times()
    eager_jobs = len(sc.statusTracker().getJobIdsForGroup("registry.construct"))

    def per_op(name):
        return self_s.get(name, 0.0) / ops

    out = {
        "plans.search_s": (per_op("plans.search"), "s/op"),
        "plans.searches": (tr.calls("plans.search") / ops, "count/op"),
        "plans.states_expanded": (tr.counts["plans.states_expanded"] / ops, "count/op"),
        "plans.lookahead_s": (per_op("plans.lookahead"), "s/op"),
        "runtime.call_task_s": (per_op("runtime.call_task"), "s/op"),
        "runtime.call_tasks": (tr.calls("runtime.call_task") / ops, "count/op"),
        "registry.construct_s": (per_op("registry.construct"), "s/op"),
        "registry.eager_jobs": (eager_jobs / ops, "count/op"),
        "sources.resolve_s": (per_op("sources.resolve"), "s/op"),
        "sources.resolves": (tr.calls("sources.resolve") / ops, "count/op"),
    }
    lookups = tr.calls("cache.get_or_compute")
    stores = sum(
        1 for n, _, _, parent, _ in tr.spans
        if n == "cache.store" and parent is not None
        and tr.spans[parent][0] == "cache.get_or_compute"
    )
    out.update({
        "cache.lookups": (lookups / ops, "count/op"),
        "cache.hit_ratio": ((lookups - stores) / lookups if lookups else 0.0, "ratio"),
        "cache.store_s": (per_op("cache.store"), "s/op"),
        "cache.load_s": (per_op("cache.load"), "s/op"),
        "cache.written_mb": (m["cache_mb"] / ops, "MB/op"),
        "view.render_s": (per_op("view.render"), "s/op"),
        "serve.request_s": (per_op("serve.request"), "s/op"),
        "py4j.calls": (tr.py4j_calls / ops, "count/op"),
        "py4j.s": (tr.py4j_s / ops, "s/op"),
    })
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_s"] = (tr.counts[f"catalyst.{ph}_s"] / ops, "s/op")
    out["catalyst.forced_s"] = (per_op("catalyst"), "s/op")
    out.update(_exec_stages(ctx, ops, per_op("exec")))
    roots = [(t1 - t0) for n, t0, t1, _, _ in tr.spans if n in spans.ROOTS]
    root_self = sum(self_s.get(n, 0.0) for n in spans.ROOTS)
    out["trace.attributed_ratio"] = (
        1 - root_self / sum(roots) if roots else 0.0, "ratio"
    )
    out["trace.overhead_ratio"] = (
        _median(m["walls"][True]) / _median(m["walls"][False]), "ratio"
    )
    return out


def _exec_stages(ctx, ops: int, exec_s: float) -> dict:
    """Final-execution stage totals from the local UI's REST API, over
    the jobs tagged ``exec``."""
    jobs = [j for j in _rest(ctx.spark, "jobs") if j.get("jobGroup") == "exec"]
    wanted = {sid for j in jobs for sid in j.get("stageIds", [])}
    tot = dict.fromkeys(
        ("stages", "tasks", "run", "cpu", "gc", "rd", "wr", "failed"), 0.0
    )
    for st in _rest(ctx.spark, "stages"):
        if st["stageId"] not in wanted or st["status"] not in ("COMPLETE", "FAILED"):
            continue
        tot["stages"] += 1
        tot["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        tot["run"] += st.get("executorRunTime", 0) / 1e3
        tot["cpu"] += st.get("executorCpuTime", 0) / 1e9
        tot["gc"] += st.get("jvmGcTime", 0) / 1e3
        tot["rd"] += st.get("shuffleReadBytes", 0) / (1 << 20)
        tot["wr"] += st.get("shuffleWriteBytes", 0) / (1 << 20)
        tot["failed"] += st.get("numFailedTasks", 0)
    return {
        "exec.s": (exec_s, "s/op"),
        "exec.jobs": (len(jobs) / ops, "count/op"),
        "exec.stages": (tot["stages"] / ops, "count/op"),
        "exec.tasks": (tot["tasks"] / ops, "count/op"),
        "exec.task_run_s": (tot["run"] / ops, "s/op"),
        "exec.task_cpu_s": (tot["cpu"] / ops, "s/op"),
        "exec.gc_s": (tot["gc"] / ops, "s/op"),
        "exec.shuffle_read_mb": (tot["rd"] / ops, "MB/op"),
        "exec.shuffle_write_mb": (tot["wr"] / ops, "MB/op"),
        "exec.failed_tasks": (tot["failed"] / ops, "count/op"),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "task_on_dataframes_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    import datagen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    seed = args.seed % (1 << 31)
    work = os.path.join(root, ".perfbench")
    sf_dir = os.path.join(work, "data", f"sf{datagen.SF}")
    datagen.ensure(sf_dir, datagen.SF)
    before = _files(root, work)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir, sf_dir, bool(args.trace))

    t0 = time.perf_counter()
    from task_on_dataframes_spark.session import get_spark

    spark = get_spark("perfbench", max_partition_bytes=str(4 << 20))
    checks: list = []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(spark.sparkContext)
        ctx = Context(spark, sf_dir, run_dir, seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.warm_up(ctx)
        setup_s = time.perf_counter() - t0
        if tracer is not None:
            spans.install(tracer, spark)
        m = _measure(ctx, wl, args.seconds, bool(args.trace))
        if args.trace:
            metrics = _per_layer(ctx, m)
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(work, "traces", f"{args.workload}-seed{seed}.jsonl")
            )
            detail = {}
        else:
            metrics, detail = _end_to_end(ctx, m, setup_s, _peak_rss_mb(spark))
        checks = [f"no samples for {k}" for k in _missing(metrics)]
        checks += wl.check(ctx)
    except Exception:
        checks = [f"run aborted: {traceback.format_exc(limit=5)}"]
        ctx = None
    finally:
        _stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    left = sorted(_files(root, work) - before)
    if os.path.exists(run_dir):
        left.append(run_dir)
    if left:
        checks.append(f"files left behind: {left[:10]}")
    for err in (ctx.errors if ctx else [])[:5]:
        print(err, file=sys.stderr)
    for c in checks:
        print(f"CHECK FAILED: {c}", file=sys.stderr)
    if ctx is None:
        return 1
    print(json.dumps({
        "workload": args.workload, "seed": seed, "sf": datagen.SF,
        "cycles": m["cycles"],
        "cycle_walls_s": [round(w, 4) for w in m["walls"][False]],
        "checks_failed": len(checks), **detail,
    }))
    print(json.dumps({
        "correct": not checks,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            k: {"value": v if v == v else 0.0, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }))
    return 0 if not checks else 1


if __name__ == "__main__":
    sys.exit(main())
