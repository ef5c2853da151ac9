"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload flagship_generated --seed 1 --seconds 10 --trace 0

One driver process, closed loop: the ops of a workload run one after
the other, each as a full action, pass after pass. The run

1. pins the environment (cores, driver memory, local and temp dirs,
   the Python workers' import path) and writes its seeded inputs under
   ``.bench_build/perfbench/`` in the checkout;
2. sets up: Spark session, Python worker pool and the workload's
   untimed warm-up passes over its own inputs — all of it is
   ``setup_s``;
3. computes each op's expected result (DuckDB oracle or reference),
   untimed;
4. times passes for ``--seconds`` seconds and at least the workload's
   ``min_passes`` times (a pass started before the deadline runs to its
   end), checking every op's output; an op that raises or returns a
   wrong result is counted and the run goes on;
5. with ``--trace 1`` runs untraced and traced passes in U T T U order
   instead and prints the per-layer table (spans around calls into each
   module, Spark status-store counters) and the tracing overhead.

Human-readable tables go to stderr; the last stdout line is the JSON
result ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# driver JVM heap: room for the runs' inputs on a 15 GiB machine shared
# with other work (the library default of 48g assumes a dedicated host)
DRIVER_MEM = "3g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment() -> dict:
    """Environment for the driver, its JVM and the Python workers."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "GRAPHEM_DRIVER_MEM": os.environ.get("GRAPHEM_DRIVER_MEM", DRIVER_MEM),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # workers import graphem_rapids_spark whatever the cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # JVM temp files (streaming checkpoints, perf data) stay in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def preflight() -> str | None:
    for rel in ("graphem_rapids_spark/__init__.py", "scripts/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a full checkout"
    return None


# --------------------------------------------------------------------- runs

class Runner:
    def __init__(self, workload, ctx, counters=None, tracer=None):
        self.w = workload
        self.ctx = ctx
        self.counters = counters
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run_op(self, op, traced: bool) -> dict:
        snap0 = self.counters.snapshot() if traced else None
        self.ctx.last_split = None
        pids = [os.getpid(), *descendants(os.getpid())]
        c0 = cpu_seconds(pids)
        t0 = time.perf_counter()
        try:
            result = op.run(self.ctx)
            error = None
        except Exception as exc:  # noqa: BLE001 — a failed op is recorded, the run goes on
            result, error = None, f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            log(traceback.format_exc(limit=3))
        wall = time.perf_counter() - t0
        rec = {"name": op.name, "family": op.family, "s": wall, "split": self.ctx.last_split,
               "cpu_s": cpu_seconds(pids) - c0}
        if traced:
            snap1 = self.counters.snapshot()
            rec["spark"] = self.counters.delta(snap0, snap1)
        if error is None:
            try:
                error = op.check(self.ctx, result)
            except Exception as exc:  # noqa: BLE001 — a check that cannot run is a failure
                error = f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]
        rec["error"] = error
        return rec

    def run_pass(self, traced: bool = False, counted: bool = True) -> dict:
        if traced:
            self.tracer.clear()
        ops = [self.run_op(op, traced) for op in self.w.ops]
        p = {"ops": ops, "s": sum(o["s"] for o in ops)}
        if traced:
            p["spans"] = self.tracer.summary()
            p["module_s"] = {m: self.tracer.module_totals(m) for m in TRACED_MODULES}
            p["live_rdds"] = self.counters.live_rdds()
        if counted:
            for o in ops:
                self.attempted += 1
                if o["error"]:
                    self.failed += 1
                    self.failures.append(f"{o['name']}: {o['error']}")
        return p


TRACED_MODULES = ["pipeline.dedup", "pipeline.text", "streaming.events"]
CHECKPOINT_FNS = ["eager_checkpoint", "lazy_checkpoint", "checkpoint_count",
                  "eager_materialize", "release"]
# degree_centrality only builds a lazy frame; its work runs inside
# spearman_correlation's action
ANALYTICS_FNS = ["spearman_correlation"]
FAMILIES = ["embed", "cascade", "scores", "sql", "dedup", "vector", "text", "stream"]
# ops whose Spark job count is reported on its own
COUNTED_OPS = ["graphem_embed_topk", "independent_cascade", "degree_spearman",
               "dedup_exact", "events_stream_hourly"]
SPARK_KEYS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.sql_executions",
              "spark.job_busy_s", "spark.driver_gap_s", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
              "spark.python_sent_mb", "jvm.gc_s"]


def install_tracer(counters):
    import graphem_rapids_spark.analytics as analytics
    import graphem_rapids_spark.checkpoint as checkpoint
    import graphem_rapids_spark.embedding.embedder as embedder
    import graphem_rapids_spark.embedding.laplacian as laplacian
    import graphem_rapids_spark.influence as influence
    import graphem_rapids_spark.pipeline.dedup as dedup
    import graphem_rapids_spark.pipeline.text as text
    import graphem_rapids_spark.queries  # noqa: F401 — its name-bound imports get rebound
    import graphem_rapids_spark.streaming.events as events

    from perfbench.tracer import Tracer

    t = Tracer(job_id=counters.max_job_id)
    for fn in CHECKPOINT_FNS:
        t.patch_function(checkpoint, fn, f"checkpoint.{fn}")
    t.patch_function(laplacian, "laplacian_embedding",
                     "embedding.laplacian.laplacian_embedding")
    t.patch_method(embedder.GraphEmbedderSpark, "update_positions",
                   "embedding.embedder.update_positions", count_jobs=True)
    for fn in ANALYTICS_FNS:
        t.patch_function(analytics, fn, f"analytics.{fn}", count_jobs=True)
    t.patch_function(influence, "independent_cascade", "influence.independent_cascade",
                     count_jobs=True)
    for prefix, mod in zip(TRACED_MODULES, (dedup, text, events)):
        t.patch_module(mod, prefix)
    return t


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(passes: list[dict], untraced: list[dict], extra: dict) -> dict:
    """Per-layer table: medians over traced passes."""
    def per_pass(fn):
        return median([fn(p) for p in passes])

    def span(p, name, key):
        return p["spans"].get(name, {}).get(key, 0)

    m = dict(extra)
    for f in FAMILIES:
        m[f"family.{f}_s"] = per_pass(
            lambda p, f=f: sum(o["s"] for o in p["ops"] if o["family"] == f))
    m["queries.build_s"] = per_pass(lambda p: sum(o["split"][0] for o in p["ops"] if o["split"]))
    m["queries.action_s"] = per_pass(lambda p: sum(o["split"][1] for o in p["ops"] if o["split"]))
    m["embedding.laplacian.laplacian_embedding_s"] = per_pass(
        lambda p: span(p, "embedding.laplacian.laplacian_embedding", "s"))
    for key, unit in (("s", "_s"), ("calls", ".calls"), ("jobs", ".jobs")):
        m[f"embedding.embedder.update_positions{unit}"] = per_pass(
            lambda p, key=key: span(p, "embedding.embedder.update_positions", key))
    for fn in CHECKPOINT_FNS:
        m[f"checkpoint.{fn}.calls"] = per_pass(
            lambda p, fn=fn: span(p, f"checkpoint.{fn}", "calls"))
        m[f"checkpoint.{fn}.self_s"] = per_pass(
            lambda p, fn=fn: span(p, f"checkpoint.{fn}", "self_s"))
    m["checkpoint.live_rdds_end"] = per_pass(lambda p: p["live_rdds"])
    for fn in ANALYTICS_FNS:
        m[f"analytics.{fn}_s"] = per_pass(lambda p, fn=fn: span(p, f"analytics.{fn}", "s"))
        m[f"analytics.{fn}.jobs"] = per_pass(lambda p, fn=fn: span(p, f"analytics.{fn}", "jobs"))
    m["influence.independent_cascade_s"] = per_pass(
        lambda p: span(p, "influence.independent_cascade", "s"))
    m["influence.independent_cascade.jobs"] = per_pass(
        lambda p: span(p, "influence.independent_cascade", "jobs"))
    for mod in TRACED_MODULES:
        m[f"{mod}_s"] = per_pass(lambda p, mod=mod: p["module_s"][mod])
    for key in SPARK_KEYS:
        if key == "spark.driver_gap_s":
            m[key] = per_pass(lambda p: sum(
                max(o["s"] - o["spark"]["spark.job_busy_s"], 0.0) for o in p["ops"]))
        else:
            m[key] = per_pass(lambda p, key=key: sum(o["spark"][key] for o in p["ops"]))
    for name in COUNTED_OPS:
        m[f"op.{name}.jobs"] = per_pass(lambda p, name=name: sum(
            o["spark"]["spark.jobs"] for o in p["ops"] if o["name"] == name))
    m["trace.overhead_ratio"] = (median([p["s"] for p in passes]) /
                                 median([p["s"] for p in untraced])) if untraced else 1.0
    return m


def peak_rss_mb(spark) -> float:
    def hwm(pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return hwm("self") + hwm(jvm_pid)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids`` (those that
    still exist)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _CLK_TCK


def retained_mb(spark) -> float:
    """JVM heap + non-heap in use after a full GC, plus the driver
    Python's resident set: the memory the session keeps after its work."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    with open("/proc/self/status") as f:
        rss = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return used / 2**20 + rss / 1024.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process the
    run started (JVM, Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if pids:
                time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    problem = preflight()
    if problem:
        log(f"perfbench: {problem}")
        return 2
    env = pin_environment()
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload]
    log("perfbench env: " + " ".join(f"{k}={v}" for k, v in sorted(env.items())))

    data_dir = os.path.join(WORK, f"{w.name}-seed{args.seed}-{os.getpid()}")
    t_gen = time.perf_counter()
    info = w.make_inputs(data_dir, args.seed)
    t_setup = time.perf_counter()
    log(f"inputs: {info} in {t_setup - t_gen:.2f}s")
    spark = None
    try:
        from graphem_rapids_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{w.name}")
        get_spark_s = time.perf_counter() - t0
        spark.range(1000).selectExpr("sum(id)").collect()

        def _ident(batches):
            yield from batches

        cpus = int(env["SPARK_GRAFT_CPUS"])
        (spark.range(256, numPartitions=cpus).mapInPandas(_ident, "id long")
         .selectExpr("sum(id)").collect())
        ctx = Ctx(spark=spark, data_dir=data_dir, info=info)
        counters = setup_snap = None
        if args.trace:
            from perfbench.counters import SparkCounters

            counters = SparkCounters(spark)
            setup_snap = counters.snapshot()
        # the expected results come before warm-up: warm-up passes are
        # checked too, and their first values pin the cross-pass invariants
        t_exp = time.perf_counter()
        w.expect(ctx)
        expect_s = time.perf_counter() - t_exp
        runner = Runner(w, ctx)
        warm = []
        t_warm = time.perf_counter()
        for _ in range(w.warm_passes):
            warm.append(runner.run_pass(counted=False))
        setup_s = (t_gen - _T_START) + (time.perf_counter() - t_setup) - expect_s
        for p in warm:
            for o in p["ops"]:
                if o["error"]:
                    runner.failures.append(f"warm-up {o['name']}: {o['error']}")
        log(f"setup {setup_s:.2f}s (get_spark {get_spark_s:.2f}s, "
            f"warm passes " + ", ".join(f"{p['s']:.2f}" for p in warm)
            + f" in {time.perf_counter() - t_warm:.2f}s; oracle {expect_s:.2f}s untimed)")

        tracer = None
        if args.trace:
            setup_work = counters.delta(setup_snap, counters.snapshot())
            tracer = install_tracer(counters)
            runner.counters, runner.tracer = counters, tracer
        timed, untraced = [], []
        t_run = time.perf_counter()

        def timed_pass() -> None:
            timed.append(runner.run_pass(traced=bool(args.trace)))
            log(f"pass {len(timed)}: {timed[-1]['s']:.2f}s  " + "  ".join(
                f"{o['name']}={o['s']:.2f}" + ("!" if o["error"] else "")
                for o in timed[-1]["ops"]))

        def untraced_pass() -> None:
            tracer.active = False
            untraced.append(runner.run_pass())
            tracer.active = True

        if args.trace:
            # untraced passes (the overhead baseline) bracket the traced
            # ones, U T T U, so that neither side gets the earlier, less
            # warm passes; the per-layer table needs no more than two
            untraced_pass()
            timed_pass()
            timed_pass()
            untraced_pass()
            while time.perf_counter() - t_run < args.seconds:
                timed_pass()
                untraced_pass()
        else:
            while len(timed) < w.min_passes or time.perf_counter() - t_run < args.seconds:
                timed_pass()
        if tracer is not None:
            tracer.restore()
        rss = peak_rss_mb(spark)
        retained = retained_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(data_dir, ignore_errors=True)

    for f in runner.failures:
        log(f"FAILED {f}")
    ok = runner.attempted - runner.failed
    op_s: dict[str, list[float]] = {}
    for p in timed:
        for o in p["ops"]:
            op_s.setdefault(o["name"], []).append(o["s"])
    op_median = {k: median(v) for k, v in op_s.items()}
    if args.trace:
        extra = {  # keys: TRACE_EXTRA
            "session.get_spark_s": get_spark_s,
            "driver.peak_rss_mb": rss,
            "driver.cpu_s": median([sum(o["cpu_s"] for o in p["ops"]) for p in timed]),
            "bench.timed_passes": len(timed),
            "bench.warm_last_ratio": warm[-1]["s"] / median([p["s"] for p in timed]),
            "setup.jobs": setup_work["spark.jobs"],
            "setup.codegen_compiles": setup_work["spark.codegen_compiles"],
            "setup.codegen_ms": setup_work["spark.codegen_ms"],
            "setup.jvm_gc_s": setup_work["jvm.gc_s"],
            "quality.radial_rho": ctx.state.get("radial_rho", 0.0),
            "quality.cascade_spread": ctx.state.get("cascade_spread", 0.0),
        }
        metrics = layer_metrics(timed, untraced, extra)
        units = {k: layer_unit(k) for k in metrics}
        log_table("per-layer (median over traced passes)", metrics, units)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": sum(op_median.values()),
            "retained_mb": retained,
            "ok_ratio": ok / runner.attempted,
        }
        units = E2E_UNITS
        log_table("end-to-end", metrics, units)
    log(f"correct={runner.failed == 0 and not runner.failures} attempted={runner.attempted} "
        f"failed={runner.failed} run wall {time.perf_counter() - _T_START:.1f}s")
    print(json.dumps({
        "correct": runner.failed == 0 and not runner.failures,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


TRACE_EXTRA = ["session.get_spark_s", "driver.peak_rss_mb", "driver.cpu_s",
               "bench.timed_passes", "bench.warm_last_ratio", "setup.jobs",
               "setup.codegen_compiles", "setup.codegen_ms", "setup.jvm_gc_s",
               "quality.radial_rho", "quality.cascade_spread"]
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "retained_mb": "MB", "ok_ratio": "ratio"}


def layer_unit(name: str) -> str:
    if name == "quality.radial_rho":
        return "rho"
    if name == "quality.cascade_spread":
        return "nodes"
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def log_table(title: str, metrics: dict, units) -> None:
    log(f"--- {title}")
    for k, v in metrics.items():
        log(f"  {k:<48} {v:>14.6g} {units[k]}")


if __name__ == "__main__":
    sys.exit(main())
