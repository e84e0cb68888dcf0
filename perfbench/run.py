"""Layered benchmark of the analytics engine.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 5 --trace 0

Runs one workload (see README.md) in a closed loop with one client: the
operations of a pass are issued back to back from this process against one
``local[nproc]`` Spark JVM; the workload's number of passes runs, and more
while fewer than ``--seconds`` have elapsed. Inputs are generated
from ``--seed`` inside the checkout. An untimed check pass runs every query
once and collects its result; results and maintained state are checked
after the timed passes. End-to-end timings are scaled to a reference
machine speed measured in the same run. The last line of stdout is one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"
OP_TIMEOUT_S = 90
REF_PER_GAP = 2  # reference samples after each timed operation


def configure_env() -> None:
    """Size Spark for the box through the engine's own env settings, and
    keep every file Spark or Python writes inside the checkout. Must run
    before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers (mapInPandas) import the engine by module name; they
    # inherit this, not the driver's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # a fixed-size heap: G1 otherwise resizes it with GC timing, which
        # made the JVM's resident memory differ by up to 70% between runs
        f"--conf spark.driver.extraJavaOptions='-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}' "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def source_id() -> str:
    """Git commit of the checkout, or a digest of the engine sources when
    the checkout is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "bigdata_capstone_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def noop(df) -> None:
    """Execute ``df`` completely and discard its rows, as bench.py does."""
    df.write.format("noop").mode("overwrite").save()


class Run:
    """One workload run: fixtures, timed regions, verification, metrics."""

    def __init__(self, spark, wl, seed: int, seconds: float, data_dir: str):
        from harness import SparkCounters

        self.spark, self.wl, self.seed, self.seconds = spark, wl, seed, seconds
        self.dir = data_dir
        self.fixture = os.path.join(data_dir, "fixture")
        self.counters = SparkCounters(spark)
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.maint = None
        self.outputs: dict[str, object] = {}  # query -> collected result
        self.errors: list[str] = []
        # reference samples (see harness.reference_s) taken in set-up and
        # in the untimed gaps between timed operations; sampling time is
        # kept out of every metric
        self.ref_setup: list[float] = []
        self.ref_region: list[float] = []
        self.ref_spent = 0.0

    # ------------------------------------------------------------ set-up
    def calibrate(self, into: list[float] | None, samples: int) -> None:
        from harness import reference_s

        t0 = time.perf_counter()
        got = [reference_s(self.spark) for _ in range(samples)]
        if into is not None:
            into.extend(got)
        self.ref_spent += time.perf_counter() - t0

    @staticmethod
    def speed(samples: list[float]) -> float:
        """Factor that scales a timing to the reference machine speed,
        from the reference samples taken while it ran."""
        from harness import REF_NOMINAL_S

        return REF_NOMINAL_S / statistics.median(samples)

    def setup(self) -> None:
        import workloads as W

        # the first samples run while the JIT still compiles the sorts
        self.calibrate(None, 5)
        self.calibrate(self.ref_setup, 4)
        self.digest = W.make_fixture(self.fixture, self.seed, self.wl.scale, self.wl.factor)
        if self.wl.steps:
            self.maint = W.Maintenance(
                self.spark, self.fixture, os.path.join(self.dir, "maintenance"), self.seed
            )
            self.maint.build_initial()
        self.ops = W.op_order(self.wl)
        self._housekeeping()
        self.calibrate(self.ref_setup, 4)

    def stored_bytes(self) -> int:
        """Bytes of the persisted maintenance state; 0 when there is none."""
        from harness import dir_bytes

        return dir_bytes(self.maint.state)[0] if self.maint else 0

    def _housekeeping(self) -> None:
        # cold cache per operation, and a GC nudge so the ContextCleaner
        # drops the last operation's shuffle and broadcast state
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def _guarded(self, fn, *args):
        """``fn(*args)``, with its Spark jobs cancelled after OP_TIMEOUT_S."""
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            return fn(*args)
        finally:
            timer.cancel()

    def check_pass(self) -> tuple[int, int]:
        """Execute every query once, untimed, and collect its result for
        the checks. As the query's first execution it also pays its one-off
        costs (code generation, first use of the JVM's code paths), so the
        timed passes measure repeat executions. Returns (attempted, failed)."""
        from bigdata_capstone_spark.catalog import QUERIES

        queries = [name for kind, name in self.ops if kind == "query"]
        for name in queries:
            try:
                self.outputs[name] = self._guarded(
                    lambda: QUERIES[name](self.spark, self.fixture).toPandas())
            except Exception as exc:  # counted, reported, run goes on
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                traceback.print_exc(file=sys.stderr)
            self._housekeeping()
        return len(queries), len(queries) - len(self.outputs)

    # ------------------------------------------------------------ timed ops
    def _query(self, name: str, sf_dir: str, tr) -> None:
        """Build and execute a query into the noop sink, so neither the
        collect to the driver nor the Arrow-to-pandas conversion is timed."""
        from bigdata_capstone_spark.catalog import QUERIES

        if tr is None:
            noop(QUERIES[name](self.spark, sf_dir))
            return
        tr.tracer.active = True
        try:
            return self._traced_query(name, sf_dir, tr)
        finally:
            tr.tracer.active = False

    def _traced_query(self, name: str, sf_dir: str, tr):
        from bigdata_capstone_spark.catalog import QUERIES

        c = self.counters
        j0, s0, t0 = c.next_job_id(), c.next_stage_id(), time.perf_counter()
        df = tr.tracer.call("catalog", QUERIES[name], self.spark, sf_dir)
        t1 = time.perf_counter()
        j1, s1 = c.next_job_id(), c.next_stage_id()
        tree = df._jdf.queryExecution().executedPlan().treeString()
        t2 = time.perf_counter()
        noop(df)
        t3 = time.perf_counter()
        tr.add("catalog.build_s", t1 - t0)
        tr.add("catalog.build_jobs", j1 - j0)
        tr.build_stages.append((s0, s1))
        tr.add("plan.s", t2 - t1)
        tr.add("plan.nodes", tree.count("\n") + 1)
        tr.add("plan.exchanges", tree.count("Exchange"))
        tr.add("exec.s", t3 - t2)
        tr.add("exec.jobs", c.next_job_id() - j1)
        tr.exec_stages.append((s1, c.next_stage_id()))

    def _step(self, name: str, b: int, tr):
        if tr is None:
            return self.maint.run_step(name, b)
        c = self.counters
        j0, s0, t0 = c.next_job_id(), c.next_stage_id(), time.perf_counter()
        tr.tracer.active = True
        try:
            out = self.maint.run_step(name, b)
        finally:
            tr.tracer.active = False
        tr.add("exec.s", time.perf_counter() - t0)
        tr.add("exec.jobs", c.next_job_id() - j0)
        tr.exec_stages.append((s0, c.next_stage_id()))
        return out

    def _timed_op(self, kind: str, name: str, b: int, tr) -> tuple[float, object]:
        t0 = time.perf_counter()
        if kind == "query":
            out = self._guarded(self._query, name, self.fixture, tr)
        else:
            out = self._guarded(self._step, name, b, tr)
        return time.perf_counter() - t0, out

    def region(self, tr=None) -> dict:
        """Timed passes over the workload's operations.

        Untraced: the workload's ``passes``, more while fewer than
        ``seconds`` have elapsed, keeping two maintenance batches for a
        traced region; the reference load is sampled after every
        operation. Traced: one pass in which every operation runs untraced
        and traced back to back, alternating which goes first, so their
        difference is the tracing overhead at the same point of JVM
        warm-up."""
        from harness import RssSampler

        modes = [None, tr] if tr else [None]
        lat: list[dict[str, list[float]]] = [{} for _ in modes]
        passes: list[list[float]] = []
        attempted = failed = 0
        t0 = time.perf_counter()

        def more() -> bool:
            if tr:
                return not passes
            return len(passes) < self.wl.passes or (
                time.perf_counter() - t0 < self.seconds
                and (self.maint is None or self.maint.batches_left() > 2)
            )

        with RssSampler(self.jvm_pid) as rss:
            while more():
                first = self.maint.next_batch() if self.maint else 0
                wall = [0.0 for _ in modes]
                for j, (kind, name) in enumerate(self.ops):
                    order = range(len(modes)) if j % 2 == 0 else reversed(range(len(modes)))
                    # a step's k-th execution in this pass applies batch first+k
                    for k, i in enumerate(order):
                        mode = modes[i]
                        attempted += 1
                        try:
                            dt, out = self._timed_op(kind, name, first + k, mode)
                        except Exception as exc:  # counted, reported, run goes on
                            failed += 1
                            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                            traceback.print_exc(file=sys.stderr)
                        else:
                            print(f"# op {name}{' traced' if mode else ''}: {dt:.3f}s",
                                  file=sys.stderr, flush=True)
                            wall[i] += dt
                            lat[i].setdefault(name, []).append(dt)
                            if kind == "step" and out is not None and not all(out.values()):
                                failed += 1
                                self.errors.append(f"{name}: reconcile report {out}")
                        self._housekeeping()
                        if not tr:  # on a clean heap, so the engine's garbage cannot slow it
                            self.calibrate(self.ref_region, REF_PER_GAP)
                passes.append(wall)
                if self.maint:
                    for i in range(len(modes)):
                        self.maint.finish_batch(first + i)
        per_op = [statistics.median(v) for v in lat[-1].values()]
        out = {
            "attempted": attempted,
            "failed": failed,
            "passes": [p[-1] for p in passes],
            "wall_s": statistics.median(p[-1] for p in passes),
            "op_geomean_s": geomean(per_op) if per_op else float("nan"),
            "n_ops": len(per_op),
            "peak_rss_mb": rss.peak_kb / 1024.0,
            "lat": lat[-1],
        }
        if tr:
            out["overhead_s"] = passes[0][1] - passes[0][0]
        return out

    # ------------------------------------------------------------ checks
    def verify(self) -> int:
        """Check every collected query output against its DuckDB oracle and
        the maintained state against a rebuild; returns failed operations."""
        import workloads as W

        from bigdata_capstone_spark.catalog import ORACLE_SQL
        from bigdata_capstone_spark.testing import compare_frames

        failed = 0
        cache = os.path.join(WORK, "oracle-cache")
        for name, pdf in self.outputs.items():
            want = W.oracle_answer(
                cache, name, ORACLE_SQL[name], self.fixture, self.digest, self.seed
            )
            problems = compare_frames(pdf, want)
            if problems:
                failed += 1
                self.errors.append(f"{name}: {problems[0]}"[:500])
        if self.maint:
            for step, problems in self.maint.verify().items():
                if problems:  # the step ran once per applied batch
                    failed += len(self.maint.applied)
                    self.errors.extend(f"{step}: {p}" for p in problems)
        return failed


class LayerTrace:
    """Per-layer accumulators of one traced region."""

    def __init__(self, run: Run):
        from harness import Tracer

        self.tracer = Tracer(run.counters)
        self.vals: dict[str, float] = {}
        self.build_stages: list[tuple[int, int]] = []
        self.exec_stages: list[tuple[int, int]] = []

    def add(self, key: str, v: float) -> None:
        self.vals[key] = self.vals.get(key, 0.0) + v


def layer_metrics(run: Run, tr: LayerTrace, session_s: float,
                  traced: dict) -> dict[str, tuple[float, str]]:
    from harness import MB, OPERATOR_MODULES

    c = run.counters

    def stage_sum(ranges):
        tot: dict[str, float] = {}
        for a, b in ranges:
            for k, v in c.stages(a, b).items():
                tot[k] = tot.get(k, 0.0) + v
        return tot

    build, ex = stage_sum(tr.build_stages), stage_sum(tr.exec_stages)
    sink = stage_sum(tr.tracer.sink_stages)
    v, st = tr.vals, tr.tracer.stats
    exec_s = v.get("exec.s", 0.0)
    task_s = ex.get("executorRunTime", 0.0) / 1e3
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "sources.read_s": (st["sources"][0], "s"),
        "sources.read_calls": (st["sources"][1], "count"),
        "sources.input_mb": ((build.get("inputBytes", 0) + ex.get("inputBytes", 0)) / MB, "MB"),
        "sources.input_rows": (build.get("inputRecords", 0) + ex.get("inputRecords", 0), "count"),
        "sinks.write_s": (st["sinks"][0], "s"),
        "sinks.output_mb": (sink.get("outputBytes", 0.0) / MB, "MB"),
        "sinks.files": (tr.tracer.sink_files, "count"),
        "catalog.build_s": (v.get("catalog.build_s", 0.0), "s"),
        "catalog.build_jobs": (v.get("catalog.build_jobs", 0.0), "count"),
        "catalog.build_task_s": (build.get("executorRunTime", 0.0) / 1e3, "s"),
        "plan.s": (v.get("plan.s", 0.0), "s"),
        "plan.nodes": (v.get("plan.nodes", 0.0), "count"),
        "plan.exchanges": (v.get("plan.exchanges", 0.0), "count"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (v.get("exec.jobs", 0.0), "count"),
        "exec.stages": (ex.get("stages", 0.0), "count"),
        "exec.stages_skipped": (ex.get("skipped", 0.0), "count"),
        "exec.tasks": (ex.get("numTasks", 0.0), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.cpu_s": (ex.get("executorCpuTime", 0.0) / 1e9, "s"),
        "exec.gc_s": (ex.get("jvmGcTime", 0.0) / 1e3, "s"),
        "exec.core_busy": (task_s / (exec_s * run.cores) if exec_s else 0.0, "ratio"),
        "exec.shuffle_write_mb": (ex.get("shuffleWriteBytes", 0.0) / MB, "MB"),
        "exec.shuffle_read_mb": (ex.get("shuffleReadBytes", 0.0) / MB, "MB"),
        "exec.spill_mb": (ex.get("diskBytesSpilled", 0.0) / MB, "MB"),
    }
    for mod in OPERATOR_MODULES:
        s, calls, jobs = st[f"operators.{mod}"]
        m[f"operators.{mod}.s"] = (s, "s")
        m[f"operators.{mod}.calls"] = (calls, "count")
        m[f"operators.{mod}.jobs"] = (jobs, "count")
    m["streaming.s"] = (st["streaming"][0], "s")
    m["streaming.calls"] = (st["streaming"][1], "count")
    m["sinks.stored_mb"] = (run.stored_bytes() / MB, "MB")
    m["trace.overhead_s"] = (traced["overhead_s"], "s")
    return m


def run_workload(spark, wl, seed: int, seconds: float, trace: bool,
                 t_start: float, session_s: float, data_dir: str) -> dict:
    """Set up, measure and verify workload ``wl``; returns the result
    object and the run's metadata."""
    run = Run(spark, wl, seed, seconds, data_dir)
    run.setup()
    setup_s = time.perf_counter() - t_start - run.ref_spent
    t0 = time.perf_counter()
    checked, check_failed = run.check_pass()
    t1 = time.perf_counter()
    plain = run.region()
    regions = [plain]
    if trace:
        tr = LayerTrace(run)
        with tr.tracer.wrapped():
            traced = run.region(tr)
        regions.append(traced)
    t2 = time.perf_counter()
    failed = check_failed + sum(r["failed"] for r in regions) + run.verify()
    t3 = time.perf_counter()
    attempted = checked + sum(r["attempted"] for r in regions)
    meta = {
        "workload": wl.name, "seed": seed, "scale": wl.scale,
        "factor": wl.factor, "cores": run.cores,
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"), "commit": source_id(),
        "passes": [round(p, 3) for p in plain["passes"]], "n_ops": plain["n_ops"],
        "op_median_s": {k: round(statistics.median(v), 4) for k, v in plain["lat"].items()},
        "ref_setup_s": [round(r, 4) for r in run.ref_setup],
        "ref_region_s": [round(r, 4) for r in run.ref_region],
        "raw": {"setup_s": round(setup_s, 3), "wall_s": round(plain["wall_s"], 3),
                "op_geomean_s": round(plain["op_geomean_s"], 4)},
        "stored_mb": round(run.stored_bytes() / 1e6, 4),
        "session_s": round(session_s, 3),
        "check_pass_s": round(t1 - t0, 3), "regions_s": round(t2 - t1, 3),
        "verify_s": round(t3 - t2, 3),
        "errors": run.errors,
    }
    if trace:
        metrics = layer_metrics(run, tr, session_s, traced)
    else:
        speed = run.speed(run.ref_region)
        metrics = {
            "setup_s": (setup_s * run.speed(run.ref_setup), "s"),
            "wall_s": (plain["wall_s"] * speed, "s"),
            "op_geomean_s": (plain["op_geomean_s"] * speed, "s"),
            "peak_rss_mb": (plain["peak_rss_mb"], "MB"),
        }
    return {
        "meta": meta,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit; it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    configure_env()
    try:
        from bigdata_capstone_spark.session import build_session
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench")
    session_s = time.perf_counter() - t0
    data_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        out = run_workload(spark, W.WORKLOADS[args.workload], args.seed, args.seconds,
                           bool(args.trace), T_START, session_s, data_dir)
    finally:
        stop_spark(spark)
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    print("# " + json.dumps(out["meta"]), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
