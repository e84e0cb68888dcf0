"""Measurement machinery: Spark counters, module spans and JVM memory.

Everything here observes the engine from outside. Counters come from the
driver's DAG scheduler and the status store (readable with the UI off);
spans come from wrapping the public functions of engine modules for the
duration of a traced region and unwrapping them afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# operator modules reported one by one; other engine modules are not
# wrapped, so their self time stays with the caller's span
OPERATOR_MODULES = (
    "dedup", "simsearch", "similarity", "textops", "retrieval", "graph",
    "sketches", "relational", "popularity", "ranking_metrics", "multimodal",
    "merge", "reconcile",
)
PKG = "bigdata_capstone_spark"
STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "outputBytes", "shuffleReadBytes",
    "shuffleWriteBytes", "diskBytesSpilled",
)
MB = 1e6


class SparkCounters:
    """Job and stage counters of one SparkContext.

    Jobs are counted by job-id delta (the scheduler's next id before and
    after), never by the length of a job list: the status store keeps only
    ``spark.ui.retainedJobs`` entries, so list lengths stop growing, and
    differences of them go negative, once a session passes that many jobs.
    """

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def next_stage_id(self) -> int:
        return int(self._dag.nextStageId())

    def stages(self, first: int, end: int) -> dict[str, float]:
        """Summed metrics of stages ``first <= id < end`` (all attempts);
        skipped stages are counted apart and contribute no work."""
        self._bus.waitUntilEmpty()
        tot: dict[str, float] = defaultdict(float)
        for sid in range(first, end):
            try:
                attempts = self._store.stageData(
                    sid, False, None, False, self._no_quantiles
                )
            except Py4JJavaError:  # id taken by a stage that never ran
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    tot["skipped"] += 1
                    continue
                tot["stages"] += 1
                for f in STAGE_FIELDS:
                    tot[f] += float(getattr(st, f)())
        return tot


class Tracer:
    """Spans around calls into engine modules, keyed by layer.

    Each span records self time (its duration minus the spans nested in
    it) and self jobs (job-id delta minus the nested spans' jobs), so
    layer totals never count nested work twice.
    """

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.stats: dict[str, list[float]] = defaultdict(lambda: [0.0, 0, 0])
        self.sink_files = 0
        self.sink_stages: list[tuple[int, int]] = []
        self.active = False  # spans are recorded only inside traced ops
        self._stack: list[list[float]] = []
        self._lock = threading.RLock()
        self._patched: list[tuple[object, str, object]] = []

    def call(self, layer: str, fn, *args, **kwargs):
        j0, s0 = self.counters.next_job_id(), self.counters.next_stage_id()
        t0 = time.perf_counter()
        with self._lock:
            self._stack.append([0.0, 0])
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            dj = self.counters.next_job_id() - j0
            with self._lock:
                child_t, child_j = self._stack.pop()
                st = self.stats[layer]
                st[0] += dt - child_t
                st[1] += 1
                st[2] += dj - child_j
                if self._stack:
                    self._stack[-1][0] += dt
                    self._stack[-1][1] += dj
            if layer == "sinks":
                self.sink_stages.append((s0, self.counters.next_stage_id()))
                path = args[1] if len(args) > 1 else kwargs.get("path")
                if isinstance(path, str) and os.path.isdir(path):
                    self.sink_files += dir_bytes(path)[1]

    @contextlib.contextmanager
    def wrapped(self):
        """Wrap the public functions of the traced engine modules, in the
        defining module and wherever they were imported by name."""
        originals: dict[int, tuple[object, object]] = {}
        for modname, layer in _traced_modules():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == modname
                ):
                    originals[id(fn)] = (fn, self._wrapper(layer, fn))
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG)]:
            for name, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, obj))
        try:
            yield self
        finally:
            for mod, name, obj in self._patched:
                setattr(mod, name, obj)
            self._patched.clear()

    def _wrapper(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            return self.call(layer, fn, *args, **kwargs)

        return traced


def _traced_modules() -> list[tuple[str, str]]:
    mods = [(f"{PKG}.operators.{m}", f"operators.{m}") for m in OPERATOR_MODULES]
    mods += [
        (f"{PKG}.sources.{m}", "sources")
        for m in ("tables", "pydatasource", "ratings")
    ]
    mods.append((f"{PKG}.sources.sinks", "sinks"))
    streaming = importlib.import_module(f"{PKG}.streaming")
    mods += [
        (f"{PKG}.streaming.{m.name}", "streaming")
        for m in pkgutil.iter_modules(streaming.__path__)
    ]
    return mods


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker and checksum
    files are not data."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not (n.startswith(".") or n.startswith("_"))
    return total, files


class RssSampler:
    """Peak resident memory of a process, sampled from /proc every 20 ms."""

    def __init__(self, pid: int):
        self._path = f"/proc/{pid}/status"
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self._path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def _run(self) -> None:
        while not self._stop.wait(0.02):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# Time of one reference_s sample on an idle 4-vCPU machine: the speed
# that scaled timings are expressed at.
REF_NOMINAL_S = 0.1
REF_N = 500_000


def reference_s(spark) -> float:
    """Seconds of one sample of a fixed reference load that runs no
    engine and no Spark code: a parallel and a serial sort of seeded
    random doubles inside the Spark JVM (one call each, all work on the
    JVM side), then a sort of seeded random floats in this process.

    On a shared machine every timing drifts with the machine's speed, by
    up to 1.7x within half an hour. The reference drifts with it, so a
    timing scaled by ``REF_NOMINAL_S / median(samples taken while it
    ran)`` drifts far less: a 10-15% raw slowdown between two sets of
    runs moved the scaled medians by 1-2%.
    """
    import random

    jvm = spark._jvm
    t0 = time.perf_counter()
    jvm.java.util.Arrays.parallelSort(jvm.java.util.Random(7).doubles(REF_N).toArray())
    jvm.java.util.Arrays.sort(jvm.java.util.Random(8).doubles(REF_N // 2).toArray())
    rng = random.Random(9)
    sorted(rng.random() for _ in range(REF_N // 10))
    return time.perf_counter() - t0
