"""Pipeline observability: observed metrics and per-query profiles.

Production pipelines need row counts / quality gauges per run WITHOUT a
second pass over the data: ``df.observe`` attaches aggregate metrics to
the plan itself — collected as a side effect of the action (one job, no
extra scan), unlike the reference's four separate ``count()`` actions
that each recomputed the lineage (splitting_data.py:42-45; SURVEY §4.2
anti-pattern 4).

At 100 TB an extra count() IS an extra 100 TB scan; observed metrics are
free. Works on batch actions; for streams the same metrics surface per
micro-batch via the StreamingQueryListener.

:func:`profile` is the one build-then-execute measurement of a query:
the bench, ``python -m bigdata_capstone_spark profile`` and the tests'
job-count guards all read their layers from it.
:func:`captured_checkpoints` records the plans that run at build time,
which a plan dump of the final frame shows only as a ``Scan
ExistingRDD``.
"""

from __future__ import annotations

import contextlib
import statistics
import sys
import time
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def run_with_metrics(
    df: DataFrame, metrics: dict[str, Column], sink_format: str = "noop"
) -> dict:
    """Execute ``df`` once into ``sink_format`` and return the observed
    metric values piggybacked on that single job.

    ``metrics`` maps output names to aggregate expressions, e.g.
    ``{"n_rows": F.count(F.lit(1)), "null_keys": F.count_if(F.col("k").isNull())}``.
    """
    obs = Observation()
    observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    observed.write.format(sink_format).mode("overwrite").save()
    return obs.get


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """JVM/codegen warm-up on an unrelated trivial job, plus one tiny
    parquet scan, so the first profiled query does not absorb one-time
    datasource initialization."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").collect()


def profile(
    spark: SparkSession, build: Callable[[], DataFrame]
) -> tuple[DataFrame, dict]:
    """Build a frame cold-cache and execute it into the ``noop`` sink.

    Returns the frame and its layers: ``build_s`` / ``build_jobs`` (the
    Python build, including eager jobs run while building), ``exec_s`` /
    ``exec_jobs`` (the write, its own planning included), ``wall_s``
    (both), and the summed metrics of the exec stages (see
    :func:`_stage_sums`).

    Cold cache: caches a previous query left behind are cleared first,
    and a JVM GC nudges the ContextCleaner — with a large driver heap GC
    (which drives shuffle/broadcast cleanup) can lag for minutes, and a
    heavy query's stale shuffle state distorts the next measurement.
    Nothing is cleared afterwards, so a caller can check what the query
    left cached.

    Jobs are counted by id delta (the scheduler's next id before and
    after), never by the length of a job list: the status store keeps
    only ``spark.ui.retainedJobs`` entries, so a list length stops
    growing once a long session passes that many jobs. The stage sums do
    read the status store, so they hold only when ``stages_missing`` is
    0 (see :func:`_stage_sums`)."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    sc = spark.sparkContext._jsc.sc()
    dag = sc.dagScheduler()
    j0, t0 = int(dag.nextJobId()), time.perf_counter()
    df = build()
    t1, j1, s1 = time.perf_counter(), int(dag.nextJobId()), int(dag.nextStageId())
    df.write.format("noop").mode("overwrite").save()
    t2, j2, s2 = time.perf_counter(), int(dag.nextJobId()), int(dag.nextStageId())
    layers = {
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "build_jobs": j1 - j0,
        "exec_s": round(t2 - t1, 3),
        "exec_jobs": j2 - j1,
    }
    return df, {**layers, **_stage_sums(spark, range(s1, s2))}


def _stage_sums(spark: SparkSession, stage_ids: range) -> dict[str, int]:
    """Summed metrics of the stages in ``stage_ids``, all attempts, read
    from the status store (available with the UI off): tasks, input
    records (parquet rows scanned plus rows re-read from cached blocks),
    shuffle bytes and spill of the stages that ran; skipped stages are
    only counted. ``stages_missing`` counts the ids the store no longer
    holds — evicted past ``spark.ui.retainedStages`` or lost with a
    dropped listener event — and the sums undercount when it is not 0."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    gw = spark.sparkContext._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out = dict.fromkeys(
        ("tasks", "stages_skipped", "stages_missing", "input_records",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
        0,
    )
    for sid in stage_ids:
        try:
            attempts = sc.statusStore().stageData(
                sid, False, None, False, no_quantiles
            )
        except Py4JJavaError:
            out["stages_missing"] += 1
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["tasks"] += int(st.numTasks())
            out["input_records"] += int(st.inputRecords())
            out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
    return out


def profile_runs(
    spark: SparkSession, builds: dict[str, Callable[[], DataFrame]], runs: int
) -> dict[str, list[dict]]:
    """:func:`profile` every build ``runs`` times, one pass over all of
    them per run; one line per profile goes to stderr. Returns each
    name's layers, one dict per run."""
    samples: dict[str, list[dict]] = {name: [] for name in builds}
    for run in range(runs):
        for name, build in builds.items():
            _, p = profile(spark, build)
            samples[name].append(p)
            print(
                f"# run{run + 1} {name}: {p['wall_s']}s "
                f"build={p['build_s']}s ({p['build_jobs']} jobs) "
                f"exec={p['exec_s']}s ({p['exec_jobs']} jobs)",
                file=sys.stderr,
                flush=True,
            )
    return samples


def medians(samples: dict[str, list[dict]]) -> dict[str, dict]:
    """Per-name, per-layer medians of :func:`profile_runs` samples."""
    return {
        name: {k: round(statistics.median(p[k] for p in ps), 3) for k in ps[0]}
        for name, ps in samples.items()
    }


def explain_string(df: DataFrame) -> str:
    """The formatted physical plan of ``df``."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@contextlib.contextmanager
def captured_checkpoints():
    """Record every subtree checkpointed while the block runs, in build
    order, as ``(label, formatted plan)``. Both paths of
    ``ckpt.truncate`` are caught — ``localCheckpoint`` and the reliable
    ``checkpoint`` — and the label says which, and whether it ran
    eagerly or only marked the frame (``eager=False``)."""
    captured: list[tuple[str, str]] = []
    originals = {
        name: getattr(ClassicDataFrame, name)
        for name in ("localCheckpoint", "checkpoint")
    }

    def capturing(name, orig):
        def method(self, eager=True, *args, **kwargs):
            kind = "eager" if eager else "lazy"
            captured.append((f"{kind} {name}", explain_string(self)))
            return orig(self, eager, *args, **kwargs)

        return method

    # sessions hand out the classic DataFrame, which overrides both
    # methods: patch the concrete class, not the base
    for name, orig in originals.items():
        setattr(ClassicDataFrame, name, capturing(name, orig))
    try:
        yield captured
    finally:
        for name, orig in originals.items():
            setattr(ClassicDataFrame, name, orig)
