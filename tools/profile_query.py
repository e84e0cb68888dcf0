"""Decompose a registry query's wall time: build vs plan vs run vs rerun.

Usage: python tools/profile_query.py q1[,q2...] [n_runs]

For each query, times:
  build   - QUERIES[name](spark, sf_dir): Python + eager actions
            (localCheckpoint / collect during construction)
  plan    - executedPlan materialization (Catalyst analyze/optimize)
  run1    - first noop write (codegen compile + execute)
  run2    - second noop write of a FRESH build (steady state measurement,
            caches cleared in between, like bench.py's loop)

Also reports how many Spark jobs each phase launched, which separates
eager-build actions from lazy execution. Jobs are counted by job-id
delta (the DAG scheduler's next job id before and after): the status
tracker keeps only ``spark.ui.retainedJobs`` entries, so a count taken
from its job list stops growing, and goes negative as a difference,
once a long session passes that many jobs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_capstone_spark.catalog import QUERIES  # noqa: E402
from bigdata_capstone_spark.session import build_session  # noqa: E402


def main() -> int:
    names = [s for s in sys.argv[1].split(",") if s]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="profile_query")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").collect()
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs() -> int:
        return int(dag.nextJobId())

    for name in names:
        for run in range(n_runs):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            j0, t0 = jobs(), time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1, j1 = time.perf_counter(), jobs()
            _ = df._jdf.queryExecution().executedPlan().toString()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3, j3 = time.perf_counter(), jobs()
            print(
                f"{name} run{run+1}: build={t1-t0:.2f}s ({j1-j0} jobs) "
                f"plan={t2-t1:.2f}s exec={t3-t2:.2f}s ({j3-j1} jobs) "
                f"total={t3-t0:.2f}s",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
