"""Dump .explain("formatted") for EAGER (checkpoint-truncated) queries.

Usage: python tools/dump_eager_plans.py <outdir> <suffix> q1[,q2...]

Queries whose operators eagerly ``localCheckpoint`` intermediates
(nn_descent_insert, label_propagation rounds, prefix sums...) show up
in a plain plan dump as a single ``Scan ExistingRDD`` — the real plans
executed during the BUILD phase are invisible. This tool wraps
``DataFrame.localCheckpoint`` so every checkpointed subtree's formatted
plan is captured (in build order, before it executes), then appends the
final frame's plan. The dump is therefore the COMPLETE set of physical
plans the query runs, in execution order — the before/after evidence
the optimization rounds committed for eager queries (the `plans/`
tree, in git history at commit f88f165).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4: sessions hand out pyspark.sql.classic.dataframe.DataFrame,
# which OVERRIDES localCheckpoint — patch the concrete class, not the base
try:
    from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
except ImportError:  # pragma: no cover - Spark 3.x layout
    from pyspark.sql import DataFrame  # noqa: E402

from bigdata_capstone_spark.catalog import QUERIES  # noqa: E402
from bigdata_capstone_spark.session import build_session  # noqa: E402


def _fmt(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = [s for s in sys.argv[3].split(",") if s]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = build_session(app_name="dump_eager_plans")

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def capturing(self, eager=True):  # noqa: ANN001
        captured.append(_fmt(self))
        return orig(self, eager=eager)

    DataFrame.localCheckpoint = capturing
    try:
        for name in names:
            captured.clear()
            df = QUERIES[name](spark, sf_dir)
            parts = [
                f"== eager localCheckpoint #{i + 1} (build order) ==\n{p}"
                for i, p in enumerate(captured)
            ]
            parts.append(f"== final frame ==\n{_fmt(df)}")
            plan = "\n\n".join(parts)
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} chars, "
                  f"{len(captured)} eager subtrees)", flush=True)
            spark.catalog.clearCache()
    finally:
        DataFrame.localCheckpoint = orig
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
