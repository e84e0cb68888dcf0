"""One test per registry entry: build its plan once, then check it.

``check_entry`` runs every per-entry check on one build of the entry's
DataFrame, in this order:

1. the unpartitioned-window audit and the low-cardinality window-funnel
   audit on the optimized plan (``testing.unpartitioned_windows``,
   ``testing.window_funnels``);
2. the plan-shape ledger: the physical operator counts of the initial
   plan (``testing.plan_shape``) must equal the entry's line in
   ``tests/plan_ledger.json``;
3. execution: the DuckDB oracle compare (the driver's t2 correctness
   gate: row-count + schema + order-insensitive values), or a collect
   for the entries without an oracle;
4. the cache check: the CacheManager is non-empty after execution
   exactly when the ledger line says ``leaves_cache: true``. Those lines
   are the known-leak list; it may only shrink.

The cache is cleared before the build and after the checks, so no entry
sees, or leaves behind, another entry's cached relations.

The suite runs at sf0.001 for speed; the driver runs sf0.01. Point
SPARK_GRAFT_ORACLE_SF at the sf0.01 fixture to run at driver scale. The
ledger's counts are compared only at the fixture it was taken at (join
selection depends on table sizes). After an intended plan or cache
change, regenerate the entry's line with
``python tools/plan_ledger.py <name>`` and commit the one-line diff.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from bigdata_capstone_spark.catalog import ORACLE_SQL, QUERIES
from bigdata_capstone_spark.testing import (
    cache_in_use,
    check_query_against_oracle,
    plan_shape,
    unpartitioned_windows,
    window_funnels,
)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")
REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def ledger():
    return json.loads((REPO / "tests" / "plan_ledger.json").read_text())


def check_entry(spark, ledger, name, execute):
    spark.catalog.clearCache()
    try:
        df = QUERIES[name](spark, SF_DIR)
        optimized = df._jdf.queryExecution().optimizedPlan()
        bad = unpartitioned_windows(optimized)
        assert not bad, f"{name}: unpartitioned-window audit: {bad}"
        bad = window_funnels(optimized)
        assert not bad, f"{name}: low-cardinality window-funnel audit: {bad}"

        regen = f"python tools/plan_ledger.py {name}"
        line = ledger["entries"].get(name)
        assert line is not None, f"{name}: plan ledger: no line ({regen})"
        if Path(SF_DIR).name == ledger["fixture"]:
            moved = [
                f"{k} {line[k]} -> {v}"
                for k, v in plan_shape(df).items()
                if line[k] != v
            ]
            assert not moved, (
                f"{name}: plan ledger: {', '.join(moved)} "
                f"(if intended: {regen})"
            )

        execute(df)

        leaks = cache_in_use(spark)
        hint = (
            "a new leak: release what the entry caches, the known-leak "
            "list only shrinks" if leaks else f"a known leak is fixed: {regen}"
        )
        assert leaks == line["leaves_cache"], (
            f"{name}: cache check: leaves_cache {line['leaves_cache']} -> "
            f"{leaks} ({hint})"
        )
    finally:
        spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(spark, ledger, name):
    def compare(df):
        problems = check_query_against_oracle(df, ORACLE_SQL[name], SF_DIR)
        assert not problems, f"{name}: oracle compare: " + "; ".join(problems)

    check_entry(spark, ledger, name, compare)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE_SQL)))
def test_query_without_oracle(spark, ledger, name):
    check_entry(spark, ledger, name, lambda df: df.collect())


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_pinned_keys_all_registered():
    """The external driver replays a pinned set of query keys each round
    (the CORRECTNESS_r* files record them): every pinned key must
    resolve in queries(), or the driver records an unresolvable-key
    failure we would never see locally. (Round 4 nearly shipped exactly
    that by retiring embedding_ann_ivf.)"""
    pinned: set[str] = set()
    for path in REPO.glob("CORRECTNESS_r*.json"):
        pinned.update(json.loads(path.read_text()).keys())
    assert pinned, "no CORRECTNESS files found (driver not yet run?)"
    missing = sorted(k for k in pinned if k not in QUERIES)
    assert not missing, f"pinned driver keys missing from registry: {missing}"
