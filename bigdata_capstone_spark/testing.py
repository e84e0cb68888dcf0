"""Local replica of the driver's DuckDB-oracle correctness gate, plus the
plan checks the per-entry registry test runs next to it.

The driver runs each ``queries()[name]`` on Spark and ``oracle_sql()[name]``
on DuckDB over the same Parquet, then compares row-count + schema +
order-insensitive value-hash. This module reproduces that comparison so the
test suite catches mismatches (float drift, tie nondeterminism, TZ skew,
alias typos) before a round is submitted.

The plan checks (``unpartitioned_windows``, ``window_funnels``,
``plan_shape``, ``cache_in_use``) read a built DataFrame's plans and the
session's CacheManager; ``tests/test_catalog_oracle.py`` applies them to
every registry entry and ``tools/plan_ledger.py`` records ``plan_shape``
and ``cache_in_use`` in ``tests/plan_ledger.json``.
"""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from bigdata_capstone_spark.sources.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the ten test tables registered as views (the
    driver's pre-registered-view contract, __spark_entry__.py:33-35)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all columns (order-insensitive)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort", na_position="last")
    return pdf.reset_index(drop=True)


def _values_equal(a, b, rel_tol: float, abs_tol: float) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=rel_tol, abs_tol=abs_tol)
    if pd.isna(a) and pd.isna(b):
        return True
    try:
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=rel_tol, abs_tol=abs_tol)
        except (TypeError, ValueError):
            return False
    return a == b


def compare_frames(
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = match).

    Defaults to BIT-EXACT comparison: the driver's gate is a value hash,
    so any tolerance here would hide failures the driver will flag. The
    determinism contract (decimal sums, pre-rank rounding, PRF hashes)
    makes exactness achievable; pass tolerances only for known
    order-dependent diagnostics.

    HARD INVARIANT for catalog queries — round BEFORE any double
    aggregation whose accumulation order is engine-dependent: a double
    that is averaged (e.g. avg of per-pair correlations, avg of per-user
    metrics) must be ``round(x, 6)``-ed at the per-row stage, so both
    engines average the SAME 6-decimal values and the final avg differs
    by at most n·ulp — far below the 6-decimal output rounding. Rounding
    only the final avg is NOT safe: a value landing within float-sum
    drift of a 0.5e-6 boundary would flake the gate nondeterministically.
    Exact (decimal) sums need no rounding; plain double sums/avgs do.
    """
    problems: list[str] = []
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return [f"column sets differ: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row counts differ: spark={len(a)} oracle={len(b)}"]
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(av, bv))
            if not _values_equal(x, y, rel_tol, abs_tol)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"column {col!r}: {len(bad)}/{len(av)} values differ; "
                f"first at sorted row {i}: spark={x!r} oracle={y!r}"
            )
    return problems


def check_query_against_oracle(
    spark_df: DataFrame,
    oracle_sql: str,
    sf_dir: str,
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
) -> list[str]:
    """Run the oracle SQL on DuckDB and diff against the Spark result."""
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.sql(oracle_sql).df()
    finally:
        con.close()
    spark_pdf = spark_df.toPandas()
    return compare_frames(spark_pdf, oracle_pdf, rel_tol=rel_tol, abs_tol=abs_tol)


def _plan_nodes(root):
    """Pre-order walk of a JVM plan tree (iterative: plans run deep)."""
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        cs = node.children()
        stack.extend(cs.apply(i) for i in reversed(range(cs.size())))


def unpartitioned_windows(optimized) -> list[str]:
    """Window specs without a partition list in an optimized logical plan.

    An unpartitioned window is a single-partition sort of its whole input
    (the `WARN WindowExec: No Partition Defined` anti-pattern), the one
    plan shape that cannot survive a 100x scale-up. Global running sums
    go through ``relational.partitioned_prefix_sum``; global ranks
    through TakeOrdered pre-selection + ``partitioned_row_number``.

    Detection: in ``windowspecdefinition(part..., sort ASC/DESC, frame)``
    the partition columns precede the sort specs, so when the FIRST
    argument is itself a sort spec (token immediately followed by
    ASC/DESC), the partition list is empty.
    """
    return re.findall(
        r"windowspecdefinition\((\S+) (?:ASC|DESC) NULLS", optimized.toString()
    )


# Columns of the test fixture with a handful of distinct values.
_LOW_CARD = frozenset({
    "lang", "event_type", "source", "o_orderstatus", "o_orderpriority",
    "l_returnflag", "l_linestatus", "r_name", "n_name", "mime",
})
# Tokens of a row-bounding construct directly below a window.
_BOUNDING = (
    "Aggregate",
    "LocalRelation",  # collected literal frame (broadcast cutoff)
    "LogicalRDD",     # createDataFrame'd literal frame, same role
    "GlobalLimit",
    "LocalLimit",
    "__subrank",      # two-phase grouped top-k survivor filter
    "__cutoff",       # broadcast hash-cutoff filter (stratified pick)
)


def window_funnels(optimized) -> list[list[str]]:
    """Partition keys of the low-cardinality window funnels in an
    optimized logical plan.

    A window PARTITIONED only by low-cardinality columns over a
    corpus-sized input is the same single-task pathology as an
    unpartitioned one: each stratum's entire row set funnels through ONE
    task's sort. Such a window must have a row-bounding construct below
    it: an Aggregate (contingency / state build), a LocalRelation (a
    collected broadcast cutoff frame, the stratified_sample recipe), or a
    Limit. A raw scan+project under such a window is a funnel.

    Heuristic, stated honestly: it catches the raw-scan funnel class; it
    cannot prove the bounding filter is selective."""
    bad = []
    for node in _plan_nodes(optimized):
        if node.nodeName() != "Window":
            continue
        ps = node.partitionSpec()
        names = set()
        for i in range(ps.size()):
            s = ps.apply(i).toString()
            m = re.match(r"(\w+)#\d+", s)
            names.add(m.group(1) if m else s)
        if not names or not names <= _LOW_CARD:
            continue
        child = node.children().apply(0).toString()
        if not any(tok in child for tok in _BOUNDING):
            bad.append(sorted(names))
    return bad


# Physical operators counted by the plan-shape ledger.
LEDGER_NODES = (
    "BroadcastExchange", "Exchange", "InMemoryTableScan", "SortMergeJoin",
    "Window",
)


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Counts of the ``LEDGER_NODES`` in ``df``'s initial physical plan.

    The initial plan is the one AQE starts from, fixed before execution,
    so the counts do not depend on runtime statistics (AQE may still
    re-plan a SortMergeJoin as a broadcast at run time; that does not
    show). Scalar subqueries and the plans of cached relations are walked
    too, each through its own initial plan."""
    counts = dict.fromkeys(LEDGER_NODES, 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        if name in counts:
            counts[name] += 1
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return counts


def cache_in_use(spark) -> bool:
    """Whether the session's CacheManager holds any cached relation."""
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()
