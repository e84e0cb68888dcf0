"""Declarative data-quality expectations (deequ/dbt-test-style): a suite
of table constraints evaluated in one pass per table, reported as one row
per check — the validation stage every warehouse load and every training-
data refresh runs before downstream consumers trust the data.

Each check builds a 1-row (check, n_violations) frame from a single
aggregate or anti-join; ``run_suite`` unions them. All checks are plain
ANSI-expressible counts, so the whole report is oracle-checkable.

Scale shape: per-table checks are narrow aggregates over one scan
(Catalyst collapses same-table checks it can — and even when it cannot,
each check reads only its needed columns); referential checks are
anti-join COUNTS, where the parent key side can be broadcast when the
dimension is small, and large-large falls back to a key-only shuffle
(keys, never payloads). The report is O(#checks) rows however large the
tables are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_not_null(df: DataFrame, name: str, col: str) -> DataFrame:
    """Violations = rows where ``col`` IS NULL."""
    return df.agg(
        F.count_if(F.col(col).isNull()).cast("long").alias("n_violations")
    ).select(F.lit(name).alias("check_name"), "n_violations")


def check_unique(df: DataFrame, name: str, cols: list[str]) -> DataFrame:
    """Violations = rows beyond the first in any duplicated key group
    (0 iff the columns form a unique key)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.coalesce(F.sum(F.col("__n") - 1), F.lit(0))
            .cast("long")
            .alias("n_violations")
        )
        .select(F.lit(name).alias("check_name"), "n_violations")
    )


def check_referential(
    child: DataFrame,
    name: str,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Violations = child rows whose non-null key has no parent row."""
    pk = parent.select(F.col(parent_col).alias(child_col)).distinct()
    if broadcast_parent:
        pk = F.broadcast(pk)
    orphans = (
        child.select(child_col)
        .filter(F.col(child_col).isNotNull())
        .join(pk, on=child_col, how="left_anti")
    )
    return orphans.agg(
        F.count(F.lit(1)).cast("long").alias("n_violations")
    ).select(F.lit(name).alias("check_name"), "n_violations")


def check_condition(df: DataFrame, name: str, cond: Column) -> DataFrame:
    """Violations = rows where ``cond`` is NOT satisfied (null counts as a
    violation — an unknown row fails a constraint, it doesn't pass it)."""
    return df.agg(
        F.count_if(~F.coalesce(cond, F.lit(False)))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit(name).alias("check_name"), "n_violations")


def run_suite(checks: list[DataFrame]) -> DataFrame:
    """Union the per-check frames into the suite report:
    (check, n_violations, status) — status 'pass' iff zero violations.
    Deterministic output order is the caller's sort (check name)."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "check_name",
        "n_violations",
        F.when(F.col("n_violations") == 0, F.lit("pass"))
        .otherwise(F.lit("fail"))
        .alias("status"),
    )
