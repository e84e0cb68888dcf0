"""Grouped statistics (SURVEY §2.4 A1-A9).

Count/avg/Pearson-corr/collect_list per group — the reference's
aggregation surface (splitting_data.py:19; popularity_model.py:28-31;
customer_segmentation_2.py:36-38,58) — with two hardenings:

- money-like sums/means go through exact DECIMAL accumulation
  (:mod:`bigdata_capstone_spark.functions.portable`) so results are
  reduction-order independent (hash-oracle stable);
- collected lists get an explicit total order (SURVEY Q1:
  the reference's ``collect_list`` after shuffle has no guaranteed order).

All are single-pass hash aggregations with map-side partial aggregation —
the shape that scales: shuffle carries one partial state per (task, group),
not raw rows (contrast the reference's RDD ``groupByKey`` at
als_recommendation.py:26,31 which shuffles every row).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_capstone_spark.functions.portable import exact_avg, exact_sum


def grouped_stats(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    scale: int = 2,
) -> DataFrame:
    """count / exact mean / min / max of ``value`` per group (A1-A3)."""
    return df.groupBy(*keys).agg(
        F.count(value).alias("n"),
        exact_avg(value, scale).alias("avg_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
    )


def damped_mean(count_col: Column, sum_col: Column, damping: float) -> Column:
    """The reference's damped popularity score: ``avg·n/(n+β)`` ≡ ``sum/(n+β)``
    (popularity_model.py:37; SURVEY Q9 — a damped mean-scaled score, not a
    Bayesian average)."""
    return sum_col / (count_col + F.lit(float(damping)))


def pearson_by_group(
    df: DataFrame,
    keys: Sequence[str],
    x: str,
    y: str,
    min_points: int = 2,
) -> DataFrame:
    """Pearson correlation per group (A5), null-filtered.

    ``corr`` is null for <2 points (SURVEY Q6; customer_segmentation_2.py:38
    filters the nulls). We additionally expose the point count so callers
    can assert the ≥2-common-items invariant.

    Computed as ``try_divide(covar_samp, stddev·stddev)`` rather than
    ``F.corr``: under ANSI mode (Spark 4 default) ``corr`` RAISES
    Division-by-zero when one side is constant within a group (zero
    variance), whereas the reference's semantics — and every SQL oracle —
    treat that as null-and-filtered. Identical value to within an ulp
    (same co-moments, one extra division pair), and callers round for the
    oracle anyway.
    """
    out = df.groupBy(*keys).agg(
        F.expr(
            f"try_divide(covar_samp({x}, {y}), "
            f"stddev_samp({x}) * stddev_samp({y}))"
        ).alias("correlation"),
        F.count(F.lit(1)).alias("n_points"),
    )
    return out.filter(
        F.col("correlation").isNotNull()
        & ~F.isnan("correlation")
        & (F.col("n_points") >= min_points)
    )


def approx_stats(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    distinct_col: str,
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """The documented 100 TB scale path for distinct counts and quantiles
    (SCALE.md): single-pass mergeable sketches instead of exact shuffles.

    - ``approx_count_distinct`` — HyperLogLog++, fixed-size state per
      group, no expand/distinct shuffle (exact count-distinct doubles the
      shuffle width per distinct column);
    - ``percentile_approx`` — Greenwald-Khanna sketch, mergeable map-side,
      no per-group sort (exact percentiles need row-position windows).

    Approximate ⇒ engine-specific results: no DuckDB hash oracle — tests
    assert relative error against the exact aggregates at test scale.
    """
    qcols = [
        F.percentile_approx(value, q, accuracy).alias(
            f"p{str(q).replace('0.', '')}_approx"
        )
        for q in quantiles
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(distinct_col).alias("n_distinct_approx"),
        *qcols,
    )


def global_stats(df: DataFrame, value: str, scale: int = 2) -> DataFrame:
    """No-group aggregate (A7): one row of count/exact-sum/exact-mean."""
    return df.agg(
        F.count(value).alias("n"),
        exact_sum(value, scale).alias("sum_value"),
        exact_avg(value, scale).alias("avg_value"),
    )
