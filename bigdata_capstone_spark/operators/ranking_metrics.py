"""DataFrame-native ranking metrics (SURVEY §2.9 M7, §7.3).

Reimplements ``pyspark.mllib.evaluation.RankingMetrics`` (used at
popularity_model.py:61-67 and als_recommendation.py:37-42 via a
collect()/parallelize() RDD detour, SURVEY §4.2-1) as ONE per-user
aggregate over pure DataFrame ops — ANSI-SQL expressible so the DuckDB
oracle can check it.

Pinned mllib semantics (RankingMetrics.scala, Spark 3.x):

- ``precisionAt(k)``   = |hits in first min(k,|pred|) predictions| / k
  (divides by k even when |pred| < k)
- ``recallAt(k)``      = same hit count / |label set|
- ``meanAveragePrecisionAt(k)``: per user
  sum over hit positions i<min(k,|pred|) of (hits≤i)/(i+1), divided by
  min(|labels|, k)
- ``ndcgAt(k)``: binary gain 1/ln(i+2) at position i; DCG over the first
  min(k,|pred|) predictions; ideal DCG = sum of the first min(|labels|,k)
  gains
- duplicates in the prediction list count at every occurrence (no dedup);
  the label set is a set
- users with an empty label set score 0 on all metrics

All four live in one kernel, :func:`ranking_metric_columns`, over a
user's sorted hit positions and label-set size; "hits ≤ i" counts the
hits at positions ≤ i, so two predictions sharing a position are peers
with one shared count (a RANGE frame's reading of a tied position).

Universe semantics: the reference pairs predictions with labels via an
*inner* join on user (popularity_model.py:58, als_recommendation.py:33), so
users lacking either side are excluded — we preserve that.

Scale shape: the prediction rows (pos < k) and the label rows are tagged
and unioned, and ONE ``groupBy(user)`` builds each user's sorted
(pos, item) array and label set (``collect_set``); the hit positions are
a membership filter of the one array against the other, and the kernel
is plain per-row expression work. One shuffle on user, then a one-row
global reduce: no ``distinct`` shuffle, no (user, item) join, no window,
no cache, no driver round-trip. Per-user state is at most k predictions
(more only when one user repeats a position) plus that user's label set,
and the membership filter costs O(k · |labels|) per user.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_METRICS = ("precision_at_k", "recall_at_k", "map_at_k", "ndcg_at_k")


def ranking_metric_columns(hits: str, m: str, k: int) -> list[Column]:
    """The metric kernel: P@k, Recall@k, AP@k and NDCG@k of one user as
    Column expressions over two SQL expressions: ``hits``, the user's
    0-based hit positions sorted ascending (every position < k), and
    ``m`` >= 1, the size of the user's label set. Returns the columns
    ``precision_at_k, recall_at_k, avg_precision_at_k, ndcg_at_k``.

    AP sums cum(p)/(p+1) over the hits, where cum(p) counts the hits at
    positions <= p, so tied positions share one count; NDCG divides the
    DCG (gain 1/ln(p+2) per hit) by the ideal DCG over min(m, k) hits.
    A hit list is at most k long, so the O(|hits|²) cum is O(k²). Each
    column is one SQL expression, parsed JVM-side in one call (built
    from Column objects, the kernel cost hundreds of py4j calls)."""
    m_eff = f"least({m}, {int(k)})"
    ap_num = (
        f"aggregate({hits}, 0D, (acc, p) -> acc"
        f" + size(filter({hits}, x -> x <= p)) / CAST(p + 1 AS DOUBLE))"
    )
    dcg = f"aggregate({hits}, 0D, (acc, p) -> acc + 1D / ln(p + 2D))"
    max_dcg = (
        f"aggregate(sequence(1, {m_eff}), 0D,"
        " (acc, i) -> acc + 1D / ln(CAST(i AS DOUBLE) + 1D))"
    )
    return [
        F.expr(f"size({hits}) / {int(k)}D AS precision_at_k"),
        F.expr(f"size({hits}) / {m} AS recall_at_k"),
        F.expr(f"{ap_num} / {m_eff} AS avg_precision_at_k"),
        F.expr(f"{dcg} / {max_dcg} AS ndcg_at_k"),
    ]


def hit_positions(
    preds: DataFrame,
    labels: DataFrame,
    k: int,
    user_col: str = "userId",
    item_col: str = "movieId",
    pos_col: str = "pos",
) -> DataFrame:
    """Per-user evaluation state ``(user, hits, m)``: the sorted 0-based
    positions < k at which the user's predictions hit the label set, and
    the size of that set. One ``groupBy(user)`` over the tagged union of
    the prediction rows (pos < k) and the label rows; users missing
    either side (or with no prediction below k) get no row."""
    p = preds.select(
        F.col(user_col).alias("u"),
        F.struct(
            F.col(pos_col).cast("long").alias("pos"), F.col(item_col).alias("i")
        ).alias("pr"),
        F.lit(None).alias("li"),
    ).filter(F.col("pr.pos") < k)
    lab = labels.select(
        F.col(user_col).alias("u"),
        F.lit(None).cast(p.schema["pr"].dataType).alias("pr"),
        F.col(item_col).alias("li"),
    )
    return (
        p.unionByName(lab)
        .filter(F.col("u").isNotNull())
        .groupBy("u")
        .agg(
            F.expr("array_sort(collect_list(pr)) AS __p"),
            F.expr("collect_set(li) AS __l"),
        )
        .filter("size(__p) > 0 AND size(__l) > 0")
        .selectExpr(
            f"u AS `{user_col}`",
            "transform(filter(__p, x -> array_contains(__l, x.i)), x -> x.pos)"
            " AS hits",
            "CAST(size(__l) AS BIGINT) AS m",
        )
    )


def per_user_ranking_metrics(
    preds: DataFrame,
    labels: DataFrame,
    k: int,
    user_col: str = "userId",
    item_col: str = "movieId",
    pos_col: str = "pos",
) -> DataFrame:
    """Per-user P@k / Recall@k / AP@k / NDCG@k.

    ``preds``: exploded ranked predictions ``(user, item, pos)`` with pos
    0-based by rank (callers with array columns: ``posexplode`` first).
    ``labels``: relevant ``(user, item)`` pairs (duplicates collapse).

    Returns one row per user present in BOTH inputs with columns
    ``precision_at_k, recall_at_k, avg_precision_at_k, ndcg_at_k``.
    """
    st = hit_positions(preds, labels, k, user_col, item_col, pos_col)
    return st.select(user_col, *ranking_metric_columns("hits", "m", k))


def hit_metrics_at_ks(state: DataFrame, ks: list[int]) -> DataFrame:
    """Global means of the four metrics at every cutoff in ``ks`` from a
    per-user ``(hits, m)`` state whose hit positions are all below
    max(ks): the kernel runs once per k on ``filter(hits, p -> p < k)``,
    and ONE global aggregate averages them all. Returns one row per k,
    in ascending k: ``(k, n_users, precision_at_k, recall_at_k,
    map_at_k, ndcg_at_k)`` (n_users 0 and NULL means on an empty
    state)."""
    ks = sorted(set(ks))
    per_user = [
        c.alias(f"{name}_{k}")
        for k in ks
        for c, name in zip(
            ranking_metric_columns(f"filter(hits, h -> h < {int(k)})", "m", k),
            _METRICS,
        )
    ]
    means = state.select(*per_user).selectExpr(
        "count(1) AS n_users",
        *[f"avg({name}_{k}) AS {name}_{k}" for k in ks for name in _METRICS],
    )
    rows = ", ".join(
        f"struct({int(k)} AS k, n_users, "
        + ", ".join(f"{name}_{k} AS {name}" for name in _METRICS)
        + ")"
        for k in ks
    )
    return means.selectExpr(f"inline(array({rows}))")


def ranking_metrics(
    preds: DataFrame,
    labels: DataFrame,
    k: int,
    user_col: str = "userId",
    item_col: str = "movieId",
    pos_col: str = "pos",
) -> DataFrame:
    """Global means of the four metrics — the numbers the reference printed
    (popularity_model.py:85-103). One row:
    ``(n_users, precision_at_k, recall_at_k, map_at_k, ndcg_at_k)``."""
    return ranking_metrics_at_ks(
        preds, labels, [k], user_col, item_col, pos_col
    ).drop("k")


def explode_ranked_array(
    df: DataFrame, user_col: str, array_col: str, item_col: str = "movieId"
) -> DataFrame:
    """Adapter: ``(user, [item...])`` array form → exploded ``(user, item,
    pos)`` rows consumed by the metric functions (pos is 0-based)."""
    return df.select(
        F.col(user_col), F.posexplode(F.col(array_col)).alias("pos", item_col)
    )


def ranking_metrics_at_ks(
    preds: DataFrame,
    labels: DataFrame,
    ks: list[int],
    user_col: str = "userId",
    item_col: str = "movieId",
    pos_col: str = "pos",
) -> DataFrame:
    """Global P@k / Recall@k / MAP@k / NDCG@k for SEVERAL cutoffs in ONE
    pass — the evaluation-sweep shape (k ∈ {10, 50, 100}) without
    re-scanning predictions per k. Same pinned mllib semantics as
    :func:`per_user_ranking_metrics`: the per-user hit positions below
    max(ks) are built once (:func:`hit_positions`) and every cutoff
    filters them (:func:`hit_metrics_at_ks`), so the whole sweep costs
    one shuffle on user + one tiny reduce. The user universe is the
    users with a prediction below max(ks), the same for every k.

    Returns one row per k, ascending: (k, n_users, precision_at_k,
    recall_at_k, map_at_k, ndcg_at_k).
    """
    st = hit_positions(preds, labels, max(ks), user_col, item_col, pos_col)
    return hit_metrics_at_ks(st, ks)
