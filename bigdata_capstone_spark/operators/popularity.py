"""Damped-popularity recommender (SURVEY §2.9 M8, §2.12 Q7/Q9).

Rebuilds popularity_model.py as a library:

- :func:`damped_item_scores` — per-item damped mean ``avg·n/(n+β)``
  (popularity_model.py:28-38)
- :func:`recommend_top_k` — score candidate items for each user and keep
  the per-user top-k (popularity_model.py:42-48, with the SURVEY Q1/Q3
  determinism fixes: ``row_number`` over a total order)
- :func:`ground_truth` — per-user relevant items = rated strictly above
  the user's own mean rating (popularity_model.py:52-54; SURVEY Q7)

Scale notes: item scores are small (|items| rows) → broadcast-joined onto
the user side; the per-user ranking is one window over a single shuffle by
user. For a global popularity model the candidate set is identical for all
users, so ``recommend_top_k`` ranks the *items once* and cross-joins the
k winners to users — O(users·k) instead of O(users·items).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_capstone_spark.functions.portable import exact_sum
from bigdata_capstone_spark.operators.aggregates import damped_mean


def damped_item_scores(
    ratings: DataFrame,
    damping: float,
    item_col: str = "movieId",
    rating_col: str = "rating",
    scale: int = 2,
) -> DataFrame:
    """Per-item damped popularity score (Q9): ``sum(rating)/(n+β)``.

    Exact decimal sum keeps the score reduction-order independent; the
    division happens once per item in double math. ``scale`` must cover the
    rating column's decimal places (MovieLens half-stars → 1; prices → 2).
    """
    return ratings.groupBy(item_col).agg(
        F.count(rating_col).alias("rating_count"),
        exact_sum(rating_col, scale).alias("rating_sum"),
    ).select(
        item_col,
        "rating_count",
        damped_mean(F.col("rating_count"), F.col("rating_sum"), damping).alias(
            "popularity_score"
        ),
    )


def recommend_top_k(
    users: DataFrame,
    item_scores: DataFrame,
    k: int,
    user_col: str = "userId",
    item_col: str = "movieId",
) -> DataFrame:
    """Top-k globally-popular items for every user.

    The reference joined the full score table onto every test row then
    windowed per user (popularity_model.py:42-48) — O(users·items) shuffle.
    A global popularity ranking is user-independent, so rank items once
    (tie-break on item id for determinism, Q2/Q3) and cross-join the k
    winners onto the distinct user set.
    """
    top_items = (
        item_scores.orderBy(F.desc("popularity_score"), F.col(item_col))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("popularity_score"), F.col(item_col))
            ),
        )
        .select(item_col, "popularity_score", "rank")
    )
    return users.select(user_col).distinct().crossJoin(F.broadcast(top_items))


def grid_search_damping(
    train: DataFrame,
    val: DataFrame,
    dampings: list[float],
    k: int = 100,
    user_col: str = "userId",
    item_col: str = "movieId",
    rating_col: str = "rating",
    scale: int = 1,
) -> tuple[float, list[dict]]:
    """Reference M8: pick the damping β maximizing NDCG@k on validation
    (popularity_model.py:73-97, β grid {10,100,1000,10000}).

    The reference recomputed the full stats pipeline per β (SURVEY §4.2-4).
    Here the per-item (count, sum) aggregate and the validation ground
    truth are each computed ONCE and cached; per β only the damped-mean
    arithmetic, the k-item ranking, and the metric aggregation re-run —
    at 100 TB the expensive shuffles happen once, the grid loop touches
    |items|-sized data. The three caches are released once the loop has
    collected its rows.

    Returns ``(best_damping, [{damping, ndcg_at_k, ...}, ...])``.
    """
    from bigdata_capstone_spark.operators.ranking_metrics import ranking_metrics

    stats = train.groupBy(item_col).agg(
        F.count(rating_col).alias("rating_count"),
        exact_sum(rating_col, scale).alias("rating_sum"),
    ).cache()
    truth = ground_truth(val, user_col, item_col, rating_col).cache()
    val_users = val.select(user_col).distinct().cache()

    results: list[dict] = []
    try:
        for beta in dampings:
            scores = stats.select(
                item_col,
                damped_mean(
                    F.col("rating_count"), F.col("rating_sum"), beta
                ).alias("popularity_score"),
            )
            recs = recommend_top_k(val_users, scores, k, user_col, item_col)
            preds = recs.select(
                user_col, item_col, (F.col("rank") - 1).alias("pos")
            )
            row = ranking_metrics(
                preds, truth, k, user_col, item_col, "pos"
            ).first()
            results.append({"damping": beta, **row.asDict()})
    finally:
        for cached in (stats, truth, val_users):
            cached.unpersist()
    best = max(results, key=lambda r: r["ndcg_at_k"])["damping"]
    return best, results


def ground_truth(
    ratings: DataFrame,
    user_col: str = "userId",
    item_col: str = "movieId",
    rating_col: str = "rating",
) -> DataFrame:
    """Relevant items per user: rating strictly above the user's own mean
    (Q7; popularity_model.py:52-54). Returns (user, item) pairs.

    The per-user mean is computed with an exact decimal sum, then compared
    in double math — identical in Spark and the DuckDB oracle.
    """
    means = ratings.groupBy(user_col).agg(
        (exact_sum(rating_col, 1) / F.count(rating_col)).alias("mean_rating")
    )
    return (
        ratings.join(means, on=user_col)
        .filter(F.col(rating_col) > F.col("mean_rating"))
        .select(user_col, item_col)
    )
