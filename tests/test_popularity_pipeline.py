"""End-to-end popularity recommender on the ratings fixture
(popularity_model.py semantics) + sources roundtrip.

Semantic anchors from BASELINE.md: ground truth = strictly-above-own-mean
(Q7); damped score = avg·n/(n+β) (Q9); with k ≥ catalog size, Recall@k → 1
for every user that has any relevant item (report p.4 reasoning).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bigdata_capstone_spark.operators.popularity import (
    damped_item_scores,
    ground_truth,
    recommend_top_k,
)
from bigdata_capstone_spark.operators.ranking_metrics import ranking_metrics
from bigdata_capstone_spark.sources.ratings import synthetic_ratings


@pytest.fixture(scope="module")
def clean(spark):
    return (
        synthetic_ratings(spark)
        .dropna(subset=["userId", "movieId", "rating"])
        .cache()
    )


def test_damped_score_formula(spark, clean):
    beta = 100.0
    scores = {r["movieId"]: r for r in damped_item_scores(clean, beta).collect()}
    stats = {
        r["movieId"]: (r["n"], r["s"])
        for r in clean.groupBy("movieId")
        .agg(F.count("rating").alias("n"), F.sum("rating").alias("s"))
        .collect()
    }
    for mid, (n, s) in list(stats.items())[:20]:
        want = s / (n + beta)  # == avg*n/(n+beta)
        assert math.isclose(scores[mid]["popularity_score"], want, rel_tol=1e-9)


def test_ground_truth_strictly_above_mean(spark, clean):
    gt = ground_truth(clean)
    joined = (
        gt.join(clean, on=["userId", "movieId"])
        .join(
            clean.groupBy("userId").agg(F.avg("rating").alias("m")), on="userId"
        )
        .filter(F.col("rating") <= F.col("m"))
    )
    assert joined.count() == 0
    # constant rater (9007): nothing strictly above own mean
    assert gt.filter(F.col("userId") == 9007).count() == 0


def test_recall_shape_with_full_catalog_k(spark, clean):
    """k ≥ |catalog| and preds = all items ⇒ every relevant item is
    predicted ⇒ per-user recall 1.0 ⇒ global recall 1.0 (BASELINE p.4)."""
    n_items = clean.select("movieId").distinct().count()
    scores = damped_item_scores(clean, 100.0)
    recs = recommend_top_k(clean, scores, k=n_items)
    preds = recs.select("userId", "movieId", (F.col("rank") - 1).alias("pos"))
    labels = ground_truth(clean)
    row = ranking_metrics(preds, labels, n_items).collect()[0]
    assert math.isclose(row["recall_at_k"], 1.0, rel_tol=1e-12)
    assert 0.0 < row["precision_at_k"] < 1.0


def test_popularity_grid_search_m8(spark, clean):
    """The reference's driver-loop grid over β (popularity_model.py:73-97):
    max-NDCG selection over engine calls."""
    labels = ground_truth(clean)
    results = []
    for beta in (10.0, 100.0, 1000.0):
        scores = damped_item_scores(clean, beta)
        recs = recommend_top_k(clean, scores, k=20)
        preds = recs.select("userId", "movieId", (F.col("rank") - 1).alias("pos"))
        row = ranking_metrics(preds, labels, 20).collect()[0]
        results.append({"beta": beta, "ndcg": row["ndcg_at_k"]})
    best = max(results, key=lambda d: d["ndcg"])
    assert best["ndcg"] > 0
    assert len({r["beta"] for r in results}) == 3


def test_als_beats_popularity_ndcg(spark):
    """The report's model-comparison conclusion (capstone_final_report.pdf
    p.5-6 / BASELINE.md: ALS NDCG 0.9720 vs popularity 0.7879) must
    reproduce DIRECTIONALLY: a personalized rank-10 ALS model
    (als_recommendation.py:37-42) out-ranks the single global
    damped-popularity ordering (popularity_model.py:61-67).

    Runs on the latent-factor-structured fixture: the plain fixture's
    ratings are independent of (user, movie), so there is no preference
    signal for ANY personalized model to learn and the comparison would
    be vacuous. MovieLens has real structure; synthetic_structured_ratings
    plants the same kind deterministically."""
    from bigdata_capstone_spark.operators.als import train_als_recommend
    from bigdata_capstone_spark.sources.ratings import (
        synthetic_structured_ratings,
    )

    k = 20
    ratings = synthetic_structured_ratings(spark).cache()
    labels = ground_truth(ratings)

    pop_scores = damped_item_scores(ratings, 100.0)
    pop_recs = recommend_top_k(ratings, pop_scores, k=k)
    pop_preds = pop_recs.select(
        "userId", "movieId", (F.col("rank") - 1).alias("pos")
    )
    pop_ndcg = ranking_metrics(pop_preds, labels, k).collect()[0]["ndcg_at_k"]

    als_preds = train_als_recommend(
        ratings, k=k, rank=10, max_iter=10, seed=42
    ).recommendations
    als_ndcg = ranking_metrics(als_preds, labels, k).collect()[0]["ndcg_at_k"]

    assert 0.0 < pop_ndcg < 1.0
    # strict, with margin: the gap on the reference data is ~0.19; real
    # personalization on structured preferences should clear 10%.
    assert als_ndcg > pop_ndcg * 1.10, (als_ndcg, pop_ndcg)


def test_grid_search_als_picks_highest_ndcg(spark):
    """M8's ALS grid (als_recommendation.py:47-72) on a tiny ratings
    frame: one result per grid point, every metric in [0, 1], and
    ``best`` is the point with the highest NDCG. The metrics run on
    ALS's posexploded recommendations."""
    from bigdata_capstone_spark.operators.als import grid_search_als

    ratings = spark.createDataFrame(
        [
            (u, i, float(1 + (u * 7 + i * 3) % 5))
            for u in range(12)
            for i in range(10)
            if (u + i) % 3
        ],
        "userId INT, movieId INT, rating FLOAT",
    )
    labels = ground_truth(ratings)
    best, results = grid_search_als(
        ratings, labels, ranks=[2, 4], reg_params=[0.1], k=5, max_iter=2
    )
    assert [(r["rank"], r["regParam"]) for r in results] == [(2, 0.1), (4, 0.1)]
    for r in results:
        assert r["n_users"] > 0
        for m in ("precision_at_k", "recall_at_k", "map_at_k", "ndcg_at_k"):
            assert 0.0 <= r[m] <= 1.0, (r["rank"], m, r[m])
    assert best == max(results, key=lambda r: r["ndcg_at_k"])


def test_csv_roundtrip(spark, clean, tmp_path):
    """S1/S2: schema'd CSV sink + scan roundtrip preserves rows exactly."""
    from bigdata_capstone_spark.sources.sinks import write_csv
    from bigdata_capstone_spark.sources.tables import RATINGS_SCHEMA, read_csv

    out = str(tmp_path / "ratings_csv")
    sample = clean.limit(500)
    write_csv(sample, out, single_file=True)
    back = read_csv(spark, out, RATINGS_SCHEMA)
    assert back.count() == 500
    assert back.schema == RATINGS_SCHEMA
    assert sample.exceptAll(back).count() == 0
    assert back.exceptAll(sample).count() == 0


def test_grid_search_damping_leaves_no_cache(spark):
    """grid_search_damping caches its item stats, ground truth and
    validation users for the grid loop, and releases all three once the
    loop has collected its rows: no cache entry is left behind."""
    from bigdata_capstone_spark.operators.popularity import grid_search_damping

    schema = "userId INT, movieId INT, rating DOUBLE"
    train = spark.createDataFrame(
        [(u, m, float((u * m) % 5 + 1)) for u in range(1, 6)
         for m in range(1, 8)],
        schema,
    )
    val = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (2, 4, 4.0), (2, 5, 2.0), (3, 1, 3.0)],
        schema,
    )
    spark.catalog.clearCache()
    best, results = grid_search_damping(train, val, [1.0, 10.0], k=3)
    assert [r["damping"] for r in results] == [1.0, 10.0]
    assert best in (1.0, 10.0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
