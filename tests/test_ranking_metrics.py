"""Pin our DataFrame ranking metrics to pyspark.mllib RankingMetrics
semantics on a hand-built micro-fixture (FIXTURES.md B4, SURVEY §7.3).

Cases covered: |pred|>k, |pred|<k, duplicate predictions, all-miss users,
boundary k — exactly the sharp edges SURVEY flags (precision divides by k;
MAP divides by min(|labels|,k); NDCG ideal-DCG term count). The metric
kernel's edge cases (tied positions, pos >= k, duplicate labels, one-sided
users) are checked against the earlier join-and-window form, and the
catalog's segment-popularity evaluation against a plan guard.
"""

from __future__ import annotations

import math

import pytest

from bigdata_capstone_spark.operators.ranking_metrics import (
    explode_ranked_array,
    per_user_ranking_metrics,
    ranking_metrics,
)

CASES = [
    # (user, predictions_in_rank_order, labels)
    (1, [1, 2, 3, 4, 5, 6], [1, 3, 7]),
    (2, [10, 11], [11, 12, 13, 14]),
    (3, [20, 20, 21], [20]),          # duplicate prediction counts twice
    (4, [30, 31, 32], [40, 41]),      # all misses
]
K = 4


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    preds = spark.createDataFrame(
        [(u, p) for u, p, _ in CASES], ["userId", "pred_items"]
    )
    labels = spark.createDataFrame(
        [(u, i) for u, _, ls in CASES for i in ls], ["userId", "movieId"]
    )
    exploded = explode_ranked_array(preds, "userId", "pred_items")
    return exploded, labels


def mllib_metrics(spark, k):
    from pyspark.mllib.evaluation import RankingMetrics

    rdd = spark.sparkContext.parallelize(
        [(p, ls) for _, p, ls in CASES]
    )
    rm = RankingMetrics(rdd)
    return {
        "precision_at_k": rm.precisionAt(k),
        "map_at_k": rm.meanAveragePrecisionAt(k),
        "ndcg_at_k": rm.ndcgAt(k),
        "recall_at_k": rm.recallAt(k),
    }


def test_global_metrics_match_mllib(spark, fixture_dfs):
    exploded, labels = fixture_dfs
    ours = ranking_metrics(exploded, labels, K).collect()[0].asDict()
    theirs = mllib_metrics(spark, K)
    assert ours["n_users"] == len(CASES)
    for key, want in theirs.items():
        assert math.isclose(ours[key], want, rel_tol=1e-12), (
            key, ours[key], want,
        )


def test_per_user_hand_computed(spark, fixture_dfs):
    exploded, labels = fixture_dfs
    rows = {
        r["userId"]: r.asDict()
        for r in per_user_ranking_metrics(exploded, labels, K).collect()
    }
    # user 1: preds[:4]=[1,2,3,4], hits at pos 0,2 → P=2/4
    assert math.isclose(rows[1]["precision_at_k"], 2 / 4)
    assert math.isclose(rows[1]["recall_at_k"], 2 / 3)
    # AP = (1/1 + 2/3)/min(3,4)
    assert math.isclose(rows[1]["avg_precision_at_k"], (1 + 2 / 3) / 3)
    dcg = 1 / math.log(2) + 1 / math.log(4)
    idcg = sum(1 / math.log(i + 2) for i in range(3))
    assert math.isclose(rows[1]["ndcg_at_k"], dcg / idcg)
    # user 2: short preds, hit at pos 1 → P=1/4 (divides by k!), R=1/4
    assert math.isclose(rows[2]["precision_at_k"], 1 / 4)
    assert math.isclose(rows[2]["recall_at_k"], 1 / 4)
    # user 3: duplicate hits at pos 0 and 1 → hits=2 even though |labels|=1
    assert math.isclose(rows[3]["precision_at_k"], 2 / 4)
    # user 4: all-miss → zeros
    assert rows[4]["precision_at_k"] == 0.0
    assert rows[4]["ndcg_at_k"] == 0.0


def test_multi_k_sweep_equals_single_k_runs(spark):
    """ranking_metrics_at_ks must reproduce the single-k results exactly
    for every cutoff in the sweep."""
    from bigdata_capstone_spark.operators.ranking_metrics import (
        ranking_metrics,
        ranking_metrics_at_ks,
    )

    preds = spark.createDataFrame(
        [
            (u, item, pos)
            for u in range(1, 9)
            for pos, item in enumerate(range(u, u + 12))
        ],
        "userId long, movieId long, pos long",
    )
    labels = spark.createDataFrame(
        [(u, u + d) for u in range(1, 9) for d in (0, 2, 3, 7, 15)],
        "userId long, movieId long",
    )
    ks = [1, 5, 10]
    sweep = {r["k"]: r for r in ranking_metrics_at_ks(preds, labels, ks).collect()}
    for k in ks:
        single = ranking_metrics(preds, labels, k).collect()[0]
        got = sweep[k]
        assert got["n_users"] == single["n_users"]
        for m in ("precision_at_k", "recall_at_k", "map_at_k", "ndcg_at_k"):
            assert abs(got[m] - single[m]) < 1e-12, (k, m)


def _window_reference(preds, labels, k):
    """The earlier join-and-window form of per_user_ranking_metrics,
    kept as a reference: distinct labels, a (user, item) left join, a
    RANGE running hit count over pos, then a label-count join."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    p = preds.select(
        F.col("userId").alias("u"), F.col("movieId").alias("i"),
        F.col("pos").cast("long").alias("pos"),
    ).filter(F.col("pos") < k)
    lab = labels.select(
        F.col("userId").alias("u"), F.col("movieId").alias("i")
    ).distinct()
    m = lab.groupBy("u").agg(F.count(F.lit(1)).alias("m"))
    marked = p.join(
        lab.withColumn("hit", F.lit(1)), on=["u", "i"], how="left"
    ).fillna({"hit": 0})
    cum = F.sum("hit").over(Window.partitionBy("u").orderBy("pos"))
    per_user = marked.withColumn("cum", cum).groupBy("u").agg(
        F.sum("hit").alias("hits"),
        F.sum(F.col("hit") * F.col("cum") / (F.col("pos") + 1)).alias("ap"),
        F.sum(F.col("hit") / F.log(F.col("pos") + 2)).alias("dcg"),
    ).join(m, on="u")
    out = {}
    for r in per_user.collect():
        n_ideal = min(r["m"], k)
        idcg = sum(1 / math.log(x + 1) for x in range(1, n_ideal + 1))
        out[r["u"]] = (
            r["hits"] / k, r["hits"] / r["m"], r["ap"] / n_ideal, r["dcg"] / idcg
        )
    return out


# (user, item, pos) prediction rows and (user, item) label rows for the
# kernel's edge cases
EDGE_PREDS = [
    # user 1: items 11 and 12 tie at pos 1, both hits (peers share cum)
    (1, 10, 0), (1, 11, 1), (1, 12, 1), (1, 13, 2),
    # user 2: a hit at pos 5 >= k is ignored
    (2, 20, 0), (2, 21, 5),
    # user 3: duplicate label rows collapse to one label
    (3, 30, 0), (3, 31, 1),
    # user 4: predictions but no labels -> excluded
    (4, 40, 0),
    # user 6: only predictions at pos >= k -> excluded
    (6, 60, 4),
    # user 7: a tie of a miss and a hit at pos 0
    (7, 70, 0), (7, 71, 0), (7, 72, 1),
]
EDGE_LABELS = [
    (1, 11), (1, 12), (1, 13), (1, 99),
    (2, 21), (2, 20),
    (3, 31), (3, 31), (3, 31),
    # user 5: labels but no predictions -> excluded
    (5, 50),
    (6, 60),
    (7, 71), (7, 72),
]
EDGE_K = 4


def test_kernel_edge_cases_match_window_reference(spark):
    """Tied positions share one cumulative hit count (the window's RANGE
    frame), pos >= k is ignored, duplicate labels collapse, and a user
    missing either side is excluded — each equal to the join-and-window
    reference on the same input."""
    preds = spark.createDataFrame(
        EDGE_PREDS, "userId long, movieId long, pos long"
    )
    labels = spark.createDataFrame(EDGE_LABELS, "userId long, movieId long")
    got = {
        r["userId"]: (
            r["precision_at_k"], r["recall_at_k"],
            r["avg_precision_at_k"], r["ndcg_at_k"],
        )
        for r in per_user_ranking_metrics(preds, labels, EDGE_K).collect()
    }
    want = _window_reference(preds, labels, EDGE_K)
    assert sorted(got) == sorted(want) == [1, 2, 3, 7]
    for u in want:
        for a, b in zip(got[u], want[u]):
            assert math.isclose(a, b, rel_tol=1e-12), (u, got[u], want[u])
    # user 1: hits at 1, 1, 2 -> cum 2, 2, 3: AP = (2/2 + 2/2 + 3/3) / 4
    assert math.isclose(got[1][2], 3 / 4)
    # user 2: only the pos-0 hit counts
    assert got[2][0] == 1 / EDGE_K and got[2][1] == 1 / 2
    # user 3: one label, one hit
    assert got[3][1] == 1.0


@pytest.mark.parametrize(
    "name", ["ranking_metrics_popularity", "ranking_metrics_sweep"]
)
def test_popularity_eval_plan_guard(spark, sf_small, name):
    """The segment-popularity evaluation is one lazy plan: no job at
    build time, no cached relation, no sort-merge join on (customer,
    part), no window partitioned by the customer — and at most 10
    execution jobs (the join-and-window form ran 23)."""
    import re

    from bigdata_capstone_spark.catalog import QUERIES
    from bigdata_capstone_spark.observability import profile

    df, p = profile(spark, lambda: QUERIES[name](spark, sf_small))
    build_jobs, exec_jobs = p["build_jobs"], p["exec_jobs"]
    assert build_jobs == 0, build_jobs
    assert exec_jobs <= 10, exec_jobs
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "InMemoryRelation" not in optimized, optimized[:3000]
    assert "SortMergeJoin" not in qe.executedPlan().toString()
    # Window [fns], [partition keys], [order keys]: only the per-segment
    # top-k window may remain
    keys = re.findall(r"Window \[.*?\], \[([^\]]*)\], \[", optimized)
    assert keys and all(k.startswith("seg#") for k in keys), keys
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
