"""Reference-parity catalog extension with FULL value oracles.

The reference's headline pipelines (customer_segmentation_1/2.py) ran on
MovieLens ratings; our MovieLens-shaped fixture (sources/ratings.py) is
generated from the same md5 PRF in both engines, so the reference's exact
semantics — twin pairs by Jaccard over movie sets, and the twins-vs-random
correlation methodology — get value-hash oracles here instead of the
rows-only checks the ml-estimator variants (movie_twins_lsh, ALS) must
settle for.

- ``movie_twins_exact`` — customer_segmentation_1.py:14-37 semantics with
  the SURVEY Q2 determinism fix: per-user distinct movie sets (≥5 movies),
  exact Jaccard ≥ 0.5 via co-occurrence join, top-100 with (sim, userA,
  userB) tie-break.
- ``hash_pair_correlation`` — customer_segmentation_2.py:58-96 semantics
  (the random-pair correlation baseline) with the Q4 fix taken one step
  further: instead of unseeded driver-side random.sample, pair selection
  is a md5 PRF rank (order users by md5('pair:'||id), pair rank 2k-1 with
  2k) — "random" in the PRF sense yet reproducible in ANY engine, so even
  the sampling step is oracle-checked. Variance>0 and ≥2-common-movie
  guards mirror the reference (customer_segmentation_2.py:59, :88).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_capstone_spark.catalog import register
from bigdata_capstone_spark.operators import relational as rel
from bigdata_capstone_spark.functions.portable import md5_long
from bigdata_capstone_spark.sources.ratings import (
    ratings_oracle_cte,
    synthetic_ratings,
)

_CLEAN_SQL = """
    clean AS (
      SELECT userId, movieId, rating FROM ratings
      WHERE userId IS NOT NULL AND movieId IS NOT NULL AND rating IS NOT NULL
    )"""


def _clean_ratings(spark: SparkSession) -> DataFrame:
    return synthetic_ratings(spark).dropna(subset=["userId", "movieId", "rating"])


@register(
    "movie_twins_exact",
    oracle=f"""
    WITH {ratings_oracle_cte()},
    {_CLEAN_SQL},
    ui AS (SELECT DISTINCT userId, movieId FROM clean),
    sizes AS (SELECT userId, count(*) AS n FROM ui GROUP BY userId),
    act AS (SELECT userId FROM sizes WHERE n >= 5),
    common AS (
      SELECT a.userId AS userA, b.userId AS userB, count(*) AS c
      FROM ui a
      JOIN ui b ON a.movieId = b.movieId AND a.userId < b.userId
      JOIN act aa ON aa.userId = a.userId
      JOIN act ab ON ab.userId = b.userId
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT userA, userB,
             c * 1.0 / (sa.n + sb.n - c) AS sim
      FROM common
      JOIN sizes sa ON sa.userId = userA
      JOIN sizes sb ON sb.userId = userB
    )
    SELECT userA, userB, round(sim, 6) AS similarity_r
    FROM sims WHERE sim >= 0.5
    ORDER BY similarity_r DESC, userA, userB
    LIMIT 100
    """,
)
def movie_twins_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 movie-twin pairs by EXACT Jaccard ≥ 0.5 over per-user
    distinct movie sets (≥5 movies) — the reference's headline result
    (capstone_final_report.pdf p.2: identical rating sets ⇒ similarity
    1.0) made deterministic (Q2) and value-checked. The LSH variant
    (movie_twins_lsh) approximates exactly this output."""
    from bigdata_capstone_spark.operators.relational import top_k
    from bigdata_capstone_spark.operators.similarity import exact_jaccard_pairs

    pairs = exact_jaccard_pairs(
        _clean_ratings(spark), min_similarity=0.5, min_items=5
    )
    scored = pairs.select(
        "userA", "userB", F.round("similarity", 6).alias("similarity_r")
    )
    return top_k(
        scored, [F.desc("similarity_r"), F.col("userA"), F.col("userB")], 100
    )


@register(
    "hash_pair_correlation",
    oracle=f"""
    WITH {ratings_oracle_cte()},
    {_CLEAN_SQL},
    active AS (
      SELECT userId FROM clean GROUP BY userId
      HAVING count(*) >= 5 AND var_samp(rating) > 0
    ),
    hashed AS (
      SELECT userId,
             ('0x' || substr(md5('pair:' || userId::VARCHAR), 1, 15))::BIGINT
               AS h
      FROM active
    ),
    sampled AS (
      SELECT userId, row_number() OVER (ORDER BY h, userId) AS rn
      FROM (SELECT * FROM hashed ORDER BY h, userId LIMIT 100)
    ),
    pairs AS (
      SELECT a.userId AS userA, b.userId AS userB
      FROM sampled a JOIN sampled b ON b.rn = a.rn + 1
      WHERE a.rn % 2 = 1
    ),
    joined AS (
      SELECT p.userA, p.userB, ra.rating AS ratingA, rb.rating AS ratingB
      FROM pairs p
      JOIN clean ra ON ra.userId = p.userA
      JOIN clean rb ON rb.userId = p.userB AND rb.movieId = ra.movieId
    ),
    corrs AS (
      SELECT userA, userB, corr(ratingA, ratingB) AS c
      FROM joined GROUP BY userA, userB
      HAVING count(*) >= 2 AND corr(ratingA, ratingB) IS NOT NULL
         AND NOT isnan(corr(ratingA, ratingB))
    )
    SELECT count(*)::BIGINT AS n_pairs,
           round(avg(round(c, 6)), 6) AS avg_correlation
    FROM corrs
    """,
)
def hash_pair_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-baseline pair correlation with PRF sampling: 50 pseudo-random
    active-user pairs (md5 rank pairing — reproducible anywhere, unlike
    rand(seed)), Pearson corr over ≥2 common movies, averaged.

    Scale shape: the PRF top-100 is ``orderBy(h).limit`` →
    TakeOrderedAndProject (per-partition heaps, no global sort); the
    100-row window and pair join are driver-trivial; the per-pair rating
    join broadcasts the 50-pair table against the fact."""
    clean = _clean_ratings(spark)
    active = (
        clean.groupBy("userId")
        .agg(F.count(F.lit(1)).alias("n"), F.variance("rating").alias("v"))
        .filter((F.col("n") >= 5) & (F.col("v") > 0))
        .select("userId")
    )
    hashed = active.select(
        "userId", md5_long(F.concat(F.lit("pair:"), F.col("userId"))).alias("h")
    )
    top100 = hashed.orderBy("h", "userId").limit(100)
    sampled = rel.partitioned_row_number(
        top100, [F.col("h"), F.col("userId")], "rn"
    ).select("userId", "rn")
    a = sampled.select(F.col("userId").alias("userA"), F.col("rn").alias("rnA"))
    b = sampled.select(F.col("userId").alias("userB"), F.col("rn").alias("rnB"))
    pairs = (
        a.join(b, F.col("rnB") == F.col("rnA") + 1)
        .filter(F.col("rnA") % 2 == 1)
        .select("userA", "userB")
    )
    ra = clean.select(
        F.col("userId").alias("userA"), "movieId", F.col("rating").alias("ratingA")
    )
    rb = clean.select(
        F.col("userId").alias("userB"), "movieId", F.col("rating").alias("ratingB")
    )
    joined = F.broadcast(pairs).join(ra, on="userA").join(rb, on=["userB", "movieId"])
    corrs = (
        joined.groupBy("userA", "userB")
        .agg(
            F.expr(
                "try_divide(covar_samp(ratingA, ratingB), "
                "stddev_samp(ratingA) * stddev_samp(ratingB))"
            ).alias("c"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .filter(
            (F.col("n_points") >= 2)
            & F.col("c").isNotNull()
            & ~F.isnan(F.col("c"))
        )
    )
    return corrs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(F.round("c", 6)), 6).alias("avg_correlation"),
    )


def _rm_oracle_at_k(k: int) -> str:
    """The segment-popularity recommender eval oracle with the cutoff k
    inlined (same pinned mllib semantics as ranking_metrics_popularity)."""
    return f"""
    WITH sales AS (
      SELECT o_custkey AS cust, l_partkey AS part, c_mktsegment AS seg,
             l_extendedprice AS price, l_quantity AS qty
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
    ),
    seg_scores AS (
      SELECT seg, part,
             sum(CAST(price AS DECIMAL(18,2)))::DOUBLE / (count(*) + 100.0) AS score
      FROM sales GROUP BY seg, part
    ),
    preds AS (
      SELECT seg, part,
             row_number() OVER (PARTITION BY seg ORDER BY score DESC, part) - 1 AS pos
      FROM seg_scores
      QUALIFY pos < {k}
    ),
    cust_mean AS (
      SELECT cust, sum(CAST(qty AS DECIMAL(18,2)))::DOUBLE / count(*) AS mq
      FROM sales GROUP BY cust
    ),
    labels AS (
      SELECT DISTINCT s.cust, s.part
      FROM sales s JOIN cust_mean m ON s.cust = m.cust
      WHERE s.qty > m.mq
    ),
    label_counts AS (SELECT cust, count(*) AS m FROM labels GROUP BY cust),
    cust_preds AS (
      SELECT c.c_custkey AS cust, p.part, p.pos
      FROM customer c JOIN preds p ON c.c_mktsegment = p.seg
    ),
    marked AS (
      SELECT cp.cust, cp.pos,
             CASE WHEN l.part IS NULL THEN 0 ELSE 1 END AS hit
      FROM cust_preds cp
      LEFT JOIN labels l ON cp.cust = l.cust AND cp.part = l.part
    ),
    scored AS (
      SELECT cust, hit,
             hit * (sum(hit) OVER (PARTITION BY cust ORDER BY pos)) / (pos + 1.0)
               AS ap_contrib,
             hit / ln(pos + 2.0) AS dcg_contrib
      FROM marked
    ),
    per_user0 AS (
      SELECT cust, sum(hit) AS hits, sum(ap_contrib) AS ap_num,
             sum(dcg_contrib) AS dcg
      FROM scored GROUP BY cust
    ),
    per_user AS (
      SELECT p.cust,
             hits / {k}.0 AS prec,
             hits / (m * 1.0) AS rec,
             ap_num / least(m, {k}) AS ap,
             dcg / list_sum([1.0/ln(x + 1) for x in range(1, least(m, {k}) + 1)])
               AS ndcg
      FROM per_user0 p JOIN label_counts lc ON p.cust = lc.cust
    )
    SELECT {k}::BIGINT AS k, count(*)::BIGINT AS n_users,
           round(avg(prec), 6) AS precision_at_k,
           round(avg(rec), 6)  AS recall_at_k,
           round(avg(ap), 6)   AS map_at_k,
           round(avg(ndcg), 6) AS ndcg_at_k
    FROM per_user
    """


@register(
    "ranking_metrics_sweep",
    oracle=" UNION ALL ".join(
        f"SELECT * FROM ({_rm_oracle_at_k(k)})" for k in (5, 10, 20)
    ),
)
def ranking_metrics_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P/Recall/MAP/NDCG at k ∈ {5, 10, 20} for the segment-popularity
    recommender in ONE pass — the evaluation-sweep shape (the reference
    re-ran its whole eval per grid point, popularity_model.py:73-97; this
    builds every customer's hit positions once and filters them per
    cutoff: :func:`catalog.segment_popularity_eval`). Oracle: the
    single-k oracle instantiated per k and UNION ALL'd — three logical
    evals, but the Spark side pays one."""
    from bigdata_capstone_spark.catalog import segment_popularity_eval

    return segment_popularity_eval(spark, sf_dir, [5, 10, 20])


@register(
    "twin_correlation_gap",
    oracle=f"""
    WITH {ratings_oracle_cte()},
    {_CLEAN_SQL},
    ui AS (SELECT DISTINCT userId, movieId FROM clean),
    sizes AS (SELECT userId, count(*) AS n FROM ui GROUP BY userId),
    act AS (SELECT userId FROM sizes WHERE n >= 5),
    common AS (
      SELECT a.userId AS userA, b.userId AS userB, count(*) AS c
      FROM ui a
      JOIN ui b ON a.movieId = b.movieId AND a.userId < b.userId
      JOIN act aa ON aa.userId = a.userId
      JOIN act ab ON ab.userId = b.userId
      GROUP BY 1, 2
    ),
    twins AS (
      SELECT userA, userB
      FROM (
        SELECT userA, userB, c * 1.0 / (sa.n + sb.n - c) AS sim
        FROM common
        JOIN sizes sa ON sa.userId = userA
        JOIN sizes sb ON sb.userId = userB
      )
      WHERE sim >= 0.5
      ORDER BY round(sim, 6) DESC, userA, userB
      LIMIT 100
    ),
    twin_joined AS (
      SELECT p.userA, p.userB, ra.rating AS ratingA, rb.rating AS ratingB
      FROM twins p
      JOIN clean ra ON ra.userId = p.userA
      JOIN clean rb ON rb.userId = p.userB AND rb.movieId = ra.movieId
    ),
    twin_corrs AS (
      SELECT userA, userB, corr(ratingA, ratingB) AS c
      FROM twin_joined GROUP BY userA, userB
      HAVING count(*) >= 2 AND corr(ratingA, ratingB) IS NOT NULL
         AND NOT isnan(corr(ratingA, ratingB))
    ),
    rand_active AS (
      SELECT userId FROM clean GROUP BY userId
      HAVING count(*) >= 5 AND var_samp(rating) > 0
    ),
    rand_hashed AS (
      SELECT userId,
             ('0x' || substr(md5('pair:' || userId::VARCHAR), 1, 15))::BIGINT
               AS h
      FROM rand_active
    ),
    rand_sampled AS (
      SELECT userId, row_number() OVER (ORDER BY h, userId) AS rn
      FROM (SELECT * FROM rand_hashed ORDER BY h, userId LIMIT 100)
    ),
    rand_pairs AS (
      SELECT a.userId AS userA, b.userId AS userB
      FROM rand_sampled a JOIN rand_sampled b ON b.rn = a.rn + 1
      WHERE a.rn % 2 = 1
    ),
    rand_joined AS (
      SELECT p.userA, p.userB, ra.rating AS ratingA, rb.rating AS ratingB
      FROM rand_pairs p
      JOIN clean ra ON ra.userId = p.userA
      JOIN clean rb ON rb.userId = p.userB AND rb.movieId = ra.movieId
    ),
    rand_corrs AS (
      SELECT userA, userB, corr(ratingA, ratingB) AS c
      FROM rand_joined GROUP BY userA, userB
      HAVING count(*) >= 2 AND corr(ratingA, ratingB) IS NOT NULL
         AND NOT isnan(corr(ratingA, ratingB))
    ),
    t AS (SELECT count(*) AS n_twin_pairs,
                 round(avg(round(c, 6)), 6) AS avg_twin_corr FROM twin_corrs),
    r AS (SELECT count(*) AS n_random_pairs,
                 round(avg(round(c, 6)), 6) AS avg_random_corr FROM rand_corrs)
    SELECT t.n_twin_pairs::BIGINT AS n_twin_pairs,
           t.avg_twin_corr,
           r.n_random_pairs::BIGINT AS n_random_pairs,
           r.avg_random_corr,
           round(t.avg_twin_corr - r.avg_random_corr, 6) AS corr_gap
    FROM t, r
    """,
)
def twin_correlation_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CENTRAL empirical finding, fully value-checked: avg
    Pearson rating correlation of the top-100 exact movie twins vs the
    PRF-random pair baseline, and the gap between them (the reference
    measured 0.1041 vs 0.0409, capstone_final_report.pdf p.3;
    customer_segmentation_2.py end-to-end). Twin selection, sampling,
    per-pair correlation, and the gap itself are all replayed in the
    DuckDB oracle. The gap being positive is additionally asserted as a
    semantic test (tests/test_round2_ops.py)."""
    from bigdata_capstone_spark.operators.relational import top_k
    from bigdata_capstone_spark.operators.similarity import exact_jaccard_pairs

    clean = _clean_ratings(spark)

    def pair_corrs(pairs: DataFrame) -> DataFrame:
        ra = clean.select(
            F.col("userId").alias("userA"), "movieId",
            F.col("rating").alias("ratingA"),
        )
        rb = clean.select(
            F.col("userId").alias("userB"), "movieId",
            F.col("rating").alias("ratingB"),
        )
        joined = (
            F.broadcast(pairs).join(ra, on="userA").join(rb, on=["userB", "movieId"])
        )
        return (
            joined.groupBy("userA", "userB")
            .agg(
                # try_divide, not corr: ANSI-mode corr raises on zero
                # variance (constant rater in a twin pair); null+filter is
                # the reference semantics and what the oracle replays
                F.expr(
                    "try_divide(covar_samp(ratingA, ratingB), "
                    "stddev_samp(ratingA) * stddev_samp(ratingB))"
                ).alias("c"),
                F.count(F.lit(1)).alias("n_points"),
            )
            .filter(
                (F.col("n_points") >= 2)
                & F.col("c").isNotNull()
                & ~F.isnan(F.col("c"))
            )
        )

    twins = top_k(
        exact_jaccard_pairs(clean, min_similarity=0.5, min_items=5).select(
            "userA", "userB", F.round("similarity", 6).alias("similarity_r")
        ),
        [F.desc("similarity_r"), F.col("userA"), F.col("userB")],
        100,
    ).select("userA", "userB")

    active = (
        clean.groupBy("userId")
        .agg(F.count(F.lit(1)).alias("n"), F.variance("rating").alias("v"))
        .filter((F.col("n") >= 5) & (F.col("v") > 0))
        .select("userId")
    )
    hashed = active.select(
        "userId", md5_long(F.concat(F.lit("pair:"), F.col("userId"))).alias("h")
    )
    sampled = rel.partitioned_row_number(
        hashed.orderBy("h", "userId").limit(100),
        [F.col("h"), F.col("userId")],
        "rn",
    ).select("userId", "rn")
    rand_pairs = (
        sampled.select(F.col("userId").alias("userA"), F.col("rn").alias("rnA"))
        .join(
            sampled.select(F.col("userId").alias("userB"), F.col("rn").alias("rnB")),
            F.col("rnB") == F.col("rnA") + 1,
        )
        .filter(F.col("rnA") % 2 == 1)
        .select("userA", "userB")
    )

    t = pair_corrs(twins).agg(
        F.count(F.lit(1)).alias("n_twin_pairs"),
        F.round(F.avg(F.round("c", 6)), 6).alias("avg_twin_corr"),
    )
    r = pair_corrs(rand_pairs).agg(
        F.count(F.lit(1)).alias("n_random_pairs"),
        F.round(F.avg(F.round("c", 6)), 6).alias("avg_random_corr"),
    )
    return t.crossJoin(r).select(
        "n_twin_pairs",
        "avg_twin_corr",
        "n_random_pairs",
        "avg_random_corr",
        F.round(F.col("avg_twin_corr") - F.col("avg_random_corr"), 6).alias(
            "corr_gap"
        ),
    )
