"""User-similarity ("movie twins") pipeline (SURVEY §2.9 M1-M3, §2.3 J4).

Rebuilds customer_segmentation_1.py as a library:

- :func:`user_item_sets` — per-user distinct item array, min-activity
  filtered (customer_segmentation_1.py:14-20)
- :func:`lsh_similar_pairs` — CountVectorizer(binary) → MinHashLSH →
  ``approxSimilarityJoin`` → dedup'd (a<b) pairs with Jaccard similarity
  (customer_segmentation_1.py:22-37), deterministic tie-break on the
  top-k boundary (SURVEY Q2)
- :func:`exact_jaccard_pairs` — brute-force co-occurrence Jaccard, the
  small-N oracle the LSH output is validated against (SURVEY §5.2) and
  the SQL-expressible twin for the DuckDB check

Scale posture (SURVEY §7.3 "LSH at scale"): approxSimilarityJoin explodes
hash buckets and equi-joins on (table#, hash) — hot buckets (identical
popular item sets) blow up candidate pairs quadratically. Mitigations
exposed as parameters: ``num_hash_tables`` (banding), ``max_set_size``
(drop degenerate power users), and the exact path's ``min_common`` prefilter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_capstone_spark.operators.dedup import _jaccard_verify
from bigdata_capstone_spark.operators.relational import top_k


def user_item_sets(
    ratings: DataFrame,
    user_col: str = "userId",
    item_col: str = "movieId",
    min_items: int = 5,
    max_items: int | None = None,
) -> DataFrame:
    """(user, sorted distinct item array) with activity bounds.

    ``collect_set`` + ``sort_array`` replaces the reference's unordered
    ``collect_list`` (Q1); ``max_items`` caps degenerate hot users before
    they hit the LSH join.
    """
    sets = ratings.groupBy(user_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("items")
    )
    out = sets.filter(F.size("items") >= min_items)
    if max_items is not None:
        out = out.filter(F.size("items") <= max_items)
    return out


def lsh_similar_pairs(
    user_items: DataFrame,
    threshold: float = 0.5,
    num_hash_tables: int = 5,
    k: int | None = 100,
    user_col: str = "userId",
    seed: int = 42,
) -> DataFrame:
    """Approximate similarity self-join: pairs with Jaccard distance ≤
    ``threshold``, as (userA, userB, similarity), userA < userB.

    CountVectorizer(binary=True) (M1, customer_segmentation_1.py:22-24)
    vectorizes the item arrays; MinHashLSH with ``num_hash_tables`` bands
    (M2, :27-29 — the report raised it 1→5 to cut collisions, p.2) feeds
    ``approxSimilarityJoin`` (M3/J4, :31). Not SQL-expressible → rows-only
    driver check; validated against :func:`exact_jaccard_pairs` in tests.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    items_str = user_items.select(
        user_col, F.col("items").cast("array<string>").alias("items")
    )
    cv = CountVectorizer(inputCol="items", outputCol="features", binary=True)
    cv_model = cv.fit(items_str)
    features = cv_model.transform(items_str).cache()  # reused: fit + both join sides (M4)

    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(features)
    joined = model.approxSimilarityJoin(features, features, threshold, distCol="jaccard_dist")
    pairs = joined.selectExpr(
        f"datasetA.{user_col} as userA",
        f"datasetB.{user_col} as userB",
        "1 - jaccard_dist as similarity",
    ).filter(F.col("userA") < F.col("userB"))
    if k is not None:
        pairs = top_k(
            pairs, [F.desc("similarity"), F.col("userA"), F.col("userB")], k
        )
    return pairs


def exact_jaccard_pairs(
    ratings: DataFrame,
    min_similarity: float = 0.5,
    min_items: int = 5,
    min_common: int = 1,
    user_col: str = "userId",
    item_col: str = "movieId",
    max_item_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over all user pairs sharing ≥ ``min_common`` items.

    Co-occurrence formulation: distinct (user, item) self-joined on item
    gives |A∩B| per pair; |A∪B| = |A|+|B|−|A∩B|. The item self-join is the
    classic quadratic hot-item risk — at scale, pre-cap item frequency or
    go through :func:`lsh_similar_pairs`; this path is the correctness
    oracle and is fully ANSI-SQL (DuckDB-checkable).

    SKEW CONTRACT (r11, verdict #7). The join's work is Σ per-item n² —
    one hot item (a null-ish default ID, one boilerplate part) costs its
    frequency SQUARED, and AQE's skew splitting cannot split a single
    key. Before running this at scale, run the pre-flight
    ``relational.key_skew_report(ui_act, [item_col])``: a lonely high
    ``bit_bucket`` whose ``n_rows`` dominates means this exact path is
    an exploding join on that key. ``max_item_freq`` is the documented
    mitigation (the same hot-key-cap shape as the dedup banding cap and
    the LSH ``max_bucket``): items held by MORE than that many active
    users are dropped from the co-occurrence join ONLY — set sizes stay
    exact, so each reported similarity is an exact LOWER BOUND of true
    Jaccard (a hot item two users share stops counting toward |A∩B| but
    still counts toward both set sizes), and a pair whose overlap is
    exclusively hot items disappears. Popularity-wise this drops the
    least-informative evidence first (sharing an item everyone has says
    nothing about twin-ness — the IDF intuition). Default ``None``
    keeps the EXACT declared semantics: customer_part_twins doubles as
    the LSH oracle and must not be approximated (behavior under a
    synthetic hot key is pinned by
    tests/test_r11_optimizations.py::test_exact_jaccard_hot_item_cap).

    The deduped (user, item) table is cached before the self-join: it
    feeds the size aggregate and both join branches, otherwise the full
    upstream lineage (scans, distinct) executes three times.

    Plan shape (profiled at sf0.1, ~2× over the naive form): user sizes are
    a tiny table → ``broadcast`` them both for the min-activity filter and
    for attaching nA/nB AFTER the pair aggregation, so the wide co-occurrence
    shuffle carries only (userA, userB) and the groupBy keys stay narrow.
    """
    ui = ratings.select(user_col, item_col).distinct().cache()
    sizes = ui.groupBy(user_col).agg(F.count(F.lit(1)).alias("n"))
    active = F.broadcast(sizes.filter(F.col("n") >= min_items))
    ui_act = ui.join(active.select(user_col), on=user_col)
    joinable = ui_act
    if max_item_freq is not None:
        # hot-item cap (see SKEW CONTRACT above): keep-list semi-join,
        # the dedup-banding-cap shape — the frequency aggregate is
        # item-sized and map-side-combinable, the keep list broadcasts
        kept = (
            ui_act.groupBy(item_col)
            .agg(F.count(F.lit(1)).alias("__f"))
            .filter(F.col("__f") <= max_item_freq)
            .select(item_col)
        )
        joinable = ui_act.join(F.broadcast(kept), on=item_col, how="left_semi")

    a = joinable.select(F.col(user_col).alias("userA"), F.col(item_col).alias("i"))
    b = joinable.select(F.col(user_col).alias("userB"), F.col(item_col).alias("i"))
    common = (
        a.join(b, on="i")
        .filter(F.col("userA") < F.col("userB"))
        .groupBy("userA", "userB")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    with_sizes = common.join(
        F.broadcast(
            sizes.select(F.col(user_col).alias("userA"), F.col("n").alias("nA"))
        ),
        on="userA",
    ).join(
        F.broadcast(
            sizes.select(F.col(user_col).alias("userB"), F.col("n").alias("nB"))
        ),
        on="userB",
    )
    return with_sizes.select(
        "userA",
        "userB",
        (
            F.col("common")
            / (F.col("nA") + F.col("nB") - F.col("common"))
        ).alias("similarity"),
    ).filter(F.col("similarity") >= min_similarity)


def exact_jaccard_pairs_prefix(
    ratings: DataFrame,
    min_similarity: float = 0.5,
    min_items: int = 5,
    user_col: str = "userId",
    item_col: str = "movieId",
) -> DataFrame:
    """Exact Jaccard ≥ threshold via PREFIX FILTERING (ppjoin-family):
    identical results to :func:`exact_jaccard_pairs`, asymptotically less
    work at high thresholds.

    Principle: order each user's items by ascending global frequency
    (rarest first). For Jaccard ≥ t, a pair must share at least one item
    among each side's first ``⌊(1-t)·|A|⌋ + 1`` items — so the candidate
    join runs only on those short prefixes of the RAREST items, instead
    of on every (user, item) row. Candidates are then verified with the
    usual intersection count over the FULL sets — the near-dup family's
    verify kernel (:func:`operators.dedup._jaccard_verify`).

    Scale effect: the co-occurrence join's fan-out per item drops from
    (item frequency)² to (prefix occupancy)² — and prefix occupancy is
    dominated by rare items. At t=0.9 the prefix is ~10% of each set; the
    popular items that explode the naive join never enter the candidate
    stage. The frequency ranking costs one extra narrow aggregate.
    """
    ui = ratings.select(user_col, item_col).distinct()
    sizes = ui.groupBy(user_col).agg(F.count(F.lit(1)).alias("n"))
    ui_sized = ui.join(sizes, on=user_col).filter(F.col("n") >= min_items).cache()

    freq = ui_sized.groupBy(item_col).agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy(user_col).orderBy(F.col("f"), F.col(item_col))
    ranked = (
        ui_sized.join(freq, on=item_col)
        .withColumn("r", F.row_number().over(w))
    )
    prefix = ranked.filter(
        F.col("r") <= F.floor((1.0 - min_similarity) * F.col("n")) + 1
    )

    pa = prefix.select(
        F.col(user_col).alias("userA"), F.col(item_col).alias("i")
    )
    pb = prefix.select(
        F.col(user_col).alias("userB"), F.col(item_col).alias("i")
    )
    cands = (
        pa.join(pb, on="i")
        .filter(F.col("userA") < F.col("userB"))
        .select("userA", "userB")
        .distinct()
    )

    side = ui_sized.select(user_col, F.col(item_col).alias("sh"), "n")
    return _jaccard_verify(
        cands, side, side, min_similarity, user_col, "userA", "userB"
    ).withColumnRenamed("jaccard", "similarity")
