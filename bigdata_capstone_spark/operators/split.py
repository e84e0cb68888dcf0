"""Seeded train/val/test split with cold-start fold-back (SURVEY §2.9 M5,
§2.12 Q8; splitting_data.py rebuilt as a library).

Pipeline semantics preserved from the reference:

1. drop rows with null user/item/rating (splitting_data.py:16)
2. keep items with ≥ ``min_item_ratings`` ratings (splitting_data.py:19-21)
3. ``randomSplit([0.8, 0.1, 0.1], seed)`` (splitting_data.py:24)
4. cold-start mitigation: 40% of val *item ids* (and of test item ids) are
   folded back into train — rows, not ids, move (splitting_data.py:27-39;
   report p.3)

Differences from the reference (deliberate):
- no ``coalesce(1)`` CSV sink / HDFS rename side-effects (S2/S3) — callers
  persist with ``sources.sinks``;
- the ≥5-ratings filter uses a semi-join instead of inner-join-on-distinct
  (Q5): same result, no payload materialization of the count table.

``randomSplit`` is per-partition seeded sampling — deterministic for a
fixed (seed, partitioning) but not SQL-expressible, so correctness is
checked by invariants (disjointness, containment, ratios — FIXTURES.md B3),
not a value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_capstone_spark.operators.relational import semi_join, union_all


def split_ratings(
    ratings: DataFrame,
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int = 42,
    user_col: str = "userId",
    item_col: str = "movieId",
    rating_col: str = "rating",
    min_item_ratings: int = 5,
    foldback_fraction: float = 0.4,
) -> dict[str, DataFrame]:
    """Return ``{"train": ..., "val": ..., "test": ...}`` per the reference
    recipe. All input columns are carried through untouched (the reference
    kept `timestamp` in every split, SURVEY §1.2)."""
    clean = ratings.dropna(subset=[user_col, item_col, rating_col])
    active_items = (
        clean.groupBy(item_col)
        .agg(F.count(rating_col).alias("n"))
        .filter(F.col("n") >= min_item_ratings)
        .select(item_col)
    )
    filtered = semi_join(clean, active_items, on=item_col)

    train, val, test = filtered.randomSplit(list(weights), seed=seed)

    def fold_back(part: DataFrame) -> tuple[DataFrame, DataFrame]:
        items = part.select(item_col).distinct()
        back_ids, keep_ids = items.randomSplit(
            [foldback_fraction, 1.0 - foldback_fraction], seed=seed
        )
        return semi_join(part, back_ids, on=item_col), semi_join(
            part, keep_ids, on=item_col
        )

    val_back, val_keep = fold_back(val)
    test_back, test_keep = fold_back(test)
    return {
        "train": union_all(train, val_back, test_back),
        "val": val_keep,
        "test": test_keep,
    }


def split_ratings_prf(
    ratings: DataFrame,
    user_col: str = "userId",
    item_col: str = "movieId",
    rating_col: str = "rating",
    min_item_ratings: int = 5,
    train_pct: int = 80,
    val_pct: int = 10,
    foldback_pct: int = 40,
) -> DataFrame:
    """Deterministic PRF twin of :func:`split_ratings`: same pipeline
    (null-drop → ≥5-ratings item filter → 80/10/10 split → 40% item
    fold-back into train) with every random draw replaced by a md5 PRF —
    row assignment hashes (user, item); fold-back hashes the item id — so
    the split is identical on any engine, any partitioning, any cluster,
    and the whole recipe gets a full value oracle (randomSplit itself is
    per-partition-seeded and can only be invariant-checked).

    One behavioral difference from the reference recipe, documented: the
    reference draws fold-back items independently per split (40% of val
    items, 40% of test items); the PRF folds ~40% of ALL items uniformly,
    which subsumes both draws in one deterministic rule.

    Returns one frame with a ``split`` column (train/val/test) — callers
    filter; the assignment is a pure map, so materializing three frames
    costs three filters over one scan, no shuffle.
    """
    from bigdata_capstone_spark.functions.portable import md5_long

    clean = ratings.dropna(subset=[user_col, item_col, rating_col])
    active_items = (
        clean.groupBy(item_col)
        .agg(F.count(rating_col).alias("n"))
        .filter(F.col("n") >= min_item_ratings)
        .select(item_col)
    )
    filtered = semi_join(clean, active_items, on=item_col)
    h_row = md5_long(
        F.concat(
            F.lit("split:"),
            F.col(user_col).cast("string"),
            F.lit(":"),
            F.col(item_col).cast("string"),
        )
    ) % 100
    part = (
        F.when(h_row < train_pct, "train")
        .when(h_row < train_pct + val_pct, "val")
        .otherwise("test")
    )
    h_item = md5_long(
        F.concat(F.lit("fold:"), F.col(item_col).cast("string"))
    ) % 100
    split = F.when(
        (part != "train") & (h_item < foldback_pct), "train"
    ).otherwise(part)
    return filtered.withColumn("split", split)
