"""Near-duplicate operators (operators/dedup.py): the shared core's rules."""

from __future__ import annotations

from bigdata_capstone_spark.operators.dedup import (
    cross_corpus_near_dup_pairs,
    incremental_near_dup_pairs,
    near_dup_index,
)

TWIN = "the quick brown fox jumps over the lazy dog near the river bank"


def test_bucket_cap_rules_cross_corpus_vs_incremental(spark):
    """One planted bucket holds 2 corpus docs and 2 reference/batch docs
    (identical texts share every band bucket), under a cap of 3. The
    cross-corpus join counts BOTH sides (4 > 3: the bucket is dropped),
    the incremental join counts the corpus side only (2 <= 3: the bucket
    is kept, so each arriving twin pairs with both corpus twins)."""
    schema = "doc_id BIGINT, text STRING"
    corpus = spark.createDataFrame(
        [(1, TWIN), (2, TWIN),
         (3, "an unrelated corpus document about spark shuffles and joins")],
        schema,
    )
    other = spark.createDataFrame(
        [(101, TWIN), (102, TWIN),
         (103, "a different arriving text on parquet files and sinks")],
        schema,
    )
    kw = dict(n_perm=8, bands=4, shingle_n=3, min_jaccard=0.5)
    twins = {(c, r) for c in (1, 2) for r in (101, 102)}

    def cross(cap):
        return {
            (r["corpus_id"], r["ref_id"])
            for r in cross_corpus_near_dup_pairs(
                corpus, other, max_bucket_size=cap, **kw
            ).collect()
        }

    index = near_dup_index(corpus, n_perm=8, bands=4, shingle_n=3)

    def incremental(cap):
        return {
            (r["corpus_id"], r["batch_id"])
            for r in incremental_near_dup_pairs(
                index, other, max_bucket_size=cap, **kw
            ).collect()
        }

    assert cross(None) == twins
    assert cross(4) == twins
    assert cross(3) == set()
    assert incremental(None) == twins
    assert incremental(3) == twins
    assert incremental(2) == twins
    assert incremental(1) == set()
