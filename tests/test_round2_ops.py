"""Semantic invariants for the round-2 operators, beyond the value-hash
oracle (which tests/test_catalog_oracle.py already applies to every
registered query): planted-fixture recovery, structural properties of
SCD2 intervals and triangles, and sampling bounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_capstone_spark.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def test_movie_twins_exact_recovers_planted_pairs(spark):
    """The ratings fixture plants two user pairs with IDENTICAL movie sets
    (sources/ratings.py) — the reference's all-1.0-similarity observation
    (capstone_final_report.pdf p.2) must reproduce: both pairs present at
    similarity exactly 1.0."""
    rows = {
        (r["userA"], r["userB"]): r["similarity_r"]
        for r in QUERIES["movie_twins_exact"](spark, SF).collect()
    }
    assert rows[(9001, 9002)] == 1.0
    assert rows[(9003, 9004)] == 1.0


def test_scd2_intervals_partition_each_users_history(spark):
    """Per user: versions are 1..k contiguous, exactly one open interval
    (is_current), and each closed interval ends where the next begins."""
    out = QUERIES["scd2_user_tiers"](spark, SF).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, rows in by_user.items():
        rows.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r["is_current"] for r in rows) == 1
        assert rows[-1]["is_current"] and rows[-1]["valid_to"] is None
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]
            # runs are maximal: adjacent versions change tier
            assert a["tier"] != b["tier"]


def test_scd2_event_counts_cover_all_events(spark):
    out = QUERIES["scd2_user_tiers"](spark, SF)
    total = out.agg(F.sum("n_events")).first()[0]
    from bigdata_capstone_spark.sources.tables import load_table

    assert total == load_table(spark, SF, "events").count()


def test_dedup_triangles_are_closed_and_ordered(spark):
    tris = QUERIES["dedup_triangles"](spark, SF).collect()
    edges = {
        (r["idA"], r["idB"])
        for r in QUERIES["dedup_ngram_jaccard_pairs"](spark, SF)
        .filter(F.col("jaccard_r") >= 0.2)
        .collect()
    }
    for t in tris:
        a, b, c = t["a"], t["b"], t["c"]
        assert a < b < c
        assert (a, b) in edges and (b, c) in edges and (a, c) in edges


def test_stratified_sample_fractions_and_determinism(spark):
    out1 = {
        r["event_type"]: r["n_sampled"]
        for r in QUERIES["stratified_event_sample"](spark, SF).collect()
    }
    out2 = {
        r["event_type"]: r["n_sampled"]
        for r in QUERIES["stratified_event_sample"](spark, SF).collect()
    }
    assert out1 == out2  # PRF: identical on rerun
    from bigdata_capstone_spark.sources.tables import load_table

    totals = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # non-downsampled strata keep every row; downsampled strata keep fewer
    for et, n in totals.items():
        if et in ("view", "click"):
            assert out1.get(et, 0) < n
        else:
            assert out1[et] == n


def test_contamination_excludes_benchmark_docs(spark):
    out = QUERIES["benchmark_contamination"](spark, SF)
    assert out.filter(F.col("doc_id") < 20).count() == 0
    bad = out.filter(
        (F.col("contamination_r") < 0) | (F.col("contamination_r") > 1)
    )
    assert bad.count() == 0


def test_record_breaking_events_monotone_per_user(spark):
    rows = QUERIES["record_breaking_events"](spark, SF).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r["event_id"])
        # each alert's prior_high is the previous alert's value
        for a, b in zip(rs, rs[1:]):
            assert b["prior_high"] == pytest.approx(a["value"])
        assert rs[0]["prior_high"] is None


def test_tfidf_ranking_is_monotone_and_nonnegative(spark):
    """Per doc: scores weakly decrease with rank; a term present in every
    document has idf ln(1)=0 and can therefore never outscore a term with
    any positive idf (so a rank-1 score of 0 implies ALL the doc's terms
    are corpus-universal)."""
    rows = QUERIES["doc_tfidf_top_terms"](spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r["tfidf_r"] >= 0
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["term_rank"])
        scores = [r["tfidf_r"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_transition_matrix_totals(spark):
    """Total transitions = total events - number of users (each user's last
    event has no successor)."""
    from bigdata_capstone_spark.sources.tables import load_table

    out = QUERIES["event_transition_matrix"](spark, SF)
    total = out.agg(F.sum("n_transitions")).first()[0]
    events = load_table(spark, SF, "events")
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_bench_headline_queries_are_registered():
    import bench

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_registry_docstrings_and_uniqueness():
    """Every registered query has a docstring (QUERIES.md source) and every
    oracle key refers to a registered query."""
    from bigdata_capstone_spark.catalog import ORACLE_SQL

    assert set(ORACLE_SQL) <= set(QUERIES)
    undocumented = [n for n, f in QUERIES.items() if not (f.__doc__ or "").strip()]
    assert not undocumented, undocumented


def test_twin_correlation_gap_is_positive(spark):
    """The reference's central finding (report p.3: twins correlate more
    than random pairs) must reproduce directionally on the fixture."""
    r = QUERIES["twin_correlation_gap"](spark, SF).collect()[0]
    assert r["n_twin_pairs"] >= 1 and r["n_random_pairs"] >= 1
    assert r["corr_gap"] > 0


def test_lsh_bucket_cap_bounds_candidates(spark):
    """max_bucket_size: capped candidates are a subset of uncapped ones,
    and a tiny cap on a heavily-duplicated corpus strictly reduces them."""
    from bigdata_capstone_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    sigs = minhash_signatures(docs, n_perm=8, shingle_n=3).cache()
    full = {
        (r["idA"], r["idB"])
        for r in lsh_candidate_pairs(sigs, 8, 4).collect()
    }
    capped = {
        (r["idA"], r["idB"])
        for r in lsh_candidate_pairs(sigs, 8, 4, max_bucket_size=3).collect()
    }
    assert capped <= full
    assert len(full) > 0
    assert len(capped) < len(full)


def test_bucket_cap_threads_through_production_entry_points(spark):
    """The cap must reach the PRODUCTION paths (minhash_near_dup_pairs /
    dedup_clusters), not just the low-level primitive: a tiny cap must
    strictly shrink the verified pair set, and the default-on cap (2000)
    must be a no-op at this scale (identical to uncapped)."""
    from bigdata_capstone_spark.operators.dedup import minhash_near_dup_pairs
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    key = lambda r: (r["idA"], r["idB"])  # noqa: E731
    uncapped = {
        key(r)
        for r in minhash_near_dup_pairs(
            docs, n_perm=8, bands=4, min_jaccard=0.35, max_bucket_size=None
        ).collect()
    }
    default = {
        key(r)
        for r in minhash_near_dup_pairs(
            docs, n_perm=8, bands=4, min_jaccard=0.35
        ).collect()
    }
    tiny = {
        key(r)
        for r in minhash_near_dup_pairs(
            docs, n_perm=8, bands=4, min_jaccard=0.35, max_bucket_size=1
        ).collect()
    }
    assert default == uncapped  # cap=2000 never fires on the clean fixture
    assert tiny < uncapped  # cap=1 kills every multi-doc bucket


def test_shingle_frame_follows_the_session_checkpoint_rule(spark, request):
    """minhash_near_dup_pairs materializes its shingle frame through
    ckpt.materialize: with a session checkpoint dir the frame is written
    there (a lost executor recomputes instead of aborting), and the
    pairs are those of the local path."""
    from bigdata_capstone_spark.operators.dedup import minhash_near_dup_pairs
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")

    def pairs():
        return sorted(
            tuple(r)
            for r in minhash_near_dup_pairs(
                docs, n_perm=8, bands=4, min_jaccard=0.35
            ).collect()
        )

    local = pairs()
    ckpt_dir = request.getfixturevalue("session_checkpoint_dir")
    assert pairs() == local and local
    assert any(p.name.startswith("part-") for p in ckpt_dir.rglob("*"))


def test_cross_corpus_near_dups_find_planted_paraphrase(spark):
    """A reference doc and its one-word-changed paraphrase in the corpus
    must pair across sides; unrelated docs must not; same-side near-dups
    must NOT appear (the join is strictly corpus x reference)."""
    from bigdata_capstone_spark.operators.dedup import (
        cross_corpus_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [
            (1, base.replace("lazy", "sleepy")),          # paraphrase → hit
            (2, "completely unrelated text about spark physical plans"),
            (3, base.replace("lazy", "sleepy")),          # same-side dup of 1
        ],
        ["doc_id", "text"],
    )
    reference = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    pairs = cross_corpus_near_dup_pairs(
        corpus, reference, n_perm=8, bands=4, shingle_n=3, min_jaccard=0.5
    ).collect()
    got = {(r["corpus_id"], r["ref_id"]) for r in pairs}
    assert (1, 100) in got and (3, 100) in got
    assert all(c != 2 for c, _ in got)
    assert all(ref == 100 for _, ref in got)  # no corpus-side pairs leak


def test_bigram_logprob_penalizes_rare_transitions(spark):
    """Docs built from corpus-frequent bigrams must outscore a doc of the
    same unigrams in reversed (corpus-rare) transition order — the signal
    the unigram LM cannot see."""
    from bigdata_capstone_spark.catalog_etl import doc_bigram_logprob

    rows = [(i, "a b a b a b a b") for i in range(9)] + [(9, "b a b a b a b a")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["doc_id"]: r["avg_logprob_r"]
            for r in doc_bigram_logprob(spark, d).collect()
        }
    # "a b" appears 9*4+3 times, "b a" only 9*3+4 — doc 9 leans on the
    # rarer reversed transition and must score strictly lower
    assert out[9] < out[0], out


def test_boilerplate_shingle_fraction(spark):
    """Planted template: one shared trigram across >= min_docs docs is
    flagged as common; a unique doc scores zero."""
    from bigdata_capstone_spark.operators.dedup import (
        boilerplate_shingle_stats,
    )

    rows = [
        (0, "copyright acme corp alpha beta gamma"),
        (1, "copyright acme corp delta epsilon zeta"),
        (2, "copyright acme corp eta theta iota"),
        (3, "totally unique words nothing shared here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r for r in boilerplate_shingle_stats(
            docs, shingle_n=3, min_docs=3
        ).collect()
    }
    assert all(out[i]["n_shingles"] == 4 for i in range(4))
    # only the 'copyright acme corp' shingle reaches doc-frequency 3
    assert all(out[i]["n_common"] == 1 for i in range(3))
    assert out[3]["n_common"] == 0
    assert out[0]["common_frac"] == 0.25
