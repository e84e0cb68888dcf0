"""Round-11 optimization round: focused tests for operators whose
INTERNALS changed (outputs must be identical — the oracle gate pins
entry-level equality; these pin the operator-level contracts the
rewrites must preserve)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _lpa_edges(spark):
    # two 4-cliques bridged by one edge, plus a pendant node — small
    # enough to eyeball, rich enough to exercise frequency ties
    rows = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
        + [(3, 4), (7, 8)]
    )
    return spark.createDataFrame(rows, "src LONG, dst LONG")


def _lpa_oracle_labels(edge_rows, rounds):
    """The unrolled DuckDB oracle (label_propagation_unrolled_sql) over
    the same edge list."""
    import duckdb

    from bigdata_capstone_spark.operators.graph import (
        label_propagation_unrolled_sql,
    )

    values = ", ".join(f"({a}, {b})" for a, b in edge_rows)
    sql = label_propagation_unrolled_sql(
        f"SELECT * FROM (VALUES {values}) t(src, dst)", rounds=rounds
    )
    return set(duckdb.connect().execute(sql).fetchall())


def test_label_propagation_fused_matches_generic(spark):
    """The fused self-loop fixed-round plan must match the generic
    unrolled DuckDB oracle bit for bit — same votes, same smallest-label tie-break,
    every round."""
    from bigdata_capstone_spark.operators.graph import label_propagation

    edges = _lpa_edges(spark)
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    for rounds in (1, 2, 3):
        got = {
            (r["node"], r["label"])
            for r in label_propagation(edges, rounds=rounds).collect()
        }
        assert got == _lpa_oracle_labels(rows, rounds)


def test_label_propagation_fused_self_loop_input(spark):
    """An input self-loop must keep contributing its EDGE vote on top
    of the own-label vote in the fused path (the self-loop bag-union subtlety), as the
    oracle's closed-neighborhood union counts it."""
    from bigdata_capstone_spark.operators.graph import label_propagation

    rows = [(1, 1), (1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(rows, "src LONG, dst LONG")
    got = {
        (r["node"], r["label"])
        for r in label_propagation(edges, rounds=2).collect()
    }
    assert got == _lpa_oracle_labels(rows, 2)


def test_roc_auc_by_group_matches_single_group_auc(spark):
    """The r11 single-pass offsets form (goff = min of the global
    exclusive prefix within the group) must reproduce roc_auc run
    per-group, including tied scores and a degenerate group."""
    from bigdata_capstone_spark.operators.evaluation import (
        roc_auc,
        roc_auc_by_group,
    )

    rows = [
        # group "a": mixed, with a tie between a pos and a neg at 0.5
        ("a", 0.9, True), ("a", 0.8, False), ("a", 0.5, True),
        ("a", 0.5, False), ("a", 0.3, False), ("a", 0.1, True),
        # group "b": perfectly ranked
        ("b", 0.7, True), ("b", 0.6, True), ("b", 0.2, False),
        # group "c": degenerate (no negatives) -> NULL auc
        ("c", 0.4, True), ("c", 0.2, True),
    ]
    scored = spark.createDataFrame(rows, "g STRING, s DOUBLE, lab BOOLEAN")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc_r"])
        for r in roc_auc_by_group(scored, "g", "s", "lab").collect()
    }
    # non-degenerate groups must match the single-group operator exactly
    for g in ("a", "b"):
        single = roc_auc(
            scored.filter(F.col("g") == g), "s", "lab"
        ).collect()[0]
        assert got[g] == (
            single["n_pos"], single["n_neg"], single["auc_r"]
        )
    # degenerate group (no negatives): NULL auc, not a division error
    assert got["c"] == (2, 0, None)


def test_bounded_row_number_duplicate_tuple_raises(spark):
    """Verdict #8: a duplicate key tuple must FAIL LOUDLY at execution
    instead of silently tying ranks and fanning out the final join."""
    from pyspark.errors import PySparkException

    from bigdata_capstone_spark.operators.relational import (
        bounded_row_number,
    )

    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "v LONG, k STRING"
    )
    with pytest.raises(PySparkException, match="total-order contract"):
        bounded_row_number(df, [("v", True), ("k", True)]).collect()


def test_bounded_row_number_null_key_raises(spark):
    """Verdict #8: a NULL key must FAIL LOUDLY instead of silently
    dropping the row through the final equi-join's three-valued logic."""
    from pyspark.errors import PySparkException

    from bigdata_capstone_spark.operators.relational import (
        bounded_row_number,
    )

    df = spark.createDataFrame(
        [(1, "x"), (None, "y"), (2, "z")], "v LONG, k STRING"
    )
    with pytest.raises(PySparkException, match="total-order contract"):
        bounded_row_number(df, [("v", True), ("k", True)]).collect()


def test_mmr_rerank_tolerates_duplicate_sim_rows(spark):
    """ADVICE r10: a duplicate (query_id, a, b) sims row must not throw
    DUPLICATE_MAP_KEY — the pre-aggregation takes max(sim_r), restoring
    the pre-r10 join+max tolerance."""
    from bigdata_capstone_spark.operators.simsearch import mmr_rerank

    cands = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7)],
        "query_id LONG, vec_id LONG, rel_r DOUBLE",
    )
    sims = spark.createDataFrame(
        [
            (1, 10, 11, 0.5), (1, 11, 10, 0.5),
            (1, 10, 11, 0.4),  # duplicate pair, lower sim -> max wins
            (1, 10, 12, 0.2), (1, 12, 10, 0.2),
            (1, 11, 12, 0.3), (1, 12, 11, 0.3),
        ],
        "query_id LONG, a LONG, b LONG, sim_r DOUBLE",
    )
    out = {
        (r["vec_id"], r["pick"])
        for r in mmr_rerank(cands, sims, k=3, lam=0.7).collect()
    }
    # pick1 = most relevant (10); the rest follow the MMR fold
    assert (10, 1) in out and len(out) == 3


def test_exact_jaccard_hot_item_cap(spark):
    """Verdict #7 skew contract: with max_item_freq set, a hot item is
    dropped from the co-occurrence join ONLY — set sizes stay exact, so
    capped similarities are exact lower bounds, and a pair overlapping
    exclusively on the hot item disappears; with the default (None) the
    declared EXACT semantics are unchanged."""
    from bigdata_capstone_spark.operators.similarity import (
        exact_jaccard_pairs,
    )

    # item 99 is held by every user (the hot key); users 1&2 also share
    # items 11,12; users 3&4 share ONLY the hot item
    rows = []
    for u, items in {
        1: [11, 12, 13, 14, 99],
        2: [11, 12, 15, 16, 99],
        3: [21, 22, 23, 24, 99],
        4: [31, 32, 33, 34, 99],
    }.items():
        rows += [(u, i) for i in items]
    ratings = spark.createDataFrame(rows, "userId LONG, movieId LONG")

    exact = {
        (r["userA"], r["userB"]): round(r["similarity"], 6)
        for r in exact_jaccard_pairs(
            ratings, min_similarity=0.0, min_items=1
        ).collect()
    }
    # every pair shares >= the hot item: 6 pairs, sim = common/(5+5-common)
    assert exact[(1, 2)] == round(3 / 7, 6)
    assert exact[(3, 4)] == round(1 / 9, 6)
    assert len(exact) == 6

    capped = {
        (r["userA"], r["userB"]): round(r["similarity"], 6)
        for r in exact_jaccard_pairs(
            ratings, min_similarity=0.0, min_items=1, max_item_freq=3
        ).collect()
    }
    # hot item no longer counts toward |A∩B| but still counts in sizes:
    # (1,2) drops to 2/(5+5-2); hot-only pairs disappear entirely
    assert capped[(1, 2)] == round(2 / 8, 6)
    assert (3, 4) not in capped and len(capped) == 1
    # lower-bound property
    assert all(capped[p] <= exact[p] for p in capped)


def test_nn_descent_insert_matches_r10_shape_outputs(spark, sf_small):
    """The r11 insert-chain restructure (fused bucket probe, seed-score
    materialization, distinct-free refinement frames) must keep the
    merged index row-identical, including untouched-node passthrough."""
    from bigdata_capstone_spark.operators.simsearch import (
        knn_graph,
        nn_descent_insert,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").cache()
    old = emb.filter(F.col("vec_id") % 8 != 0)
    batch = emb.filter(F.col("vec_id") % 8 == 0)
    graph = knn_graph(
        old, dim=64, k=5, n_planes=6, n_tables=2, max_bucket=100
    )
    out = nn_descent_insert(
        graph, old, batch, dim=64, k=5, n_planes=6, n_tables=2,
        max_bucket=100,
    )
    rows = out.collect()
    # structural invariants the oracle also replays: ranks 1..deg<=k per
    # src, unique dst per src, every batch node present as a src
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)
    batch_ids = {r["vec_id"] for r in batch.collect()}
    srcs = set(by_src)
    # most batch nodes seed edges (an isolated one may share no
    # surviving bucket); the graph must contain SOME batch srcs
    assert batch_ids & srcs
    for src, es in by_src.items():
        ranks = sorted(e["rank"] for e in es)
        assert ranks == list(range(1, len(es) + 1)) and len(es) <= 5
        assert len({e["dst"] for e in es}) == len(es)
    # untouched nodes must pass through bit-identically
    old_graph = {
        (r["src"], r["dst"], r["cosine_r"], r["rank"])
        for r in graph.collect()
    }
    touched_or_new = {
        r["src"]
        for r in rows
        if (r["src"], r["dst"], r["cosine_r"], r["rank"]) not in old_graph
    }
    for src, es in by_src.items():
        if src in touched_or_new:
            continue
        assert all(
            (e["src"], e["dst"], e["cosine_r"], e["rank"]) in old_graph
            for e in es
        )
    emb.unpersist()


def test_bench_baseline_skips_truncated_driver_records(tmp_path, monkeypatch):
    """Verdict #9 (tail truncation): a driver BENCH_r*.json whose JSON
    line was truncated (parsed=null) must be SKIPPED by the regression
    gate, falling back to the newest parseable record; low-core scaling
    sittings (BENCH_rN_c8.json) must never become the baseline."""
    import json

    import bench

    monkeypatch.setattr(
        "os.path.dirname", lambda p: str(tmp_path), raising=True
    )
    (tmp_path / "BENCH_r8.json").write_text(
        json.dumps({"parsed": {"queries": {"q": 1.0}, "sf": 0.1}})
    )
    (tmp_path / "BENCH_r9.json").write_text(
        json.dumps({"rc": 0, "tail": '..., "sf": 0.1}', "parsed": None})
    )
    (tmp_path / "BENCH_r9_c8.json").write_text(
        json.dumps({"parsed": {"queries": {"q": 0.1}, "sf": 0.1}})
    )
    reg = bench._regressions_vs_prior({"q": 2.0}, 0.1)
    assert reg["baseline"] == "BENCH_r8.json"
    assert reg["flagged"] == {"q": {"prior": 1.0, "now": 2.0, "ratio": 2.0}}
