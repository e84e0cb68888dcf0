"""Nearest-anchor kernels (IVF cells and PQ codes, each vector scored
against one broadcast row of all anchors): tie-breaks, edge rows, a
NumPy replay of the arithmetic, and the build-time job count.

The catalog entries that reach these kernels get their value check from
the DuckDB oracle; these tests pin what the fixture cannot show
(duplicate anchors, zero and NaN vectors) and the exact argmax/argmin
rule independently of any SQL engine.
"""

from __future__ import annotations

import numpy as np
import pytest

from bigdata_capstone_spark.catalog import QUERIES
from bigdata_capstone_spark.observability import profile
from bigdata_capstone_spark.operators.simsearch import (
    assign_cells,
    ivfpq_encode_prf,
    kmeans_assign_scored,
    pq_codebook_prf,
    pq_codes_prf,
    prf_medoids,
)
from bigdata_capstone_spark.sources.tables import load_table

DIM, M = 64, 16
DSUB = DIM // M


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot products over the last axis as a left-to-right float64 fold,
    the order of the engine's ``aggregate(zip_with(...))``."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def _cosines(vecs: np.ndarray, anchors: np.ndarray) -> np.ndarray:
    """(n, k) cosines, in the expression order of cosine_similarity_col."""
    v, c = vecs[:, None, :], anchors[None, :, :]
    return _fold_dot(v, c) / (
        np.sqrt(_fold_dot(v, v)) * np.sqrt(_fold_dot(c, c))
    )


def _sub_dists(vecs: np.ndarray, anchors: np.ndarray) -> np.ndarray:
    """(n, m, k) per-subspace squared L2, each a left-to-right fold."""
    d = vecs[:, None, :] - anchors[None, :, :]
    sq = (d * d).reshape(len(vecs), len(anchors), M, DSUB)
    return np.cumsum(sq, axis=-1)[..., -1].transpose(0, 2, 1)


def _codes(vecs: np.ndarray, anchors: np.ndarray) -> np.ndarray:
    """(n, m) argmin codes; NaN loses to every number (Spark's order) and
    np.argmin keeps the first, i.e. smallest, of tied codes."""
    d = _sub_dists(vecs, anchors)
    return np.argmin(np.where(np.isnan(d), np.inf, d), axis=-1)


def _anchor_vectors(spark, sf_small, n: int) -> list[list[float]]:
    emb = load_table(spark, sf_small, "embeddings")
    return [r["embedding"] for r in emb.orderBy("vec_id").limit(n).collect()]


def test_duplicate_anchors_give_smallest_cell_and_code(spark, sf_small):
    """Anchors 1 and 3 (and 2 and 5) are the same vector: a corpus row
    equal to them ties exactly, and the cell and every code go to the
    smaller key. The anchor frame arrives in DESCENDING key order, so
    the tie-break cannot come from row order."""
    v = _anchor_vectors(spark, sf_small, 4)
    anchors = [v[0], v[1], v[2], v[1], v[3], v[2]]
    cells = spark.createDataFrame(
        list(enumerate(anchors))[::-1], "cell INT, center ARRAY<FLOAT>"
    )
    book = spark.createDataFrame(
        list(enumerate(anchors))[::-1], "code INT, center ARRAY<FLOAT>"
    )
    corpus = spark.createDataFrame(
        [(10, v[1]), (11, v[2])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    assert dict(assign_cells(corpus, cells).collect()) == {10: 1, 11: 2}
    scored = {
        r["vec_id"]: r for r in kmeans_assign_scored(corpus, cells).collect()
    }
    assert {i: r["cell"] for i, r in scored.items()} == {10: 1, 11: 2}
    assert all(r["cos_r"] == 1.0 for r in scored.values())
    codes = pq_codes_prf(corpus, DIM, m=M, k_codes=6, codebook=book).collect()
    assert len(codes) == 2 * M
    assert {(r["vec_id"], r["code"]) for r in codes} == {(10, 1), (11, 2)}


def test_zero_and_nan_vectors_keep_cells_and_codes(spark, sf_small):
    """Edge rows keep the cells and codes of the per-pair window and
    min_by forms, with ANSI mode on and off alike. A zero vector has a
    zero norm: every cosine is null, which gives the smallest cell. A
    vector holding a NaN has all cosines NaN, which rank above every
    number: again the smallest cell. Its distances are NaN only in the
    NaN's subspace, where the smallest code wins; the zero vector's
    distances are all finite."""
    anchors = _anchor_vectors(spark, sf_small, 6)
    cells = spark.createDataFrame(
        list(enumerate(anchors)), "cell INT, center ARRAY<FLOAT>"
    )
    book = spark.createDataFrame(
        list(enumerate(anchors)), "code INT, center ARRAY<FLOAT>"
    )
    nan_vec = list(anchors[4])
    nan_vec[5] = float("nan")
    corpus = spark.createDataFrame(
        [(0, [0.0] * DIM), (1, nan_vec)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    want = _codes(
        np.array([[0.0] * DIM, nan_vec]), np.array(anchors, dtype=np.float64)
    )
    assert want[1][5 // DSUB] == 0

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            assert dict(assign_cells(corpus, cells).collect()) == {0: 0, 1: 0}
            scored = {
                r["vec_id"]: r["cos_r"]
                for r in kmeans_assign_scored(corpus, cells).collect()
            }
            assert scored[0] is None and np.isnan(scored[1]), mode
            got = {
                (r["vec_id"], r["s"]): r["code"]
                for r in pq_codes_prf(
                    corpus, DIM, m=M, k_codes=6, codebook=book
                ).collect()
            }
            assert got == {
                (i, s): int(want[i][s]) for i in (0, 1) for s in range(M)
            }, mode
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_encode_matches_numpy_replay(spark, sf_small):
    """A NumPy replay of the whole encode — argmax cosine to the 16 ivf
    anchors, argmin squared L2 per subspace to the 32 pq anchors, ties
    to the first — agrees with ivfpq_encode_prf, pq_codes_prf and
    assign_cells on every fixture vector (64-dim)."""
    emb = load_table(spark, sf_small, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    medoids = prf_medoids(emb, 16)
    med = dict(medoids.collect())
    book = dict(pq_codebook_prf(emb, 32).collect())
    cell = np.argmax(
        _cosines(vecs, np.array([med[i] for i in range(16)])), axis=-1
    )
    code = _codes(vecs, np.array([book[i] for i in range(32)]))
    want = {
        (i, int(cell[n]), s, int(code[n][s]))
        for n, i in enumerate(ids)
        for s in range(M)
    }

    enc = ivfpq_encode_prf(emb, DIM, m=M, k_codes=32, n_centroids=16)
    assert {tuple(r) for r in enc.collect()} == want
    pq = pq_codes_prf(emb, DIM, m=M, k_codes=32)
    assert {tuple(r) for r in pq.collect()} == {(i, s, c) for i, _, s, c in want}
    asg = assign_cells(emb, medoids)
    assert {tuple(r) for r in asg.collect()} == {(i, c) for i, c, _, _ in want}


def test_ivfpq_incremental_build_runs_one_job(spark, sf_small):
    """Building embedding_ivfpq_incremental picks both anchor sets in ONE
    collect job (the ivf and pq picks are branches of one union); the
    plan ledger cannot see build-time jobs, so this guards them. The
    entry is a known cache leak: its caches are released after the
    profile, so later tests share the session without them."""
    _, p = profile(
        spark, lambda: QUERIES["embedding_ivfpq_incremental"](spark, sf_small)
    )
    spark.catalog.clearCache()
    assert p["build_jobs"] == 1
