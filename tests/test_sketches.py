"""Sketch accuracy/soundness properties beyond the hash-equality oracle.

The catalog oracle proves Spark and DuckDB compute the SAME sketch; these
tests prove the sketch is a CORRECT sketch: CMS never underestimates,
both estimators land near the exact answer on known data, and the HLL
register grain is what makes it mergeable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_capstone_spark.operators import sketches as sk


def _ids_df(spark, n, label):
    return spark.range(n).select(
        F.lit(label).alias("grp"), F.concat(F.lit(f"{label}-"), F.col("id")).alias("k")
    )


def test_hll_estimate_near_truth(spark):
    # 5000 distinct keys, duplicated 3x: duplicates must not move registers.
    base = _ids_df(spark, 5000, "a")
    df = base.union(base).union(base)
    [(grp, est, nreg)] = (
        sk.hll_estimate(df, ["grp"], F.col("k")).collect()
    )
    assert nreg == sk.HLL_M  # all 64 registers hit at this cardinality
    # m=64 raw HLL: standard error ~1.04/sqrt(64) = 13%; allow 3 sigma.
    assert abs(est - 5000) / 5000 < 0.4


def test_hll_duplicates_are_free(spark):
    once = sk.hll_registers(_ids_df(spark, 1000, "x"), ["grp"], F.col("k"))
    thrice = sk.hll_registers(
        _ids_df(spark, 1000, "x").union(_ids_df(spark, 1000, "x")), ["grp"], F.col("k")
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, thrice.collect()))


def test_hll_empty_registers_estimate_zero(spark):
    # An all-empty stream leaves ZERO registers; the global estimator must
    # report 0 distinct, not alpha*m^2/m ≈ 45 from 64 phantom empty
    # registers (the read_latest_snapshot_or_empty path of
    # streaming_distinct_users_hll).
    empty = spark.createDataFrame([], "bucket BIGINT, rho_max INT")
    [(est, nreg)] = sk.hll_estimate_from_registers(empty, []).collect()
    assert est == 0.0 and nreg == 0
    # grouped path: no groups -> no rows, never a phantom estimate
    assert sk.hll_estimate_from_registers(
        empty.withColumn("grp", F.lit("g")), ["grp"]
    ).count() == 0


def test_hll_registers_merge_across_partitions(spark):
    # Mergeability: registers of (A ∪ B) == element-wise max of registers.
    a, b = _ids_df(spark, 800, "g"), _ids_df(spark, 800, "h").withColumn(
        "grp", F.lit("g")
    )
    union_regs = sk.hll_registers(a.union(b), ["grp"], F.col("k"))
    merged = (
        sk.hll_registers(a, ["grp"], F.col("k"))
        .union(sk.hll_registers(b, ["grp"], F.col("k")))
        .groupBy("grp", "bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    assert sorted(map(tuple, union_regs.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_quantile_bins_merge_and_accuracy(spark):
    # Mergeability: bins of (A ∪ B) == per-bin sum of separate sketches;
    # accuracy: every reported quantile is within one bin width above the
    # exact order statistic.
    import numpy as np

    rs = np.random.RandomState(7)
    # shifted so ~1/4 of values are negative: bin = floor(v/w) must order
    # correctly through the sign change (floor, not trunc)
    vals = [float(v) - 30.0 for v in rs.gamma(4.0, 25.0, 4000)]
    half = len(vals) // 2
    a = spark.createDataFrame([("g", v) for v in vals[:half]], ["grp", "v"])
    b = spark.createDataFrame([("g", v) for v in vals[half:]], ["grp", "v"])
    u = a.union(b)
    w = 2.0
    union_bins = sk.quantile_bins(u, ["grp"], F.col("v"), w)
    merged = (
        sk.quantile_bins(a, ["grp"], F.col("v"), w)
        .union(sk.quantile_bins(b, ["grp"], F.col("v"), w))
        .groupBy("grp", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, union_bins.collect())) == sorted(
        map(tuple, merged.collect())
    )
    [row] = sk.quantiles_from_bins(union_bins, ["grp"], w).collect()
    assert row["n_rows"] == len(vals)
    svals = sorted(vals)
    import math

    for q in (0.5, 0.9, 0.99):
        exact = svals[math.ceil(q * len(svals)) - 1]
        est = row[f"p{int(q * 100)}"]
        assert exact <= est <= exact + w, (q, exact, est)


@pytest.fixture(scope="module")
def zipf_counts(spark):
    # Skewed frequencies: key i appears (50 - i) times for i in 0..49.
    rows = [(f"k{i}",) for i in range(50) for _ in range(50 - i)]
    return spark.createDataFrame(rows, ["k"])


def test_cms_never_underestimates_and_is_tight_here(spark, zipf_counts):
    counters = sk.cms_counters(zipf_counts, F.col("k"), d=4)
    assert counters.count() <= 4 * 256
    exact = zipf_counts.groupBy("k").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = sk.cms_point_estimates(counters, exact, "k", d=4)
    rows = est.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt  # CMS is one-sided
    # 1275 total rows into 256 slots x 4 rows: collisions are rare enough
    # that at least the top key should be exact.
    top = max(rows, key=lambda r: r.exact_cnt)
    assert top.cms_estimate == top.exact_cnt


def test_bloom_no_false_negatives_and_bounded_fp(spark, sf_small):
    """Every inserted key must probe as present (no false negatives —
    the Bloom contract); false positives over a disjoint candidate set
    stay near the analytic k,m,n bound. Regression test for the
    element_at-on-map off-by-one that silently shifted every word of the
    dense bitmap (map lookup is BY KEY, not 1-based position)."""
    from pyspark.sql import functions as F

    from bigdata_capstone_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    keys = ev.select(F.col("user_id").cast("string").alias("k")).distinct()
    n = keys.count()
    bm = bloom_build(keys, F.col("k"), 12, 4)
    present = bloom_probe(keys, bm, F.col("k"), 12, 4).count()
    assert present == n  # no false negatives
    absent = spark.range(1_000_000, 1_001_000).select(
        F.col("id").cast("string").alias("k")
    )
    fp = bloom_probe(absent, bm, F.col("k"), 12, 4).count()
    # analytic FP ~ (1 - exp(-k n / m))^k; generous 5x headroom
    import math

    p = (1 - math.exp(-4 * n / 4096)) ** 4
    assert fp <= max(5, 5 * p * 1000), (fp, p)


def test_quantiles_from_bins_guards(spark):
    """ADVICE r4: empty group_cols would plan the banned single-partition
    window — must raise; and sub-percent quantile labels must not collide
    (int(q*100) mapped 0.999 and 0.99 both to p99)."""
    import pytest

    df = spark.createDataFrame([("g", float(v)) for v in range(100)], ["grp", "v"])
    bins = sk.quantile_bins(df, ["grp"], F.col("v"), 2.0)
    with pytest.raises(ValueError, match="group_cols"):
        sk.quantiles_from_bins(bins, [], 2.0)
    [row] = sk.quantiles_from_bins(
        bins, ["grp"], 2.0, qs=(0.99, 0.999)
    ).collect()
    assert "p99" in row.asDict() and "p99_9" in row.asDict()
    assert row["p99_9"] >= row["p99"]
    with pytest.raises(ValueError, match="collide"):
        # identical labels after formatting must be rejected loudly
        sk.quantiles_from_bins(bins, ["grp"], 2.0, qs=(0.5, 0.5))


# ---------------------------------------------------------------------------
# Level-sampling quantile sketch: closed-form levels and barrier-free plans
# ---------------------------------------------------------------------------

# 60-bit hash edge cases: 0 (capped level), every single set bit, all ones
_EDGE_HASHES = [0] + [1 << j for j in range(60)] + [(1 << 60) - 1]


def _duckdb_rows(pdf, sql):
    import duckdb

    con = duckdb.connect()
    con.register("t", pdf)
    return con.execute(sql).fetchall()


def test_qsketch_level_closed_form_matches_duckdb_twin(spark):
    """The closed-form level (bit_count of the trailing-zero mask)
    equals the indicator-sum SQL the oracles replay, on every edge
    hash and on real md5 hashes; a NULL hash/key gets level 0."""
    import pandas as pd

    from bigdata_capstone_spark.functions.portable import md5_long_sql

    hashes = _EDGE_HASHES + [None]
    df = spark.createDataFrame([(h,) for h in hashes], "h LONG")
    got = {
        r["h"]: r["lvl"]
        for r in df.select("h", sk.qsketch_hash_lvl(F.col("h")).alias("lvl"))
        .collect()
    }
    pdf = pd.DataFrame({"h": pd.array(hashes, dtype="Int64")})
    want = dict(_duckdb_rows(pdf, f"SELECT h, {sk.qsketch_lvl_sql('h')} FROM t"))
    assert got == want
    assert got[0] == sk.QSKETCH_MAX_LVL and got[None] == 0
    assert [got[1 << j] for j in range(60)] == [
        min(j, sk.QSKETCH_MAX_LVL) for j in range(60)
    ]

    keys = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    got = {
        r["k"]: r["lvl"]
        for r in keys.select("k", sk.qsketch_lvl_col(F.col("k")).alias("lvl"))
        .collect()
    }
    pdf = pd.DataFrame({"k": [str(i) for i in range(2000)]})
    h = md5_long_sql("'qs:' || k")
    want = dict(
        _duckdb_rows(
            pdf,
            f"SELECT k, {sk.qsketch_lvl_sql()} FROM (SELECT k, {h} AS __h FROM t)",
        )
    )
    assert got == want
    [null_key] = spark.range(1).select(
        sk.qsketch_lvl_col(F.lit(None).cast("string")).alias("lvl")
    ).collect()
    assert null_key["lvl"] == 0


def test_wqsketch_level_closed_form_matches_duckdb_twin(spark):
    """The closed-form weighted level (bit length of u div w) equals
    the indicator-sum SQL over edge draws x weights 1, 2^k and weights
    near 2^60, and non-positive or NULL inputs get level 0 as there."""
    import itertools

    import pandas as pd

    weights = (
        [1, 3, 12345]
        + [1 << k for k in range(63)]
        + [(1 << 60) - 1, (1 << 60) + 1, (1 << 63) - 1]
        + [0, -5, None]
    )
    us = _EDGE_HASHES + [None]
    rows = list(itertools.product(us, weights))
    df = spark.createDataFrame(rows, "u LONG, w LONG")
    got = {
        (r["u"], r["w"]): r["lvl"]
        for r in df.select(
            "u", "w", sk.wqsketch_hash_wlvl(F.col("u"), F.col("w")).alias("lvl")
        ).collect()
    }
    pdf = pd.DataFrame(
        {
            "u": pd.array([u for u, _ in rows], dtype="Int64"),
            "w": pd.array([w for _, w in rows], dtype="Int64"),
        }
    )
    want = {
        (u, w): lvl
        for u, w, lvl in _duckdb_rows(
            pdf, f"SELECT u, w, {sk.wqsketch_wlvl_sql('w', 'u')} FROM t"
        )
    }
    assert got == want
    assert got[(0, 1)] == sk.QSKETCH_MAX_LVL and got[((1 << 60) - 1, 1)] == 0
    assert got[(1, None)] == got[(None, 1)] == got[(1, 0)] == got[(1, -5)] == 0


def test_quantile_sketch_entries_build_without_barriers(
    spark, sf_small, sf_oracle
):
    """The sketch entries are lazy plans: building the one-pass
    histogram or the shard merge runs no Spark job, and neither
    optimized plan holds a Window or a cached relation. Executed, each
    scans its source exactly once."""
    from bigdata_capstone_spark.catalog import QUERIES
    from bigdata_capstone_spark.observability import profile
    from bigdata_capstone_spark.sources.tables import load_table

    # profile clears the cache first: a table another test left cached
    # would be read as cached batches, not as parquet rows
    built = {}
    for name in ("orders_price_histogram", "quantile_sketch_shard_merge"):
        df, built[name] = profile(spark, lambda: QUERIES[name](spark, sf_small))
        jobs = built[name]["build_jobs"]
        assert jobs == 0, (name, jobs)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan, (name, plan[:3000])
        assert "InMemoryRelation" not in plan, (name, plan[:3000])

    orders = load_table(spark, sf_small, "orders")
    n_orders = orders.count()
    n_partial = sk.qsketch_partials_onepass(
        orders, F.col("o_orderkey"), F.col("o_totalprice"), 512
    ).count()
    read = built["orders_price_histogram"]["input_records"]
    # input records = one parquet scan + one re-read of the partials
    # from the blocks their first computation cached
    assert read == n_orders + n_partial, (read, n_orders, n_partial)

    # at sf_oracle the partials are far fewer than the events, so a
    # per-shard rescan of events could not hide in this count
    events = load_table(spark, sf_oracle, "events")
    n_events = events.count()
    n_partial = sk.qsketch_partials_onepass_keyed(
        events, F.col("event_id") % 4, F.col("event_id"), F.col("value"), 512
    ).count()
    assert n_partial < n_events
    _, p = profile(
        spark, lambda: QUERIES["quantile_sketch_shard_merge"](spark, sf_oracle)
    )
    read = p["input_records"]
    # one events scan computes the partials; the other three shard
    # filters re-read their cached blocks, and the merge re-reads its
    # cached union (the four shards partition the partials)
    assert read == n_events + 4 * n_partial, (read, n_events, n_partial)


def test_qsketch_empty_merge_and_quantiles(spark):
    """Empty states merge to an empty state, and an empty state has no
    quantile row (the one-aggregate pick drops it)."""
    empty = sk.qsketch_build(
        spark.createDataFrame([], "id LONG, v DOUBLE"), F.col("id"), F.col("v"), 64
    )
    merged = sk.qsketch_merge([empty, empty], 64)
    assert merged.count() == 0
    assert merged.columns == ["qs_id", "value", "lvl", "thr"]
    assert sk.qsketch_quantiles(empty).count() == 0
    assert sk.qsketch_quantiles(merged).count() == 0


def test_qsketch_cdf_leaves_no_cache(spark):
    """qsketch_cdf is one aggregate plus an explode: one row per probe,
    in probe order, and no cached relation left behind per call."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id LONG, v DOUBLE"
    )
    state = sk.qsketch_build(df, F.col("id"), F.col("v"), 64)
    spark.catalog.clearCache()
    rows = sk.qsketch_cdf(state, [4.0, -1.0, 100.0]).collect()
    assert [tuple(r) for r in rows] == [
        (4.0, 10, 0.5), (-1.0, 10, 0.0), (100.0, 10, 1.0)
    ]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quantiles_from_bins_leaves_no_cache(spark):
    """quantiles_from_bins is one aggregate per group: each pick is the
    first bin whose running count reaches ceil(q·total), with a NULL
    bin sorted first and counted (as an ascending running-sum window
    orders it) and duplicate bins of an unmerged union summed, and a
    call leaves no cached relation behind."""
    bins = spark.createDataFrame(
        [("a", None, 2), ("a", 0, 3), ("a", 1, 1), ("a", 1, 2), ("a", 5, 2),
         ("b", 3, 4)],
        "grp STRING, bin BIGINT, cnt BIGINT",
    )
    spark.catalog.clearCache()
    rows = sk.quantiles_from_bins(bins, ["grp"], 2.0, qs=(0.2, 0.5, 0.7, 0.9))
    got = {r["grp"]: tuple(r)[1:] for r in rows.collect()}
    assert got == {
        "a": (10, 2.0, 2.0, 4.0, 12.0),
        "b": (4, 8.0, 8.0, 8.0, 8.0),
    }
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
