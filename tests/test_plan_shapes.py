"""Physical-plan hygiene regression tests (the `.explain` discipline,
pinned): pushdown, pruning, broadcasts, and JVM-only hot paths are
properties the 100 TB posture depends on — a silent plan regression (a
lost broadcast, a widened scan, a Python eval sneaking into a hot path)
should fail the suite, not wait for a bench diff.

The registry-wide window audits run on every entry's own build in
tests/test_catalog_oracle.py; the tests here pin single-entry shapes.
"""

from __future__ import annotations

import os

import pytest

from bigdata_capstone_spark.catalog import QUERIES

SF = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    return qe.explainString(mode.fromString("formatted"))


def test_star_join_broadcasts_dimensions(spark):
    """regional_revenue joins facts to region/nation/customer dims: every
    dim side must broadcast — a SortMergeJoin against a 5-row region table
    would shuffle the whole fact table at scale."""
    plan = plan_of(spark, "regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_narrow_projection_prunes_scan(spark):
    """doc_quality touches only (doc_id, text): the parquet ReadSchema must
    not include lang/source/n_chars (column pruning reached the scan)."""
    plan = plan_of(spark, "doc_quality")
    import re

    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert reads, plan[:2000]
    for r in reads:
        cols = {c.split(":")[0] for c in r.split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_filter_pushdown_reaches_scan(spark):
    """expensive_or_large_parts filters on part attributes: PushedFilters
    on the parquet scan must be non-empty."""
    import re

    plan = plan_of(spark, "expensive_or_large_parts")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary",
        "regional_revenue",
        "top_orders_per_customer",
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_near_pairs",
        "embedding_ann_lsh",
        "doc_quality",
        "doc_pii_scrub",
        "doc_unigram_logprob",
        "doc_bigram_logprob",
        "doc_boilerplate_shingles",
        "docs_lang_rebalance",
        "docs_curation_pipeline",
        "events_hourly_windows",
        "embedding_ann_ivfpq",
    ],
)
def test_no_python_in_hot_paths(spark, name):
    """Headline analytics/dedup/text queries must stay entirely JVM-side:
    any BatchEvalPython/ArrowEvalPython in the plan means a row-at-a-time
    or per-batch Python round-trip crept into a hot path. (Multimodal is
    the one deliberate Arrow mapInPandas user and is excluded.)"""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "MapInPandas" not in plan, name


def test_pack_sequences_single_exchange(spark):
    """doc_pack_sequences: the window and the pack groupBy must share ONE
    hash partitioning on (lang, shard) — a second Exchange would mean the
    pack aggregation re-shuffles what the running-sum window already
    partitioned."""
    plan = plan_of(spark, "doc_pack_sequences")
    import re

    exchanges = [
        ln for ln in plan.splitlines() if re.match(r"\s*\(\d+\) Exchange", ln)
    ]
    assert len(exchanges) == 1, plan[:3000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_upsert_broadcasts_changeset(spark):
    """customer_balance_merge: the changeset side of the full-outer MERGE
    join is marked broadcast; the dimension must not shuffle for a
    changeset orders of magnitude smaller."""
    plan = plan_of(spark, "customer_balance_merge")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan[:3000]
    )


def _plan_nodes(plan) -> list:
    """Every node of a logical or (initial, pre-AQE) physical plan."""
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.initialPlan()
        nodes.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return nodes


def test_pq_encode_no_window_sort(spark):
    """The nearest-anchor kernels (PQ codes, IVF cells, the IVF-PQ
    encode) read each vector once against ONE broadcast anchor row: the
    optimized plan holds no Window and no Aggregate (no corpus x k
    argmin), the physical plan no SortMergeJoin (no id join), and its
    only exchanges are fan_out's RoundRobin repartition and the single
    anchor BroadcastExchange."""
    from pyspark.sql import functions as F

    from bigdata_capstone_spark.operators.simsearch import (
        assign_cells,
        ivfpq_encode_prf,
        pq_codes_prf,
        prf_medoids,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    kernels = {
        "pq_codes_prf": pq_codes_prf(emb, dim=64, m=16, k_codes=32),
        "assign_cells": assign_cells(emb, prf_medoids(emb, 16)),
        "ivfpq_encode_prf": ivfpq_encode_prf(
            emb.filter(F.col("vec_id") >= 400), dim=64, m=16, k_codes=32,
            n_centroids=16, train_on=base,
        ),
    }
    for name, df in kernels.items():
        qe = df._jdf.queryExecution()
        logical = {n.nodeName() for n in _plan_nodes(qe.optimizedPlan())}
        assert not logical & {"Window", "Aggregate"}, (name, logical)
        physical = _plan_nodes(qe.executedPlan())
        names = [n.nodeName() for n in physical]
        assert "SortMergeJoin" not in names, (name, names)
        assert names.count("BroadcastExchange") == 1, (name, names)
        shuffles = [n.toString() for n in physical if n.nodeName() == "Exchange"]
        assert all(
            sh.startswith("Exchange RoundRobinPartitioning") for sh in shuffles
        ), (name, shuffles)


def test_bpe_vocab_collapse_before_pairs(spark):
    """bpe_merge_pairs must aggregate the corpus to its vocabulary BEFORE
    exploding pairs: the plan's explode (Generate) node must sit above
    the word-count aggregate, never directly on the scan."""
    plan = plan_of(spark, "bpe_merge_pairs")
    gen = plan.find("Generate")          # first explode = token explode
    # the pair explode is the SECOND Generate; the word-count HashAggregate
    # must appear between the two
    second_gen = plan.find("Generate", gen + 1)
    agg_between = plan.find("HashAggregate", gen, second_gen)
    assert gen >= 0 and second_gen > gen, plan[:2000]
    assert agg_between > 0, plan[:2000]


def test_partition_pruning_reaches_scan(spark):
    """events_partition_pruned_windows reads a date-partitioned layout
    with a partition-column range filter: the scan must carry it as
    PartitionFilters (directory pruning at planning time), NOT as a
    post-scan data filter — and the pruned scan must touch only the 7
    requested day-directories."""
    import re

    plan = plan_of(spark, "events_partition_pruned_windows")
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("event_date" in p for p in pf), plan[:3000]
    # the partition predicate must NOT degrade into a row-level filter
    df_filters = re.findall(r"DataFilters: \[([^\]]*)\]", plan)
    assert all("event_date" not in d for d in df_filters), plan[:3000]
    # count the day-directories the scan will open: 7 of ~30
    m = re.search(r"partition count: (\d+)", plan)
    if m:
        assert int(m.group(1)) == 7, plan[:3000]


def test_bucketed_join_no_exchange(spark):
    """bucketed_order_revenue joins two tables bucketBy'd on the join key
    and groups by that key: the physical plan must contain ZERO shuffle
    Exchange nodes — the on-disk hash distribution replaces every
    shuffle. (BroadcastExchange would also be absent: the join is hinted
    merge precisely so the property is the bucketing, not a broadcast.)"""
    import re

    plan = plan_of(spark, "bucketed_order_revenue")
    exchanges = [
        ln
        for ln in plan.splitlines()
        if re.match(r"\s*\(\d+\) (Broadcast)?Exchange", ln)
    ]
    assert exchanges == [], plan[:3000]
    assert "SortMergeJoin" in plan, plan[:2000]


def test_stratified_sample_pick_is_cutoff_filtered(spark):
    """documents_stratified_sample's ranking window must take the
    broadcast-cutoff-filtered survivor set as input, not the raw
    corpus: the optimized plan's Window child subtree must contain the
    ``__cutoff`` comparison filter and the collected LocalRelation it
    joins against (r8 verdict Wrong #1 re-plan)."""
    df = QUERIES["documents_stratified_sample"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    i_win = plan.index("Window")
    below = plan[i_win:]
    assert "__cutoff" in below, plan[:3000]
    assert "LocalRelation" in below or "LogicalRDD" in below, plan[:3000]


def test_token_budget_windows_are_slice_partitioned(spark):
    """docs_token_budget_fill (re-planned r9): no Python evals anywhere,
    and the corpus-sized running-sum window must partition by
    (source, __pid) — the grouped_prefix_sum slice recipe — never by
    source alone (the low-cardinality funnel the gate exists for). The
    only source-partitioned window allowed is the offset stitch over
    the bounded (source, slice)-totals aggregate."""
    plan = plan_of(spark, "docs_token_budget_fill")
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan, (
        plan[:2000]
    )
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*?)ASC NULLS", plan)
    assert specs, plan[:2000]
    # every corpus window spec that mentions source must also carry the
    # slice id; the offsets window orders by __pid (bounded aggregate)
    for s in specs:
        if "source" in s:
            assert "__pid" in s, s
