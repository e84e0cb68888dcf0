"""PageRank invariants (the oracle proves cross-engine equality; these
prove the numbers behave like PageRank)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_capstone_spark.operators.graph import out_degrees, pagerank


def _sym_edges(spark, pairs):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    return df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_pagerank_mass_conserved(spark):
    # Undirected triangle + pendant: total rank mass stays 1 every round.
    edges = _sym_edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    ranks = pagerank(edges, iterations=3)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9
    assert ranks.count() == 4


def test_pagerank_hub_wins(spark):
    # Star graph: the hub must out-rank every leaf.
    edges = _sym_edges(spark, [("hub", f"leaf{i}") for i in range(6)])
    rows = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    assert all(rows["hub"] > v for k, v in rows.items() if k != "hub")
    leaf_ranks = [v for k, v in rows.items() if k != "hub"]
    assert max(leaf_ranks) - min(leaf_ranks) < 1e-12  # symmetry

def test_uniform_on_regular_graph(spark):
    # On a cycle (2-regular), PageRank is exactly uniform at every round.
    n = 5
    edges = _sym_edges(spark, [(f"v{i}", f"v{(i + 1) % n}") for i in range(n)])
    rows = pagerank(edges, iterations=2).collect()
    for r in rows:
        assert abs(r.rank - 1.0 / n) < 1e-12


def test_out_degrees(spark):
    edges = _sym_edges(spark, [("a", "b"), ("a", "c")])
    degs = {r.src: r.outdeg for r in out_degrees(edges).collect()}
    assert degs == {"a": 2, "b": 1, "c": 1}


def test_graph_entries_release_their_caches(spark, sf_small):
    """Every frame the graph operators return is eagerly truncated, so
    the edge and node caches they build are released before they
    return: the registry entries on them leave the CacheManager empty."""
    from bigdata_capstone_spark.catalog import QUERIES

    spark.catalog.clearCache()
    for name in (
        "domain_pagerank",
        "purchase_graph_pagerank",
        "domain_hits",
        "crawl_depth_from_seeds",
        "domain_components",
        "graph_label_propagation",
    ):
        assert QUERIES[name](spark, sf_small).collect(), name
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
