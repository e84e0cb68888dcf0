"""Iterative graph algorithms as DataFrame loops.

Companion to the connected-components labeler in operators/dedup.py: that
one iterates to a fixed point; PageRank here runs a FIXED number of
rounds so the DuckDB oracle can unroll the loop into chained CTEs and
value-check every iteration's arithmetic (SURVEY §5.2 — even iterative
ops get real oracles where expressible).

Determinism: ranks live as doubles, but every per-node sum of neighbor
contributions is accumulated as DECIMAL(28,14) (exact, associative) and
only then cast back to double — the same money-sum discipline as
functions/portable.exact_sum, extended to an iterative fixed-round
computation. Each iteration is therefore bit-identical between Spark's
partitioned partial aggregation and DuckDB's serial scan.

Scale: each iteration is one shuffle (groupBy dst). Edges and degrees
are computed once and cached; the rank frame stays (node, rank) — the
graph itself never re-shuffles. Each round's frame is truncated with
:func:`operators.ckpt.truncate`, so round k never re-executes rounds
1..k-1; the edge caches are released before the operator returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_capstone_spark.operators.ckpt import truncate


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, outdeg) for a directed edge list (src, dst)."""
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst), fixed rounds.

    Assumes no dangling nodes (every node has ≥1 out-edge) — true for
    any symmetrized/undirected graph, which is how the catalog uses it.
    Returns (node, rank) with ranks summing to ~1.

    Physical strategy: the node-sized frames (degrees, ranks) are tiny
    relative to edges — one row per node. When they fit a broadcast
    (at most 2M nodes), each round is a map-only pass over the cached,
    never-reshuffled edge list plus ONE shuffle whose input is already
    combined map-side to ≤ partitions × |dst| rows. Checkpointed rank
    frames carry no catalyst size stats, so without the explicit hint
    the planner would fall back to sort-merge-joining the edge list
    every round — full-width exchanges of the biggest frame, 3× over. Beyond broadcast size, the shuffle
    join is the honest cost: rank vectors of 1e9 nodes don't fit an
    executor, and each round pays an edges⋈ranks exchange (bucketing
    edges by src would remove even that in a persisted-table setting).
    """
    edges = edges.select("src", "dst").cache()
    edges_wd = None
    try:
        deg = out_degrees(edges)
        n = deg.count()  # scalar: node count (every node has out-edges)
        base = (1.0 - damping) / n
        hint = F.broadcast if n <= 2_000_000 else (lambda df: df)

        # Pre-divide by out-degree once: (src, dst, outdeg) never changes.
        edges_wd = edges.join(hint(deg), "src").cache()

        ranks = deg.select(
            F.col("src").alias("node"), F.lit(1.0 / n).alias("rank")
        )
        for _ in range(iterations):
            contrib = edges_wd.join(
                hint(ranks), F.col("node") == F.col("src")
            ).select(
                F.col("dst"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(28,14)")
                .alias("contrib"),
            )
            ranks = contrib.groupBy("dst").agg(
                (
                    F.lit(base)
                    + F.lit(damping) * F.sum("contrib").cast("double")
                ).alias("rank")
            ).select(F.col("dst").alias("node"), "rank")
            # Eagerly truncate lineage: without this, round k re-executes
            # rounds 1..k-1 (same pathology as dedup.connected_components)
            # — total work O(k²) joins instead of O(k).
            ranks = truncate(ranks)
        return ranks
    finally:
        edges.unpersist()
        if edges_wd is not None:
            edges_wd.unpersist()


def pagerank_unrolled_sql(
    edges_cte: str, iterations: int = 3, damping: float = 0.85
) -> str:
    """DuckDB twin of :func:`pagerank`: the loop unrolled into CTEs.

    ``edges_cte`` must define a relation ``edges(src, dst)``.
    """
    parts = [
        f"WITH edges AS ({edges_cte})",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM deg)",
        "r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS ("
            f"SELECT e.dst AS node, "
            f"{1.0 - damping} / (SELECT n FROM nn) + {damping} * "
            f"(sum(CAST(r.rank / d.outdeg AS DECIMAL(28,14)))::DOUBLE) AS rank "
            f"FROM edges e "
            f"JOIN r{i - 1} r ON r.node = e.src "
            f"JOIN deg d ON d.src = e.src "
            f"GROUP BY e.dst)"
        )
    return ",\n    ".join(parts) + f"\n    SELECT node, rank FROM r{iterations}"


def ring_of_cliques(
    spark, n_cliques: int = 6, size: int = 20
) -> DataFrame:
    """Deterministic community fixture: ``n_cliques`` cliques of
    ``size`` nodes (node i belongs to clique i // size), consecutive
    cliques joined by ONE bridge edge (last node of q → first node of
    q+1, ring-closed). The generative formula is replayable in SQL, so
    a label-propagation oracle can rebuild the identical graph — the
    synthetic_url_table pattern applied to graphs."""
    n = n_cliques * size
    a = spark.range(n).select(F.col("id").alias("src"))
    b = spark.range(n).select(F.col("id").alias("dst"))
    intra = a.join(
        b,
        (F.col("src") < F.col("dst"))
        & (F.floor(F.col("src") / size) == F.floor(F.col("dst") / size)),
    )
    bridges = (
        spark.range(n_cliques)
        .select(
            (F.col("id") * size + (size - 1)).alias("src"),
            (((F.col("id") + 1) % n_cliques) * size).alias("dst"),
        )
    )
    return intra.unionByName(bridges)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected graph given as a one-direction edge list, FIXED rounds,
    fully deterministic: each round every node adopts the label with
    the highest frequency in its closed neighborhood (neighbors + its
    own current label), ties broken by the SMALLEST label. Fixed
    rounds + deterministic ties let a DuckDB oracle unroll the loop
    (:func:`label_propagation_unrolled_sql`) — same contract as
    :func:`pagerank`.

    Communities vs components: connected_components (dedup.py) merges
    ANYTHING touching; LPA keeps densely-connected groups separate when
    only sparse bridges join them (frequency outvotes the bridge) —
    the distinction that matters when near-dup clusters chain through
    a few boilerplate hubs.

    Returns (node, label). Scale shape: the closed neighborhood is
    folded into the edge list ONCE — the symmetrized edges plus one
    self-loop per node — so each round references ``labels`` exactly
    once and the whole fixed-round chain stays LAZY: one join (labels
    onto edge endpoints) + one (node, label) count + one min-by argmax
    per round, all map-side-combinable aggregations keyed on the node,
    the plan growing linearly in ``rounds`` with no per-round
    materialization barrier. The self-loop casts the same single
    own-label vote as the oracle's union with the label frame.
    The edge list is the one materialized intermediate, truncated
    eagerly with :func:`operators.ckpt.truncate`. The checkpoint keeps
    the upstream (e.g. KNN-graph) lineage out of every round's plan,
    which is cheaper to plan than inlining a cached subtree once per
    round.
    """
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    # Bag-union the self-loops (NOT distinct with the edges): an input
    # self-loop, if present, keeps contributing its edge vote on top of
    # the own-label vote.
    selfloops = und.select(F.col("src"), F.col("src").alias("dst"))
    closed_edges = truncate(und.unionByName(selfloops.distinct()))
    labels = (
        closed_edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(rounds):
        closed = closed_edges.join(
            labels, closed_edges["dst"] == labels["node"]
        ).select("src", "label")
        freq = closed.repartition("src").groupBy("src", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            freq.groupBy("src")
            .agg(
                F.min_by(
                    "label",
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col("label").alias("lb"),
                    ),
                ).alias("label")
            )
            .select(F.col("src").alias("node"), "label")
        )
    return labels


def label_propagation_ctes(rounds: int = 3) -> str:
    """Composable CTE fragment (no leading WITH) unrolling the LPA loop;
    assumes a relation ``edges0(src, dst)`` is already defined by the
    enclosing chain. Ends in ``l{rounds}(node, label)``."""
    parts = [
        "edges AS (SELECT src, dst FROM edges0 "
        "UNION SELECT dst, src FROM edges0)",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"f{i} AS ("
            f"SELECT src, label, count(*) AS c FROM ("
            f"SELECT e.src, l.label FROM edges e "
            f"JOIN l{i - 1} l ON l.node = e.dst "
            f"UNION ALL SELECT node AS src, label FROM l{i - 1}"
            f") GROUP BY src, label)"
        )
        parts.append(
            f"m{i} AS (SELECT src, max(c) AS mc FROM f{i} GROUP BY src)"
        )
        parts.append(
            f"l{i} AS (SELECT f.src AS node, min(f.label) AS label "
            f"FROM f{i} f JOIN m{i} m ON m.src = f.src AND f.c = m.mc "
            f"GROUP BY f.src)"
        )
    return ",\n    ".join(parts)


def label_propagation_unrolled_sql(
    edges_cte: str, rounds: int = 3
) -> str:
    """DuckDB twin of :func:`label_propagation`: the loop unrolled.

    ``edges_cte`` must define a relation with columns (src, dst)."""
    return (
        f"WITH edges0 AS ({edges_cte}),\n    "
        + label_propagation_ctes(rounds)
        + f"\n    SELECT node, label FROM l{rounds}"
    )


def hits(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """HITS (Kleinberg 1999, "Authoritative sources in a hyperlinked
    environment") over a directed edge list (src, dst), FIXED rounds,
    L1-normalized — hubs point at good authorities, authorities are
    pointed at by good hubs. Complements :func:`pagerank` for crawl
    prioritization: PageRank surfaces globally popular hosts, HITS
    separates directory/portal hosts (hubs) from content hosts
    (authorities), which is the distinction a frontier scheduler wants
    when budgeting fetches between discovery and harvest.

    Round structure: auth(v) = Σ_{u→v} hub(u), normalized to sum 1;
    then hub(u) = Σ_{u→v} auth(v), normalized to sum 1. Every sum —
    per-node contributions AND the normalization total — accumulates as
    DECIMAL(28,14) before the cast back to double, so each round is
    bit-identical between Spark's partitioned partial aggregation and
    DuckDB's serial scan (:func:`hits_unrolled_sql` unrolls the loop).
    L1 (not the classical L2) keeps the normalizer inside exact decimal
    arithmetic — no sqrt of a partition-order-dependent double.

    Nodes with no in-edges hold auth 0, nodes with no out-edges hold
    hub 0 (the zero rows are materialized, not dropped). Returns
    (node, hub, auth).

    Scale shape: the edge list is cached and never re-shuffles; each
    half-round is one edges⋈scores join plus one groupBy on the
    receiving endpoint (map-side combined, node-sized output) plus a
    1-row total. The score frames stay (node, value). Lineage truncates
    per round with :func:`operators.ckpt.truncate`.
    """
    edges = edges.select("src", "dst").cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # Zero-fill first so the frame stays node-sized and total is
        # over the same row set as the oracle's LEFT JOIN.
        full = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(F.col(col), F.lit(0.0)).alias(col)
        )
        tot = full.agg(
            F.sum(F.col(col).cast("decimal(28,14)"))
            .cast("double")
            .alias("__tot")
        )
        return full.crossJoin(F.broadcast(tot)).select(
            "node", (F.col(col) / F.col("__tot")).alias(col)
        )

    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = nodes.withColumn("auth", F.lit(0.0))
    try:
        for _ in range(iterations):
            auth_raw = (
                edges.join(hub, edges["src"] == hub["node"])
                .groupBy("dst")
                .agg(
                    F.sum(F.col("hub").cast("decimal(28,14)"))
                    .cast("double")
                    .alias("auth")
                )
                .select(F.col("dst").alias("node"), "auth")
            )
            auth = truncate(_normalize(auth_raw, "auth"))
            hub_raw = (
                edges.join(auth, edges["dst"] == auth["node"])
                .groupBy("src")
                .agg(
                    F.sum(F.col("auth").cast("decimal(28,14)"))
                    .cast("double")
                    .alias("hub")
                )
                .select(F.col("src").alias("node"), "hub")
            )
            hub = truncate(_normalize(hub_raw, "hub"))
        return hub.join(auth, "node")
    finally:
        edges.unpersist()
        nodes.unpersist()


def hits_unrolled_sql(edges_cte: str, iterations: int = 3) -> str:
    """DuckDB twin of :func:`hits`: the loop unrolled into CTEs.

    ``edges_cte`` must define a relation ``edges(src, dst)``."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        "h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"ar{i} AS (SELECT e.dst AS node, "
            f"sum(CAST(h.hub AS DECIMAL(28,14)))::DOUBLE AS auth "
            f"FROM edges e JOIN h{i - 1} h ON h.node = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"af{i} AS (SELECT n.node, "
            f"coalesce(a.auth, 0.0)::DOUBLE AS auth "
            f"FROM nodes n LEFT JOIN ar{i} a ON a.node = n.node)"
        )
        parts.append(
            f"a{i} AS (SELECT node, auth / (SELECT "
            f"sum(CAST(auth AS DECIMAL(28,14)))::DOUBLE FROM af{i}) "
            f"AS auth FROM af{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT e.src AS node, "
            f"sum(CAST(a.auth AS DECIMAL(28,14)))::DOUBLE AS hub "
            f"FROM edges e JOIN a{i} a ON a.node = e.dst "
            f"GROUP BY e.src)"
        )
        parts.append(
            f"hf{i} AS (SELECT n.node, "
            f"coalesce(h.hub, 0.0)::DOUBLE AS hub "
            f"FROM nodes n LEFT JOIN hr{i} h ON h.node = n.node)"
        )
        parts.append(
            f"h{i} AS (SELECT node, hub / (SELECT "
            f"sum(CAST(hub AS DECIMAL(28,14)))::DOUBLE FROM hf{i}) "
            f"AS hub FROM hf{i})"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT h.node, h.hub, a.auth "
        f"FROM h{iterations} h JOIN a{iterations} a ON a.node = h.node"
    )


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Minimum-hop distance from a seed set over a directed edge list,
    FIXED rounds of frontier relaxation — the crawl-depth computation
    behind "fetch everything within k clicks of the seed list" (the
    classic crawl-budget boundary; Common Crawl and every focused
    crawler cut the frontier by hop count). Nodes not reached within
    ``rounds`` hops are absent from the result — the honest semantics
    (an unreached node has no depth, not depth ∞).

    ``seeds`` is a one-column (node) frame. Returns (node, depth) with
    depth 0 for seeds. All arithmetic is integer — exact on any engine;
    the DuckDB twin (:func:`bfs_depths_unrolled_sql`) unrolls the
    relaxation.

    Scale shape: the edge list is cached and never re-shuffles; each
    round is one edges⋈depths join (candidate depth = src depth + 1)
    plus one min-groupBy on the node key — map-side combined,
    node-sized output. This is Bellman-Ford-style relaxation, not a
    delta-frontier BFS: at k ≤ a handful of rounds the full join is one
    shuffle per round and needs no visited-set bookkeeping; a
    1000-round traversal would want the delta-frontier variant instead.
    Lineage truncates per round with :func:`operators.ckpt.truncate`.
    """
    edges = edges.select("src", "dst").cache()
    depths = seeds.select("node").distinct().withColumn(
        "depth", F.lit(0)
    )
    try:
        for _ in range(rounds):
            relaxed = (
                edges.join(depths, edges["src"] == depths["node"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("depth") + F.lit(1)).alias("depth"),
                )
            )
            depths = truncate(
                depths.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("depth").alias("depth"))
            )
        return depths
    finally:
        edges.unpersist()


def bfs_depths_unrolled_sql(
    edges_cte: str, seeds_cte: str, rounds: int = 3
) -> str:
    """DuckDB twin of :func:`bfs_depths`: the relaxation unrolled.

    ``edges_cte`` must define (src, dst); ``seeds_cte`` one column
    ``node``."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        f"d0 AS (SELECT DISTINCT node, 0 AS depth FROM ({seeds_cte}))",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS (SELECT node, min(depth) AS depth FROM ("
            f"SELECT node, depth FROM d{i - 1} "
            f"UNION ALL "
            f"SELECT e.dst AS node, d.depth + 1 AS depth "
            f"FROM edges e JOIN d{i - 1} d ON d.node = e.src"
            f") GROUP BY node)"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT node, depth FROM d{rounds}"
    )
