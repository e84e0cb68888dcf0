"""Dataset drift monitoring — Population Stability Index between two
snapshots of a stream.

The monitoring op a 100 TB ingest pipeline runs between corpus epochs:
did the value distribution of what we collected this period move from
last period? PSI = sum over bins (p2 - p1) * ln(p2 / p1); the standard
alerting rule reads < 0.1 stable / 0.1-0.25 drifting / > 0.25 shifted.

Scale shape: ONE scan of the fact table tagging each row with its
(group, bin, period); one map-side-combined groupBy produces the
per-group-per-bin contingency table — bounded by |groups| x |bins| x 2
regardless of input size (and mergeable across shards: counts add, so
the table maintains incrementally per ingest batch). The PSI fold then
runs on that tiny frame. No window, no second scan, no driver loop.

Determinism (oracle contract): bin probabilities are add-one-smoothed
ratios of exact integers; each bin's PSI term is rounded to 6 dp and
the per-group total accumulates in integer micro-units (the engine's
standard transcendental discipline — see functions/portable.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fixed_width_bin(value: Column, width: float, n_bins: int) -> Column:
    """Clamped fixed-width bin index 0..n_bins-1. Fixed (data-independent)
    edges keep binning a pure map — a quantile-based binning would need a
    global pass; use operators/sketches.quantiles_from_bins for that."""
    return F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor(value / width).cast("int")),
    )


def psi_by_group(
    df: DataFrame,
    period_col: Column,
    value_col: str = "value",
    group_cols: tuple[str, ...] = ("event_type",),
    width: float = 50.0,
    n_bins: int = 10,
) -> DataFrame:
    """PSI of ``value_col``'s binned distribution between the two periods
    named by ``period_col`` (a boolean column: False = baseline period 1,
    True = comparison period 2), per ``group_cols``.

    Returns (group..., n_p1, n_p2, psi_r) with psi_r rounded to 6 dp.
    Smoothing: p_i(bin) = (c_i(bin) + 1) / (n_i + n_bins), so a bin
    that is empty in ONE period contributes a finite term. Bins empty
    in BOTH periods produce no contingency row at all and are excluded
    from the sum — a deliberate deviation from the densified all-bins
    smoothed definition (whose both-empty terms are nonzero whenever
    n1 != n2): the contingency table stays data-sized and mergeable,
    and the oracle replays the identical exclusion, so engines agree
    bit-for-bit. Callers needing the densified definition should
    pre-densify the contingency frame before the fold.
    """
    gc = list(group_cols)
    binned = df.select(
        *gc,
        period_col.alias("p2"),
        fixed_width_bin(F.col(value_col), width, n_bins).alias("bin"),
    )
    # |groups| x |bins| contingency table — the only shuffle.
    cont = binned.groupBy(*gc, "bin").agg(
        F.sum(F.when(F.col("p2"), 0).otherwise(1)).alias("c1"),
        F.sum(F.when(F.col("p2"), 1).otherwise(0)).alias("c2"),
    )
    return psi_from_contingency(cont, gc, n_bins)


def psi_from_contingency(
    cont: DataFrame,
    group_cols: list[str],
    n_bins: int,
) -> DataFrame:
    """The PSI fold over an already-built (group..., bin, c1, c2)
    contingency table — factored out because the table is MERGEABLE
    state (counts add across corpus shards and micro-batches), so a
    streaming maintenance twin can fold per-batch partials into a
    snapshot and hand the drained table to this exact computation.
    Runs entirely on the bounded |groups| x |bins| frame."""
    gc = list(group_cols)
    tot = cont.groupBy(*gc).agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    terms = cont.join(tot, gc).select(
        *gc,
        "n1",
        "n2",
        F.round(
            (
                (F.col("c2") + 1.0) / (F.col("n2") + n_bins)
                - (F.col("c1") + 1.0) / (F.col("n1") + n_bins)
            )
            * F.log(
                ((F.col("c2") + 1.0) / (F.col("n2") + n_bins))
                / ((F.col("c1") + 1.0) / (F.col("n1") + n_bins))
            ),
            6,
        ).alias("term"),
    )
    return terms.groupBy(*gc, "n1", "n2").agg(
        (
            F.sum(F.round(F.col("term") * 1_000_000, 0).cast("long"))
            / F.lit(1_000_000.0)
        ).alias("psi_r")
    )


def group_mean_vectors(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """(group, n, centroid ARRAY<DOUBLE>) per-group DECIMAL-exact mean
    vector: positional explode -> (group, dim) hash agg with
    DECIMAL(28,14) accumulation -> in-order re-collect, each mean
    rounded to 8 dp — the same any-engine determinism contract (and the
    same plan shape) as the k-means update. Map-side combinable; the
    output is group-count-sized."""
    return (
        df.select(
            F.col(group_col).alias("__g"),
            F.posexplode(F.col(vec_col)).alias("__i", "__v"),
        )
        .groupBy("__g", "__i")
        .agg(
            F.sum(
                F.col("__v").cast("double").cast("decimal(28,14)")
            ).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "__g",
            "__i",
            "__n",
            F.round(F.col("__s").cast("double") / F.col("__n"), 8).alias(
                "__m"
            ),
        )
        .groupBy("__g")
        .agg(
            F.max("__n").cast("long").alias("n"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("__i", "__m"))),
                lambda s: s["__m"],
            ).alias("centroid"),
        )
        .select(F.col("__g").alias(group_col), "n", "centroid")
    )


def embedding_centroid_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    group_col: str = "source",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic drift per group between two crawl snapshots: the cosine
    between the group's DECIMAL-exact mean embedding in snapshot A and
    in snapshot B (1.0 = the source still writes about the same things;
    the monitoring twin of the lexical PSI drift — PSI sees token
    distributions move, this sees the embedding distribution move, and
    catches paraphrase-level shift PSI can't).

    Returns (group, n_a, n_b, centroid_cos_r) for groups present in
    BOTH snapshots. Scale shape: each snapshot collapses map-side to
    one |groups| x dim frame; the join and cosine are group-sized. The
    100 TB cost is two corpus scans — or zero marginal, because the
    (group, dim) partial sums are mergeable counters a streaming ingest
    can maintain exactly like the df/HLL/CMS families."""
    from bigdata_capstone_spark.functions.portable import (
        cosine_similarity_col,
    )

    a = group_mean_vectors(emb_a, group_col, vec_col).select(
        group_col, F.col("n").alias("n_a"), F.col("centroid").alias("__ca")
    )
    b = group_mean_vectors(emb_b, group_col, vec_col).select(
        group_col, F.col("n").alias("n_b"), F.col("centroid").alias("__cb")
    )
    return a.join(b, group_col).select(
        group_col,
        "n_a",
        "n_b",
        F.round(
            cosine_similarity_col(F.col("__ca"), F.col("__cb")), 6
        ).alias("centroid_cos_r"),
    )


def ks_statistic(
    df: DataFrame,
    period_col: Column,
    value_col: Column,
    bin_width: float,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the rows where
    ``period_col`` is false (sample A) and true (sample B), computed
    from the same mergeable fixed-width histogram the PSI monitor uses
    — the third drift lens (PSI sees per-bin mass ratios, the centroid
    cosine sees semantic direction, KS sees the WORST single point of
    cumulative-distribution divergence, the right alarm for a shifted
    tail that leaves most bins' ratios calm).

    D = max over bin edges of |CDF_A − CDF_B|, evaluated exactly: the
    running counts cross-multiply in BIGINT (|cum_a·n_b − cum_b·n_a|),
    the max and its arg (tie: smallest bin) are integer decisions, and
    the single division to [0, 1] happens once on the final row.
    Returns (n_a, n_b, ks_d_r, at_upper_r) — at_upper_r is the bin
    upper edge where the supremum is attained.

    Scale shape: ONE scan tags (period, bin); a map-side-combined
    groupBy yields the |bins|x2 contingency (mergeable across shards —
    counts add, so a streaming ingest maintains it like the PSI
    state); the cumulative window runs over the bin-sized frame under
    a constant partition key (the sanctioned global-window route)."""
    binned = df.select(
        F.lit("all").alias("__s"),
        F.when(period_col, F.lit("b")).otherwise(F.lit("a")).alias("__p"),
        F.floor(value_col / F.lit(bin_width)).cast("long").alias("bin"),
    )
    # the scope key joins the GROUP BY so it reaches the windows as an
    # aggregation-output attribute: a bare withColumn(lit) partition
    # key gets constant-folded out of the window spec entirely, which
    # plans the banned unpartitioned WindowExec (plan-shape test.
    # caught it); a grouping attribute survives. Window width is still
    # bounded by the bin count either way.
    # the cache is an optimizer barrier (relational.constant_scope):
    # without it FoldablePropagation pushes the literal scope THROUGH
    # the aggregate and still folds the window's partition spec away
    # (plan-shape test caught both variants). Bin-sized frame — bytes.
    cont = binned.groupBy("__s", "bin").agg(
        F.sum(F.when(F.col("__p") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("__p") == "b", 1).otherwise(0)).alias("cb"),
    ).cache()
    w_cum = (
        Window.partitionBy("__s")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("__s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cont.select(
        "__s",
        "bin",
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
    ).select(
        "__s",
        "bin",
        "cum_a",
        "cum_b",
        F.max("cum_a").over(w_tot).alias("n_a"),
        F.max("cum_b").over(w_tot).alias("n_b"),
    )
    diff = cum.select(
        "__s",
        "bin",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("__d"),
    )
    from bigdata_capstone_spark.operators.relational import grouped_top_k

    best = grouped_top_k(
        diff,
        ["__s"],
        [F.desc("__d"), F.col("bin")],
        1,
        rank_col="__rn",
    )
    # Degenerate convention: if either period is empty (n_a or n_b = 0)
    # the two-sample statistic is undefined — pin ks_d_r to 0.0 (no
    # comparable mass, no measurable divergence) instead of a silent
    # NULL; the row still carries n_a/n_b, so a monitor alarms on the
    # empty side explicitly rather than mis-reading NULL as "no drift".
    return best.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(F.col("__d") / (F.col("n_a") * F.col("n_b")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("ks_d_r"),
        F.round((F.col("bin") + 1) * bin_width, 6).alias("at_upper_r"),
    )
