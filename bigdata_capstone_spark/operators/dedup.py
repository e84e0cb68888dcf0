"""Deduplication suite for LLM-data pipelines (north star; BASELINE.json).

Five dedup families over ``documents``, each designed for the 100 TB path:

- :func:`exact_dedup` — md5(text) hash-groupBy; one shuffle on a short key.
- :func:`minhash_signatures` + :func:`lsh_candidate_pairs` — MinHash + LSH
  banding: shingle → n_perm min-hashes → band buckets → equi-join. The
  shuffle is on band keys, never on document pairs; candidate verification
  joins only within buckets.
- :func:`simhash_signatures` — 60-bit SimHash (per-bit majority vote of
  token hashes); equal-signature grouping or small-radius probing.
- :func:`ngram_jaccard_pairs` — exact word-n-gram Jaccard via co-occurrence
  join (the brute-force oracle for the approximate families).
- embedding cosine near-dup lives in :mod:`.simsearch` (same machinery as
  similarity search).

The set-Jaccard near-dup operators are compositions of ONE core of three
private helpers: :func:`_bucket_pairs` (candidate generation, the
band-bucket join), :func:`_small_buckets` (the hot-bucket cap — the frame
passed as counted IS the cap rule) and :func:`_jaccard_verify` (the exact
Jaccard verify, Broder 1997, of candidate or co-occurring pairs).

Hash portability: every hash is md5-derived (functions.portable) so DuckDB
oracles reproduce values bit-for-bit. At raw-throughput scale you'd swap
``xxhash64`` in via ``hash_expr`` — the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_capstone_spark.functions.portable import md5_long, perm_md5_long
from bigdata_capstone_spark.operators.ckpt import materialize, truncate
from bigdata_capstone_spark.operators.relational import fan_out  # noqa: F401
from bigdata_capstone_spark.operators.textops import tokens_col


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: (keep_id = min id, text_hash, n_copies)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_col(tok_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles over a MATERIALIZED token-array column.

    Takes the token array (not raw text) deliberately: if the ``split()``
    expression itself appears inside the per-element ``transform`` lambda,
    codegen re-tokenizes the document once per shingle — measured 40× slower
    at sf0.1 (18s → 0.3s). Callers materialize tokens in their own
    projection (:func:`tokenized`) and pass the attribute.

    Guarded for short texts: Spark's ``sequence(1, 0)`` would generate a
    *descending* [1, 0] rather than an empty range, so documents with fewer
    than n tokens explicitly yield an empty shingle set.
    """
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(n)]
    )
    return F.when(F.size(t) >= n, F.array_distinct(
        F.transform(idx, gram)
    )).otherwise(F.array().cast("array<string>"))


def tokenized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    tok_col: str = "toks",
) -> DataFrame:
    """(id, tok_col) projection with the token array materialized as its own
    attribute, so downstream per-element lambdas don't re-run the split."""
    return df.select(F.col(id_col), tokens_col(text_col).alias(tok_col))


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """One (id, sh) row per distinct word n-gram shingle per document."""
    toks = tokenized(fan_out(df), text_col, id_col)
    return toks.select(
        F.col(id_col), F.explode(shingles_col("toks", shingle_n)).alias("sh")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{n_perm-1}) MinHash signature over word shingles.

    One explode + one groupBy(id) with n_perm ``min`` aggregates — a single
    shuffle keyed by document id; partial aggregation keeps the map-side
    state at n_perm longs per doc.
    """
    exploded = exploded_shingles(df, text_col, id_col, shingle_n)
    return _signatures_from_shingles(exploded, id_col, n_perm)


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, n_perm: int
) -> DataFrame:
    """Signature aggregation over an already-exploded (id, sh) frame."""
    return sh.groupBy(id_col).agg(
        *[
            F.min(perm_md5_long(F.col("sh"), p)).alias(f"h{p}")
            for p in range(n_perm)
        ]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` groups of
    ``n_perm/bands`` rows; docs sharing any band bucket become a candidate
    pair (idA < idB, dedup'd across bands).

    Scale shape: explode to (band, bucket_key) — |docs|·bands rows — then
    the bucket self-join (:func:`_bucket_pairs`). ``max_bucket_size``
    drops hot buckets (boilerplate docs, empty documents — the quadratic
    blow-up risk) BEFORE the pair join (:func:`_small_buckets`).
    """
    buckets = _band_buckets(sigs, n_perm, bands, id_col)
    return _bucket_pairs(
        _small_buckets(buckets, buckets, max_bucket_size), id_col
    )


def _bucket_pairs(
    bk_a: DataFrame, id_col: str, a: str = "idA", b: str = "idB",
    bk_b: DataFrame | None = None, key: tuple[str, ...] = ("bucket",),
) -> DataFrame:
    """Candidate generation: distinct (a, b) id pairs sharing a band
    bucket — bk_a ⋈ bk_b on the ``key`` columns, or with no ``bk_b`` the
    self-join of ``bk_a`` keeping a < b."""
    left = bk_a.select(F.col(id_col).alias(a), *key)
    right = (bk_a if bk_b is None else bk_b).select(
        F.col(id_col).alias(b), *key
    )
    pairs = left.join(right, on=list(key))
    if bk_b is None:
        pairs = pairs.filter(F.col(a) < F.col(b))
    return pairs.select(a, b).distinct()


def _small_buckets(
    bk: DataFrame, counted: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """The hot-bucket cap: the rows of ``bk`` whose bucket holds at most
    ``max_bucket_size`` rows of ``counted`` (all of ``bk`` when None),
    bounding the pair join's fan-out at cap² per bucket. Which frame is
    counted IS the cap rule: a self-join counts its own buckets, the
    cross-corpus join both sides, the incremental join the persisted
    corpus side only. Documents in an over-full bucket still pair
    through their other bands: a cap trades a little recall for
    quadratic cost (the connected-components closure recovers
    top-of-cluster links as long as SOME chain of capped buckets joins
    them).

    The count is a ``groupBy(bucket).count`` + semi-join back — NOT a
    ``count(*) OVER (PARTITION BY bucket)`` window, which would funnel
    every row of the hottest bucket into a single window task (the exact
    straggler the cap exists to defuse); the groupBy partial-aggregates
    map-side, so the hot key arrives at the reducer as a handful of
    partial counts, and the semi-join shares the bucket-key shuffle the
    pair join needs anyway."""
    if max_bucket_size is None:
        return bk
    small = (
        counted.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .filter(F.col("__bucket_n") <= max_bucket_size)
        .select("bucket")
    )
    return bk.join(small, on="bucket", how="left_semi")


def _jaccard_verify(
    cands: DataFrame | None, side_a: DataFrame, side_b: DataFrame,
    min_jaccard: float, id_col: str, a: str = "idA", b: str = "idB",
) -> DataFrame:
    """Exact Jaccard of (a, b) pairs over two (id_col, sh, n) sides —
    each doc's distinct shingles and their count. Candidate pairs join
    side a on a and side b on (b, sh); with ``cands=None`` the sides
    co-occurrence-join on the shingle, keeping a < b. |A∩B| is one count
    per pair; returns (a, b, jaccard) with jaccard ≥ ``min_jaccard``."""
    sa = side_a.select(F.col(id_col).alias(a), "sh", F.col("n").alias("nA"))
    sb = side_b.select(F.col(id_col).alias(b), "sh", F.col("n").alias("nB"))
    if cands is None:
        matched = sa.join(sb, on="sh").filter(F.col(a) < F.col(b))
    else:
        matched = cands.join(sa, on=a).join(sb, on=[b, "sh"])
    common = matched.groupBy(a, b, "nA", "nB").agg(
        F.count(F.lit(1)).alias("common")
    )
    jaccard = F.col("common") / (F.col("nA") + F.col("nB") - F.col("common"))
    return common.select(a, b, jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= min_jaccard
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline with exact verification: candidates
    from banding, then true shingle-Jaccard computed only for candidates
    — :func:`near_dup_pairs_from_index` over the index of this frame's
    shingles.

    ``max_bucket_size`` (default 2000) is the hot-bucket cap — ON by
    default because this is the production entry point and an uncapped
    banding join is the documented quadratic risk at 100 TB (a
    boilerplate storm puts millions of docs in one bucket → cap² =
    bounded ~4M pairs instead of 10¹²). Pass ``None`` to disable when
    the corpus is known clean.

    The exploded shingle frame feeds three consumers (signatures, sizes,
    the verify join's two sides) — it goes through
    :func:`~bigdata_capstone_spark.operators.ckpt.materialize` so
    tokenize/shingle/hash runs ONCE, not per branch (round 2, sf0.1:
    398s recomputed → ~20s with ``.cache()``), and no cached relation is
    left behind for the caller to release. Against ``.cache()`` at sf0.1
    (4 cores, 10 interleaved process pairs, local path): 14.3 → 10.4 s
    first run, 6.7 → 3.9 s warm; exec jobs 25 → 10 plus one build job
    (AQE runs the ``fan_out`` exchange when the checkpoint is created);
    no spill either way. The trade: the blocks are row copies, 26.6 MB
    held vs 5.2 MB for the compressed columnar cache.

    Measured dead end (round 4, n=5 at sf0.1): semi-joining the shingle
    frame down to candidate doc ids before the verify join — the
    "obvious" shuffle-volume cut — ran 4.4s steady vs 2.9s for this
    shape, because materializing candidates as a barrier stage costs
    more than the verify join's candidate-key-filtered shuffles save
    (the cands⋈a broadcast already prunes the probe side; only the
    b-side shingle shuffle is corpus-wide, and it overlaps other
    stages). Revisit only if profiling a REAL corpus shows the b-side
    shuffle dominating."""
    sh = materialize(exploded_shingles(df, text_col, id_col, shingle_n))
    index = _index_from_shingles(sh, id_col, n_perm, bands)
    return near_dup_pairs_from_index(
        index, id_col, min_jaccard, max_bucket_size
    )


def _band_buckets(
    sigs: DataFrame, n_perm: int, bands: int, id_col: str
) -> DataFrame:
    """(id, bucket) rows: md5-derived bucket key per signature band."""
    rows = n_perm // bands
    band_keys = [
        md5_long(
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"h{b * rows + r}").cast("string") for r in range(rows)],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    keyed = sigs.select(F.col(id_col), *band_keys)
    return keyed.select(
        id_col,
        F.explode(
            F.array(*[F.col(f"band{b}") for b in range(bands)])
        ).alias("bucket"),
    )


def cross_corpus_near_dup_pairs(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """MinHash-LSH near-dup join BETWEEN two corpora — the decontamination
    scale path: drop training documents that near-duplicate a held-out
    reference/eval set (``benchmark_contamination`` is the exact-8-gram
    twin; this catches paraphrase-level overlap the exact scan misses).

    The bucket join is corpus × reference (never corpus × corpus), so the
    fan-out is bounded by the reference side — usually tiny next to the
    training corpus. The hot-bucket cap counts BOTH sides' members per
    bucket (an empty-doc bucket is hot regardless of which side fills
    it); see :func:`_small_buckets`.

    Returns (corpus_id, ref_id, jaccard) for verified pairs ≥ threshold.
    """
    sh_c = exploded_shingles(corpus, text_col, id_col, shingle_n).cache()
    sh_r = exploded_shingles(reference, text_col, id_col, shingle_n).cache()
    bk_c, _, sz_c = _index_from_shingles(sh_c, id_col, n_perm, bands)
    bk_r, _, sz_r = _index_from_shingles(sh_r, id_col, n_perm, bands)
    both, cap = bk_c.unionByName(bk_r), max_bucket_size
    cands = _bucket_pairs(
        _small_buckets(bk_c, both, cap), id_col, "corpus_id", "ref_id",
        bk_b=_small_buckets(bk_r, both, cap),
    )
    return _jaccard_verify(
        cands, sh_c.join(sz_c, on=id_col), sh_r.join(sz_r, on=id_col),
        min_jaccard, id_col, "corpus_id", "ref_id",
    )


def _index_from_shingles(
    sh: DataFrame, id_col: str, n_perm: int, bands: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`near_dup_index` over an already-exploded (id, sh) frame."""
    bk = _band_buckets(
        _signatures_from_shingles(sh, id_col, n_perm), n_perm, bands, id_col
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    return bk, sh, sizes


def near_dup_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PERSISTED MinHash-LSH index of a corpus — built once, then
    arriving batches dedup against it WITHOUT re-banding history
    (:func:`incremental_near_dup_pairs`). Returns three relations, each
    of which a production pipeline writes as a bucketed table:

    - ``buckets`` (id, bucket): band buckets for candidate generation;
    - ``shingles`` (id, sh): shingle digests for the exact-Jaccard
      verify step;
    - ``sizes`` (id, n): per-doc distinct-shingle counts (the Jaccard
      denominator), persisted so the verify never re-aggregates the
      corpus.

    This closes the last un-incremental index family: exact-dup
    digests, BM25 df, PQ, and IVF-PQ already have O(batch) maintenance
    twins; near-dup now does too.
    """
    sh = exploded_shingles(df, text_col, id_col, shingle_n)
    return _index_from_shingles(sh, id_col, n_perm, bands)


def apply_near_dup_index_delta(
    corpus_index: tuple[DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    removed_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """O(delta) maintenance of the persisted near-dup index under a
    re-crawl: drop the index rows of ``removed_ids`` (removed docs plus
    changed docs' OLD versions), append freshly-computed rows for
    ``batch`` (added docs plus changed docs' NEW text). The group law
    the other incremental twins obey (BM25 df, PQ, IVF-PQ):

        apply(index(v1), delta(v1→v2)) == index(v2), relation by
        relation, exactly — shingling/minhash/banding (the expensive
        work) runs over the DELTA only.

    The removal is an anti-join keyed on doc id over each persisted
    relation; with the index tables partitioned/bucketed by id (how
    :func:`near_dup_index` says to persist them) that is lakehouse
    MERGE shape — only touched partitions rewrite, history is never
    re-shingled. Compose upstream with reconcile.snapshot_diff: its
    'removed'+'changed' ids are ``removed_ids``, its 'added'+'changed'
    (new text) set is ``batch``.
    """
    bk, sh, sz = corpus_index
    rm = removed_ids.select(id_col).distinct()

    def keep(df: DataFrame) -> DataFrame:
        return df.join(rm, on=id_col, how="left_anti")

    b_bk, b_sh, b_sz = near_dup_index(
        batch, text_col, id_col, n_perm, bands, shingle_n
    )
    return (
        keep(bk).unionByName(b_bk),
        keep(sh).unionByName(b_sh),
        keep(sz).unionByName(b_sz),
    )


def incremental_near_dup_pairs(
    corpus_index: tuple[DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Near-dup pairs between an ARRIVING batch and an EXISTING corpus
    LSH index (:func:`near_dup_index`) — the O(batch) incremental twin
    of :func:`cross_corpus_near_dup_pairs`: only the batch is shingled,
    minhashed, and banded at arrival; the corpus contributes its three
    persisted relations untouched. Compose with the re-crawl diff
    (reconcile.snapshot_diff): its added/changed set IS the batch.

    Hot-bucket cap semantics differ deliberately from the cross-corpus
    join: the cap counts CORPUS-side members only, because (a) cap
    decisions must be a stable property of the persisted index, not of
    how arrivals happen to be batched, and (b) that is what makes the
    result BATCH-SPLIT INDEPENDENT — pairs(b1 ∪ b2) == pairs(b1) ∪
    pairs(b2) exactly, the invariant the incremental contract needs
    (combined-count capping would flip bucket verdicts with batch
    size). Per-batch fan-out stays bounded: each batch doc meets at
    most ``max_bucket_size`` corpus members per band bucket.

    Within-batch duplicates are out of scope here (run
    :func:`minhash_near_dup_pairs` on the batch itself — it is
    batch-sized); this operator answers "which arriving docs duplicate
    the EXISTING corpus".

    Scale shape: candidate generation is batch-buckets ⋈ index-buckets
    (probe side is batch-scale); the verify joins batch shingles against
    the persisted corpus shingle table keyed (id, sh) — at 100 TB that
    table is bucketed by id so the join co-locates, and the probe volume
    is candidate-pair × shingle, never corpus².

    Returns (batch_id, corpus_id, jaccard) for verified pairs ≥
    threshold.
    """
    corpus_buckets, corpus_shingles, corpus_sizes = corpus_index
    sh_b = exploded_shingles(batch, text_col, id_col, shingle_n).cache()
    bk_new, _, sz_b = _index_from_shingles(sh_b, id_col, n_perm, bands)
    cb = _small_buckets(corpus_buckets, corpus_buckets, max_bucket_size)
    return _jaccard_verify(
        _bucket_pairs(bk_new, id_col, "batch_id", "corpus_id", bk_b=cb),
        sh_b.join(sz_b, on=id_col),
        corpus_shingles.join(corpus_sizes, on=id_col),
        min_jaccard, id_col, "batch_id", "corpus_id",
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 60,
) -> DataFrame:
    """SimHash: bit j of the signature is the majority vote of bit j across
    the document's token hashes. 60 bits so the value stays a positive
    signed 64-bit long in both Spark and DuckDB.

    Bit j of a token = bit (j mod 4) of hex digit j//4 of md5(token). The
    oracle states that as per-bit string ops; Spark-side we fold the first
    15 hex chars into ONE 60-bit long (``conv``) and extract bits with
    shift/mask — mathematically identical (hex char i is the nibble at
    bits (14-i)·4, little-endian within the nibble), and one conv per
    token instead of 60 substring/instr calls (profiled 4× faster on the
    signature job). One explode + one groupBy(id) with 60 conditional-sum
    aggregates (map-side combined).
    """
    if n_bits > 60:
        raise ValueError("n_bits > 60 exceeds the 15-hex-char fold")
    df = fan_out(df)
    toks = F.array_distinct(tokens_col(text_col))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("tok")).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
        .cast("long")
        .alias("m"),
    )
    bit = lambda j: F.shiftright(  # noqa: E731
        F.col("m"), (14 - j // 4) * 4 + (j % 4)
    ).bitwiseAND(F.lit(1))
    votes = exploded.groupBy(id_col).agg(
        *[F.sum(bit(j) * 2 - 1).alias(f"v{j}") for j in range(n_bits)]
    )
    sig = None
    for j in range(n_bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over all co-occurring pairs — the brute-force
    oracle for the approximate dedup families: the co-occurrence form of
    :func:`_jaccard_verify` (no candidates). The exploded shingle frame
    is cached — it feeds sizes and both join sides (3 consumers), and
    recomputing the tokenize/shingle expression per branch is ~70×
    slower than the cached join (profiled at sf0.1)."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n).cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    withn = sh.join(sizes, on=id_col)
    return _jaccard_verify(None, withn, withn, min_jaccard, id_col)


def connected_components(
    edges: DataFrame,
    a_col: str = "idA",
    b_col: str = "idB",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list — the transitive
    closure that turns pairwise near-dup hits into dedup CLUSTERS (a
    near-dups b, b near-dups c ⇒ {a,b,c} share one canonical id).

    Algorithm: iterative min-label propagation ("hash-to-min" style, the
    standard MapReduce/Spark formulation — see e.g. the large-star/
    small-star family, Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every node starts labeled with its own id; each round
    every node adopts the minimum label in its neighborhood, then takes a
    POINTER-JUMP shortcut (the label of its label), which squares the
    propagation distance per round — convergence in O(log diameter)
    rounds instead of O(diameter). Dense near-dup cliques converge in
    2-3 rounds either way; the jump is what keeps long CHAIN components
    (e.g. embedding-space graphs near the similarity threshold, where a
    1000-node path is realistic) inside the iteration budget — a
    plain-propagation run at sf0.1 left exactly such a component
    unconverged at 20 rounds, caught by the 10x oracle gate.

    Scale shape per round: one join (labels ⋈ edges) + one groupBy(min) —
    both shuffle on node id, and AQE handles the skew of giant
    components. The edge list and each round's labels are truncated
    with :func:`operators.ckpt.truncate` so the lineage does not grow
    with iterations (the classic iterative-algorithm failure on Spark),
    and round 1 reads the truncated edge list, not the input pipeline.

    Returns (node, component) with component = min node id in the
    component. Not SQL-expressible without recursive CTEs → rows-only
    oracle; correctness is asserted against a union-find in tests.
    """
    sym = truncate(
        edges.select(
            F.col(a_col).alias("src"), F.col(b_col).alias("dst")
        ).unionByName(
            edges.select(
                F.col(b_col).alias("src"), F.col(a_col).alias("dst")
            )
        )
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    comp_type = dict(labels.dtypes)["component"]
    for _ in range(max_iter):
        # candidate labels flowing along edges: neighbor's current label
        neighbor_labels = (
            sym.join(labels, on=F.col("dst") == F.col("node"))
            .select(F.col("src").alias("node"), "component")
        )
        # Fold the convergence signal INTO the label aggregate: the self
        # row carries its current label as `old` (max() ignores the nulls
        # on neighbor rows), so after the groupBy each node knows both its
        # new and previous label. The changed-check is then a narrow scan
        # of the just-checkpointed partitions with a limit-1 early exit —
        # no second join job per round (previously: labels⋈new_labels +
        # count, a full extra shuffle per iteration).
        merged = labels.select(
            "node", "component", F.col("component").alias("old")
        ).unionByName(
            neighbor_labels.withColumn("old", F.lit(None).cast(comp_type))
        )
        propagated = merged.groupBy("node").agg(
            F.min("component").alias("component"),
            F.max("old").alias("old"),
        )
        # pointer jump: follow my label to ITS label (labels are node ids,
        # so the lookup table is `propagated` itself keyed by node). The
        # left join misses only when my label is already a component root
        # whose own row carries the same id — coalesce keeps it.
        lut = propagated.select(
            F.col("node").alias("component"),
            F.col("component").alias("component2"),
        )
        new_labels = truncate(
            propagated.join(lut, on="component", how="left").select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("component2"), F.col("component")),
                ).alias("component"),
                "old",
            )
        )
        changed = (
            new_labels.filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels.drop("old")
        if changed == 0:
            break
    return labels


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_iter: int = 20,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Near-dup clusters: minhash-LSH pairs → connected components →
    (doc_id, cluster_id, cluster_size). Docs with no near-dup partner get
    their own singleton cluster. ``cluster_id`` is the minimum doc_id in
    the cluster — the canonical "keep" representative.

    ``max_bucket_size`` is the hot-bucket cap (ON by default, see
    :func:`minhash_near_dup_pairs`); the component closure recovers
    top-of-cluster links a capped bucket drops, as long as some chain of
    under-cap buckets connects them."""
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, n_perm, bands, shingle_n, min_jaccard,
        max_bucket_size,
    )
    comp = connected_components(
        pairs.select("idA", "idB"), "idA", "idB", max_iter
    )
    all_docs = df.select(F.col(id_col))
    labeled = all_docs.join(
        comp.withColumnRenamed("node", id_col), on=id_col, how="left"
    ).select(
        id_col,
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
    )
    return _with_cluster_sizes(labeled, id_col)


def _with_cluster_sizes(labeled: DataFrame, id_col: str) -> DataFrame:
    """(id, cluster_id, cluster_size) from an (id, cluster_id) labeling."""
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, on="cluster_id").select(
        id_col, "cluster_id", "cluster_size"
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: drop new docs whose text hash is already
    in the seen-corpus hash table, then dedup within the batch (keep min
    id). Returns the surviving (id, text_hash) rows — the production
    shape where yesterday's corpus is a hash TABLE (narrow, bucketable),
    never the documents themselves. Anti-join on the 32-char digest: the
    shuffle carries hashes, not bodies; at 100 TB the seen-table is
    bucketed by hash so the anti-join is co-located."""
    hashed = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")
    )
    fresh = hashed.join(
        seen_hashes.select("text_hash"), on="text_hash", how="left_anti"
    )
    return (
        fresh.groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "text_hash")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius, without all-pairs:
    pigeonhole banding — split the ``n_bits`` signature into
    ``max_hamming + 1`` bands; two signatures within distance d must agree
    EXACTLY on at least one band, so candidates come from equi-joins on
    band values and only candidates pay the popcount verify
    (``bit_count(xor)``). The standard Manku/Jain/Das Sarma web-dedup
    shape: |docs|·bands bucket rows, never |docs|².
    """
    # the signature frame feeds bands consumers + both verify sides —
    # cache it or the 60-aggregate signature job runs (bands + 2) times
    sigs = simhash_signatures(df, text_col, id_col, n_bits).cache()
    return hamming_band_pairs(sigs, id_col, "simhash", n_bits, max_hamming)


def hamming_band_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    n_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Generic pigeonhole-banded Hamming join over a precomputed bit
    signature column (SimHash, image dHash, any fixed-width sketch):
    split ``n_bits`` into ``max_hamming + 1`` bands; two signatures
    within distance d agree exactly on >= 1 band, so candidates come
    from equi-joins on band values and only candidates pay the popcount
    verify. Returns (idA, idB, hamming), idA < idB. The caller should
    cache ``sigs`` when its construction is expensive (it feeds bands
    bucket projections + both verify sides)."""
    bands = max_hamming + 1
    width = n_bits // bands
    if width * bands != n_bits:
        raise ValueError(f"n_bits={n_bits} not divisible into {bands} bands")
    mask = (1 << width) - 1
    parts = [
        sigs.select(
            F.col(id_col),
            F.lit(b).alias("band"),
            F.shiftright(F.col(sig_col), b * width).bitwiseAND(
                F.lit(mask)
            ).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = parts[0]
    for p in parts[1:]:
        buckets = buckets.unionByName(p)
    cands = _bucket_pairs(buckets, id_col, key=("band", "key"))
    sa = sigs.select(F.col(id_col).alias("idA"), F.col(sig_col).alias("sA"))
    sb = sigs.select(F.col(id_col).alias("idB"), F.col(sig_col).alias("sB"))
    return (
        cands.join(sa, on="idA")
        .join(sb, on="idB")
        .select(
            "idA",
            "idB",
            F.expr("bit_count(sA ^ sB)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def boilerplate_shingle_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Per-document boilerplate exposure: the fraction of a doc's distinct
    word ``shingle_n``-gram shingles that also appear in at least
    ``min_docs`` documents corpus-wide — the C4/RefinedWeb-style signal
    for template/boilerplate text (headers, footers, licence blurbs) that
    survives exact AND near-dup dedup because the surrounding document
    differs. High-fraction docs are candidates for span-level cleaning or
    down-weighting in the curation mix.

    Returns (id, n_shingles, n_common, common_frac). Scale shape: the
    shuffle carries 60-bit md5 shingle hashes, never shingle text (same
    digest-only discipline as the MinHash family); doc-frequency is one
    map-side-combined groupBy over the hashed frame; the frame feeds both
    the frequency count and the join back, so it is cached (the same
    several-consumer rationale as minhash_near_dup_pairs' materialized
    shingle frame).
    Docs with fewer than ``shingle_n`` tokens have no shingles and are
    absent from the output (they carry no boilerplate signal).
    """
    sh = (
        exploded_shingles(df, text_col, id_col, shingle_n)
        .select(F.col(id_col), md5_long(F.col("sh")).alias("shh"))
        .cache()
    )
    # exploded_shingles is distinct-per-doc, so count(*) per hash IS the
    # document frequency
    dfreq = sh.groupBy("shh").agg(F.count(F.lit(1)).alias("dfc"))
    return (
        sh.join(dfreq, on="shh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("dfc") >= min_docs, 1).otherwise(0)
            ).alias("n_common"),
        )
        .withColumn(
            "common_frac",
            F.round(F.col("n_common") / F.col("n_shingles"), 6),
        )
    )


def _merged_hit_spans(
    toks: DataFrame,
    id_col: str,
    k: int,
    min_docs: int,
    gram_digest=None,
) -> DataFrame:
    """Merged repeated-k-gram hit spans over a materialized (id, toks)
    frame: every POSITIONAL k-gram (not distinct — positions are the
    point) is hashed; a k-gram whose hash occurs in >= ``min_docs``
    distinct documents is a CANDIDATE hit; candidates are then
    BYTE-VERIFIED — the actual gram text is re-derived from the token
    frame and a candidate survives only if ITS OWN text occurs in >=
    ``min_docs`` distinct documents, so a digest collision (two
    different grams sharing a 60-bit hash) can no longer plant a false
    span — the false-positive window Lee et al.'s suffix-array method
    never had is now closed here too. Overlapping/abutting verified
    hits (position gap <= k) merge into spans. Returns one row per
    merged span: (id, dl, island, hits_in_span, span_start, span_end)
    with 1-based inclusive token positions. Shared core of
    :func:`repeated_span_stats` (statistics) and
    :func:`excise_repeated_spans` (the cleaned-text transform).

    ``gram_digest`` (default md5_long) is injectable so tests can force
    collisions with a degenerate digest and prove the verify join
    discards them — real md5-60bit collisions cannot be synthesized.

    Scale shape: one explode pass (n_tokens rows/doc); the cross-doc
    frequency table is digest-only (60-bit gram hashes, never gram
    text) and map-side combines; gram TEXT moves only for the candidate
    hit set (re-sliced from the cached token frame — bounded by real
    repeats plus collisions, never corpus-sized); the span merge
    windows are PARTITIONED BY doc (bounded by doc length, never
    global). ``toks`` must be cached by the caller — it feeds both the
    gram explode and the verify re-slice.
    """
    digest = gram_digest if gram_digest is not None else md5_long
    grams = (
        toks.filter(F.size("toks") >= k).select(
            F.col(id_col),
            F.size("toks").alias("dl"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, k)),
                )
            ).alias("pos0", "gram"),
        )
        .select(
            F.col(id_col),
            "dl",
            (F.col("pos0") + 1).alias("pos"),
            digest(F.col("gram")).alias("gh"),
        )
        .cache()
    )
    dfreq = grams.groupBy("gh").agg(
        F.countDistinct(id_col).alias("dfc")
    )
    cand = grams.join(
        dfreq.filter(F.col("dfc") >= min_docs).select("gh"), "gh"
    )
    # byte-verify: re-slice each candidate's actual gram text and require
    # min_docs distinct documents of THAT text (identical slice/concat
    # expression as construction, so equal text <=> equal bytes)
    cand_txt = cand.join(toks, on=id_col).select(
        id_col,
        "dl",
        "pos",
        "gh",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), k)).alias("gram"),
    )
    verified = (
        cand_txt.groupBy("gh", "gram")
        .agg(F.countDistinct(id_col).alias("vdf"))
        .filter(F.col("vdf") >= min_docs)
        .select("gh", "gram")
    )
    hits = cand_txt.join(
        verified, on=["gh", "gram"], how="left_semi"
    ).select(id_col, "dl", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        hits.withColumn(
            "brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) > k, 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "dl", "island")
        .agg(
            F.count(F.lit(1)).alias("hits_in_span"),
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
    )


def repeated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring span statistics via positional
    k-gram anchors — the scalable approximation of exact-substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better": any repeated substring of >= k tokens necessarily contains
    a repeated token k-gram, so k-gram anchors find every long repeat).

    Returns per-doc (doc_id, n_hits, n_spans, covered_tokens,
    covered_frac) — the doc-level filtering signal; the transform that
    actually removes the spans is :func:`excise_repeated_spans`. Docs
    shorter than k tokens have no k-grams and are absent by design.
    Scale shape: see :func:`_merged_hit_spans`.
    """
    # cached: feeds the gram explode AND the verify re-slice
    toks = tokenized(fan_out(df), text_col, id_col).cache()
    spans = _merged_hit_spans(toks, id_col, k, min_docs)
    return (
        spans.groupBy(id_col, "dl")
        .agg(
            F.sum("hits_in_span").cast("long").alias("n_hits"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.col("span_end") - F.col("span_start") + 1
            ).cast("long").alias("covered_tokens"),
        )
        .select(
            id_col,
            "n_hits",
            "n_spans",
            "covered_tokens",
            F.round(F.col("covered_tokens") / F.col("dl"), 6).alias(
                "covered_frac"
            ),
        )
    )


def excise_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Span EXCISION — emit every document with its cross-document
    repeated spans removed: the consumable output of exact-substring
    dedup (Lee et al.), where :func:`repeated_span_stats` only reports
    coverage. A token is excised iff its 1-based position falls inside
    any merged hit span; the cleaned text is the surviving tokens
    rejoined with single spaces (tokenization is whitespace-split +
    lowercase, so this is the canonical whitespace form — the same
    convention every downstream tokenize pass in this package applies).

    Returns one row per input document (including docs with nothing to
    excise and docs excised to emptiness):
    (doc_id, n_tokens, kept_tokens, excised_tokens, clean_hash) with
    ``clean_hash`` = md5 of the cleaned text, so an oracle can verify
    the actual emitted bytes, not just the counts (the
    ``doc_pii_scrub`` scrubbed-bytes pattern).

    Scale shape: span discovery is :func:`_merged_hit_spans` (digest-only
    shuffles, per-doc windows); the excision itself is a LEFT join of the
    token frame against the per-doc span list (spans are merged and
    disjoint, so the list is bounded by dl/k entries) followed by a pure
    per-row higher-order filter — no explode of token positions, no
    Python. The token frame is cached for its two consumers (span
    discovery, excision join).
    """
    toks = tokenized(fan_out(df), text_col, id_col).cache()
    spans = _merged_hit_spans(toks, id_col, k, min_docs)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                F.col("span_end").alias("e"),
            )
        ).alias("sp")
    )
    joined = toks.join(sp, on=id_col, how="left")
    # Spark higher-order-function indices are 0-based; span positions are
    # 1-based (matching the oracle's DuckDB list semantics) — hence i + 1.
    kept = F.when(F.col("sp").isNull(), F.col("toks")).otherwise(
        F.filter(
            "toks",
            lambda x, i: ~F.exists(
                "sp",
                lambda z: (z["s"] <= i + 1) & (i + 1 <= z["e"]),
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias(
            "excised_tokens"
        ),
        F.md5(F.concat_ws(" ", kept)).alias("clean_hash"),
    )


def lsh_candidate_precision(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Index observability for the MinHash-LSH config: how much of the
    banding stage's candidate volume survives the exact-Jaccard verify —
    the precision side of the bands/rows dial (the recall side is
    :func:`lsh_pair_recall`). Low precision means the verify join is
    paying for pairs the banding should have rejected (too few rows per
    band); tuning bands trades this against recall. This is the number
    an index operator watches before re-banding a 100 TB corpus,
    computed for the price of the dedup run itself.

    Returns one row: (n_candidates, n_verified, precision_r). Runs the
    :func:`minhash_near_dup_pairs` pipeline over one cached shingle
    frame, with the candidate pairs cached for their two consumers (the
    count and the verify); see :func:`_count_ratio` for the row."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n).cache()
    bk, _, sizes = _index_from_shingles(sh, id_col, n_perm, bands)
    cands = _bucket_pairs(
        _small_buckets(bk, bk, max_bucket_size), id_col
    ).cache()
    side = sh.join(sizes, on=id_col)
    verified = _jaccard_verify(cands, side, side, min_jaccard, id_col)
    # an empty candidate set wastes no verify work: precision 1.0
    return _count_ratio(
        cands, verified, "n_candidates", "n_verified", "precision_r"
    )


def _count_ratio(
    whole: DataFrame, part: DataFrame, n_whole: str, n_part: str, ratio: str
) -> DataFrame:
    """One row (n_whole, n_part, ratio): two frames' row counts and
    round(n_part / n_whole, 6), pinned to 1.0 when ``whole`` is empty —
    a monitoring metric must never be NULL. The counts are frame
    aggregates combined by a 1-row crossJoin (no driver actions)."""
    nw = whole.agg(F.count(F.lit(1)).cast("long").alias(n_whole))
    np_ = part.agg(F.count(F.lit(1)).cast("long").alias(n_part))
    return nw.crossJoin(np_).select(
        n_whole,
        n_part,
        F.when(
            F.col(n_whole) > 0, F.round(F.col(n_part) / F.col(n_whole), 6)
        )
        .otherwise(F.lit(1.0))
        .alias(ratio),
    )


def lsh_pair_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """The RECALL side of the LSH dial, as a registered metric beside
    :func:`lsh_candidate_precision`: of all TRUE near-dup pairs (exact
    shingle-Jaccard >= threshold over every co-occurring pair, the
    :func:`ngram_jaccard_pairs` kernel), how many does the
    banded-and-capped pipeline (:func:`near_dup_pairs_from_index`)
    surface? Together the two metrics bracket the bands/rows/cap trade
    the way `embedding_ann_recall` brackets the ANN ladder.

    Returns one row: (n_true_pairs, n_hits, recall_r). The ground-truth
    side is the quadratic co-occurrence join — exact, and therefore the
    expensive path: at 100 TB you run it on a SAMPLED panel (the
    standard recall-estimation protocol, as the ANN recall row does);
    registered here at fixture scale where exact is affordable.
    Shares one cached shingle frame across ground truth, signatures,
    and both verify sides; see :func:`_count_ratio` for the row."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n).cache()
    index = _index_from_shingles(sh, id_col, n_perm, bands)
    side = sh.join(index[2], on=id_col)
    truth = _jaccard_verify(None, side, side, min_jaccard, id_col).select(
        "idA", "idB"
    )
    lsh_pairs = near_dup_pairs_from_index(
        index, id_col, min_jaccard, max_bucket_size
    ).select("idA", "idB")
    hits = truth.join(lsh_pairs, ["idA", "idB"])
    return _count_ratio(truth, hits, "n_true_pairs", "n_hits", "recall_r")


def incremental_dedup_clusters(
    assignment: DataFrame,
    corpus_index: tuple[DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
    max_iter: int = 20,
) -> DataFrame:
    """O(batch + affected) maintenance of a persisted NEAR-DUP CLUSTER
    assignment (r9) — the transitive-closure family's incremental twin,
    closing the one index family whose arrival path still meant a full
    rebuild: pairs, digests, BM25 df, PQ/IVF-PQ, the graph ANN and the
    sketches all had O(batch) maintenance; the cluster ASSIGNMENT (the
    thing dedup actually consumes) did not.

    Stages: (1) batch↔corpus pairs against the persisted LSH index
    (:func:`incremental_near_dup_pairs` — corpus-side bucket cap, the
    batch-split-independent convention) plus within-batch pairs
    (:func:`minhash_near_dup_pairs` over the batch alone); (2) CONTRACT
    old endpoints to their cluster ids — within-cluster connectivity is
    already known, so the closure graph has one node per touched
    cluster plus the batch docs, and |edges| = |new pairs|; (3)
    :func:`connected_components` over that batch-sized graph; (4)
    relabel: old rows join the (touched-cluster → new id) map (bounded,
    broadcast) — untouched clusters pass through BIT-IDENTICALLY; batch
    docs take their component label, or themselves as singletons.

    Correctness: a cluster id IS its component's minimum member id, so
    contracting a cluster to its id preserves both connectivity and the
    min — the merged component's label equals the full-rebuild closure
    over (old pairs ∪ new pairs). REQUIREMENT: batch ids must be
    disjoint from corpus ids (arrival ids always are); a batch id that
    collides with an existing id would conflate a contracted node.
    REQUIREMENT (ADVICE r9): ``assignment`` must COVER every id the
    persisted LSH index can emit — a corpus endpoint missing from the
    assignment has no cluster to contract to, and silently dropping
    the pair would lose real connectivity. The contraction join is
    therefore a LEFT join with an in-flow ``raise_error`` guard: an
    uncovered corpus id fails the job loudly (naming the id) instead
    of corrupting the closure, at zero extra cost on the covered path.

    Returns (id, cluster_id, cluster_size) over corpus ∪ batch. The
    size recount is one groupBy over the assignment table — the output
    relation itself, written anyway; everything upstream of it is
    batch-sized."""
    cross = incremental_near_dup_pairs(
        corpus_index, batch, text_col, id_col, n_perm, bands, shingle_n,
        min_jaccard, max_bucket_size,
    )
    internal = minhash_near_dup_pairs(
        batch, text_col, id_col, n_perm, bands, shingle_n, min_jaccard,
        max_bucket_size=None,
    )
    amap = assignment.select(
        F.col(id_col).alias("corpus_id"), F.col("cluster_id").alias("__c")
    )
    cross_c = cross.join(amap, on="corpus_id", how="left").select(
        F.col("batch_id").alias("idA"),
        F.when(
            F.col("__c").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "incremental_dedup_clusters: corpus id missing "
                        "from assignment (coverage REQUIREMENT): "
                    ),
                    F.col("corpus_id").cast("string"),
                )
            ),
        )
        .otherwise(F.col("__c"))
        .alias("idB"),
    )
    edges = cross_c.unionByName(internal.select("idA", "idB")).distinct()
    labels = connected_components(edges, "idA", "idB", max_iter=max_iter)
    cmap = labels.select(
        F.col("node").alias("cluster_id"), F.col("component").alias("__new")
    )
    old_re = assignment.join(
        F.broadcast(cmap), on="cluster_id", how="left"
    ).select(
        id_col,
        F.coalesce("__new", F.col("cluster_id")).alias("cluster_id"),
    )
    b_lab = labels.select(F.col("node").alias(id_col), F.col("component"))
    b_re = (
        batch.select(id_col)
        .join(F.broadcast(b_lab), on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )
    return _with_cluster_sizes(old_re.unionByName(b_re), id_col)


def near_dup_pairs_from_index(
    corpus_index: tuple[DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    min_jaccard: float = 0.7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Within-corpus near-dup pairs computed FROM the persisted index
    relations (:func:`near_dup_index`) — no re-shingling, no re-banding:
    the capped bucket self-join (:func:`_small_buckets`,
    :func:`_bucket_pairs`) + the exact-Jaccard verify
    (:func:`_jaccard_verify`) read only (buckets, shingles, sizes).
    :func:`minhash_near_dup_pairs` is this function over the index of
    its own shingles; this entry point exists so a pipeline that already
    persists the index never tokenizes the corpus a second time to
    (re)build the cluster assignment."""
    bk, sh, sz = corpus_index
    side = sh.join(sz, on=id_col)
    cands = _bucket_pairs(_small_buckets(bk, bk, max_bucket_size), id_col)
    return _jaccard_verify(cands, side, side, min_jaccard, id_col)
