"""Text analysis for LLM-data pipelines (north star; BASELINE.json).

Operators over the ``documents`` table, all built from JVM-side built-ins
(no Python UDFs — SURVEY §2.11 policy) and expressible in DuckDB SQL for
the oracle:

- :func:`tokens_col` / :func:`token_count` — whitespace + regex ("BPE-ish")
  token counting
- :func:`quality_score` — length, distinct-token, alphabetic and
  stopword ratios → composite quality score
- :func:`lang_id_heuristic` — stopword-dictionary n-gram-free language ID
- :func:`minhash_fingerprint` — k-min md5 fingerprint (document identity
  robust to token order)

At 100 TB each of these is a narrow map over the text column — no shuffle
at all until a downstream groupBy; they pipeline into the same scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_capstone_spark.functions.portable import perm_md5_long

# Tiny function-word dictionaries for the language-ID heuristic. Heuristic
# by design (the container has no langid lib); the dictionaries are part of
# the operator contract so the oracle SQL can embed the identical lists.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "und", "das", "nicht", "von", "ist", "mit", "den", "zu"),
    "fr": ("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
}

# Unicode token runs (r9, verdict Missing #1): letter+combining-mark
# runs, digit runs, or single other non-space symbols. \p{L}/\p{M} are
# supported identically by Java regex (Spark) and RE2 (DuckDB) — on
# pure-ASCII text these match the previous [A-Za-z] classes exactly,
# while CJK/Cyrillic/Arabic/accented text yields letter RUNS instead of
# one degenerate token per character (which silently poisoned every
# downstream text op on non-Latin corpora). Shared with every oracle —
# the SQL strings interpolate these constants, never restate them.
TOKEN_REGEX = r"[\p{L}\p{M}]+|[0-9]+|[^\p{L}\p{M}0-9 ]"
# single Unicode letter (word-has-letter tests) and its complement
# (alpha-ratio strip); combining marks count as letter material so the
# ratios are invariant under NFC/NFD representation
LETTER_REGEX = r"[\p{L}\p{M}]"
NON_LETTER_REGEX = r"[^\p{L}\p{M}]"


def nfc_normalize_col(text: Column | str) -> Column:
    """Unicode NFC normalization — the ingest-boundary canonicalizer
    (r9, verdict Missing #1): the same visible text arrives from real
    crawls in composed AND decomposed forms ('é' vs 'e'+U+0301), and
    without canonicalization every downstream identity — exact dedup
    hashes, shingles, BM25 terms, token counts — silently treats them
    as different documents. Spark exposes no built-in normalizer, so
    this is an Arrow-batched pandas UDF over Python's unicodedata
    (the documented UDF exception: built-ins genuinely can't express
    it); DuckDB's ``nfc_normalize`` is the oracle twin — both
    implement the same Unicode standard algorithm. Apply ONCE at the
    ingest boundary, not per-operator."""
    # pandas imported module-level: with `from __future__ import
    # annotations` the UDF's type hints are strings, and Spark's
    # eval-type inference resolves them against this module's globals
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize("NFC", x)
        )

    c = F.col(text) if isinstance(text, str) else text
    return _nfc(c)


def tokens_col(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokens of a text column (empty strings filtered)."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and regex token counts per document."""
    return df.select(
        "doc_id",
        F.size(tokens_col(text_col)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("re_tokens"),
    )


def quality_score_col(text_col: str = "text") -> Column:
    """The UNROUNDED composite quality expression (length / diversity /
    alphabetic / stopword terms) — exposed as a Column so composites
    (the corpus data card) aggregate the exact same arithmetic the
    per-doc entry rounds for display."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    stop = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_ratio = F.size(F.array_intersect(F.array_distinct(toks), stop)) / F.lit(
        float(len(LANG_STOPWORDS["en"]))
    )
    alpha_ratio = F.length(
        F.regexp_replace(F.col(text_col), NON_LETTER_REGEX, "")
    ) / F.length(text_col)
    length_term = F.least(n_tok / F.lit(200.0), F.lit(1.0))
    return (
        0.3 * length_term
        + 0.3 * distinct_ratio
        + 0.2 * alpha_ratio
        + 0.2 * stop_ratio
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score: favors mid-length, diverse, alphabetic
    documents — the standard pretraining-filter shape (length/punct/stopword
    heuristics), deliberately simple and fully portable.

    Terms are combined *unrounded* (rounding only the final score):
    combining display-rounded terms would drift the composite by ~1e-6
    vs the oracle.
    """
    return df.select(
        "doc_id", F.round(quality_score_col(text_col), 6).alias("quality")
    )


def synthetic_lined_docs(spark, n: int = 64, seed: int = 42):
    """(doc_id, text) fixture of multi-line documents with PLANTED
    in-document duplicate lines: doc ``i`` has ``5 + i % 6`` lines;
    every line with ``j % 3 == 2`` repeats line 0, the rest are unique
    md5-derived phrases — so the expected first-occurrence dedup output
    is computable from the formula alone (generative-oracle pattern).
    Exists because the parquet documents fixture is single-line."""
    import hashlib

    rows = []
    for i in range(n):
        lines = []
        for j in range(5 + i % 6):
            src_j = 0 if j % 3 == 2 else j
            lines.append(
                "line "
                + hashlib.md5(
                    f"{seed}:l:{i}:{src_j}".encode()
                ).hexdigest()[:12]
            )
        rows.append((i, "\n".join(lines)))
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def dedup_doc_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document line dedup (RefinedWeb/CCNet line-level cleaning):
    keep the FIRST occurrence of every distinct line, preserving order —
    the navigation-menu/footer repetition cleaner that document- and
    span-level dedup both skip (those compare ACROSS documents).

    Returns (id, n_lines, kept_lines, removed_lines, clean_hash) with
    ``clean_hash`` = md5 of the kept lines rejoined with newlines, so
    the emitted bytes are oracle-verifiable. First-occurrence is
    explicit — a line survives at its MINIMUM position — rather than
    relying on array_distinct's (undocumented) ordering.

    Scale shape: positional explode → min(pos) per (doc, line) →
    re-collect sorted by position. Real crawl documents reach tens of
    thousands of lines, so the earlier single-row-expression
    formulation (prefix-slice + array_position per element — O(lines²)
    time AND a per-element prefix-array allocation) was pathological
    exactly where this cleaner matters; the explode pays two
    doc-keyed, map-side-combinable shuffles proportional to total line
    volume instead, and the per-doc re-collect is bounded by document
    length. Docs whose every line is empty survive with kept=0 and
    md5('') via the left join back to the per-doc counts.
    """
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: l != ""
    )
    base = df.select(F.col(id_col), lines.alias("__l"))
    counts = base.select(
        id_col, F.size("__l").cast("long").alias("n_lines")
    )
    ex = base.select(
        id_col, F.posexplode("__l").alias("pos", "line")
    )
    firsts = ex.groupBy(id_col, "line").agg(F.min("pos").alias("pos"))
    kept_arr = firsts.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "line"))),
            lambda s: s["line"],
        ).alias("__kept")
    )
    kept = F.coalesce(
        F.col("__kept"), F.array().cast("array<string>")
    )
    return counts.join(kept_arr, on=id_col, how="left").select(
        id_col,
        "n_lines",
        F.size(kept).cast("long").alias("kept_lines"),
        (F.col("n_lines") - F.size(kept)).cast("long").alias(
            "removed_lines"
        ),
        F.md5(F.array_join(kept, "\n")).alias("clean_hash"),
    )


# The eight Gopher "must contain 2 of" function words (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", §A1.1 quality filtering).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2021 §A1.1, as shipped
    in DataTrove/RefinedWeb-style curation stacks) — per-document rule
    FLAGS, not a blended score, so a pipeline can report which rule
    rejected a document and tune thresholds per source:

    - word count in [50, 100000]
    - mean word length in [3, 10]
    - symbol-to-word ratio (# and ellipsis) <= 0.1
    - <= 90% of lines start with a bullet (-, *, •)
    - <= 30% of lines end with an ellipsis
    - >= 80% of words contain an alphabetic character
    - >= 2 distinct Gopher stopwords present

    All fractions are rounded to 6 dp BEFORE thresholding (both engines
    compare identical values — the determinism contract), and emitted
    alongside the flags. Pure JVM map over one projection: token and
    line arrays are materialized once and every rule folds over them
    with higher-order functions — no shuffle, no Python, no UDF.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != ""
    )
    base = df.select(
        "doc_id",
        F.col(text_col).alias("__t"),
        words.alias("__w"),
        lines.alias("__l"),
    )
    nw = F.size("__w")
    nl = F.size("__l")

    def frac(cnt, denom):
        return F.round(
            F.when(denom > 0, cnt / denom).otherwise(F.lit(0.0)), 6
        )

    mwl = frac(
        F.aggregate(
            "__w", F.lit(0), lambda acc, t: acc + F.length(t)
        ),
        nw,
    )
    n_sym = (
        F.length("__t")
        - F.length(F.regexp_replace("__t", "#", ""))
        + F.size(F.split(F.col("__t"), r"\.\.\.")) - 1
        + F.length("__t")
        - F.length(F.regexp_replace("__t", "…", ""))
    )
    sym_r = frac(n_sym, nw)
    bullet_r = frac(
        F.size(
            F.filter(
                "__l",
                lambda l: F.ltrim(l).startswith("- ")
                | F.ltrim(l).startswith("* ")
                | F.ltrim(l).startswith("• "),
            )
        ),
        nl,
    )
    ell_r = frac(
        F.size(
            F.filter(
                "__l",
                lambda l: F.rtrim(l).endswith("...")
                | F.rtrim(l).endswith("…"),
            )
        ),
        nl,
    )
    alpha_r = frac(
        F.size(F.filter("__w", lambda t: t.rlike(LETTER_REGEX))), nw
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(
                F.transform("__w", lambda t: F.lower(t))
            ),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    feat = base.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        mwl.alias("mean_word_len_r"),
        sym_r.alias("symbol_ratio_r"),
        bullet_r.alias("bullet_line_frac_r"),
        ell_r.alias("ellipsis_line_frac_r"),
        alpha_r.alias("alpha_word_frac_r"),
        n_stop.cast("long").alias("n_stop_hits"),
    )
    r_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    r_mwl = (F.col("mean_word_len_r") >= 3.0) & (
        F.col("mean_word_len_r") <= 10.0
    )
    r_sym = F.col("symbol_ratio_r") <= 0.1
    r_bullet = F.col("bullet_line_frac_r") <= 0.9
    r_ell = F.col("ellipsis_line_frac_r") <= 0.3
    r_alpha = F.col("alpha_word_frac_r") >= 0.8
    r_stop = F.col("n_stop_hits") >= 2
    return feat.select(
        "*",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_bullet.alias("r_bullet_lines"),
        r_ell.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (
            r_wc & r_mwl & r_sym & r_bullet & r_ell & r_alpha & r_stop
        ).alias("passes_gopher"),
    )


def lang_id_heuristic(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Guess language by function-word hits; deterministic tie-break by
    language code; 'und' (undetermined) when no dictionary hits."""
    toks = F.array_distinct(tokens_col(text_col))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array([F.lit(w) for w in words]))
        )
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    guess = F.lit("und")
    # reversed alphabetical fold → earliest language wins ties
    for lang in sorted(scores, reverse=True):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best == 0, F.lit("und")).otherwise(guess)
    return df.select("doc_id", guess.alias("lang_guess"))


def minhash_fingerprint(
    df: DataFrame, text_col: str = "text", n_perm: int = 4
) -> DataFrame:
    """k-min-hash fingerprint: for each of ``n_perm`` salted md5 families,
    the minimum token hash; concatenated to a hex-free string key. Equal
    token *sets* ⇒ equal fingerprints (document identity robust to word
    order / duplication)."""
    from bigdata_capstone_spark.operators.relational import fan_out

    toks = F.array_distinct(tokens_col(text_col))
    exploded = fan_out(df).select("doc_id", F.explode(toks).alias("tok"))
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min(perm_md5_long(F.col("tok"), p)).alias(f"h{p}")
            for p in range(n_perm)
        ]
    )
    return mins.select(
        "doc_id",
        F.concat_ws("-", *[F.col(f"h{p}").cast("string") for p in range(n_perm)]).alias(
            "fingerprint"
        ),
    )


def chunk_tokens(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows (size ``chunk_size``,
    step ``stride``) — the tokenize→chunk step that turns curated documents
    into training examples. The final window may be shorter; every token is
    covered.

    Pure JVM: tokens once, a ``sequence`` of window starts, ``transform`` +
    ``posexplode`` to one row per chunk — no Python, no shuffle; fan-out is
    ~n_tokens/stride rows per doc and pipelines into the scan. Chunks carry
    an md5 id so downstream exact-dedup runs on chunks exactly like docs.
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_size))
    )
    exploded = df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).filter(F.col("chunk_text") != "")
    return exploded.select(
        id_col,
        "chunk_idx",
        F.size(F.split(F.col("chunk_text"), " ")).cast("long").alias(
            "n_chunk_tokens"
        ),
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    )


# Engine-portable redaction patterns (same semantics in Java regex and
# RE2/DuckDB: character classes, bounded repetition — no lookarounds).
PII_EMAIL_REGEX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_LONG_NUMBER_REGEX = "[0-9]{9,}"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction pass a pretraining-data pipeline runs before
    training: replace email addresses and long digit runs (phone/account
    ids) with typed placeholders, and report per-document redaction
    counts. Emails are redacted FIRST so digit runs inside an address
    aren't double-counted.

    Pure JVM regexp map — no shuffle, no Python; the patterns avoid
    constructs whose semantics differ between regex engines, so the
    scrubbed text (and its hash) is reproducible in the DuckDB oracle.
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_REGEX, "<EMAIL>"),
        PII_LONG_NUMBER_REGEX,
        "<NUM>",
    )
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_REGEX), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(t, PII_EMAIL_REGEX, "<EMAIL>"),
                F.lit(PII_LONG_NUMBER_REGEX),
                0,
            )
        )
        .cast("long")
        .alias("n_long_numbers"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign documents to fixed-token
    training packs — the step that turns a curated corpus into dense
    pretraining batches (no padding waste).

    Semantics (GPT-style packing): within each (group, shard) stream,
    documents are concatenated in ``id_col`` order and the token stream is
    cut every ``capacity`` tokens; a document's ``pack_id`` is the pack its
    FIRST token lands in (documents may straddle a boundary — the loader
    splits them, exactly like pretraining concat-packing).

    Scale shape: ``shard`` is an engine-portable PRF of the document id, so
    each window partition holds ~|docs|/(|groups|·n_shards) rows — the
    running-sum sort is bounded and the whole pack assignment is one
    shuffle, embarrassingly parallel across shards. At 100 TB raise
    ``n_shards`` until a shard fits an executor core; determinism is
    unaffected (order within a shard is by id).

    Returns one row per document:
    ``(id, group, shard, n_tokens, pack_id, pack_offset)``.
    """
    from bigdata_capstone_spark.functions.portable import md5_long

    n_tok = F.size(tokens_col(text_col)).cast("long")
    shard = F.pmod(
        md5_long(F.concat(F.lit("pack:"), F.col(id_col).cast("string"))),
        F.lit(n_shards),
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        shard.alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.withColumn("cum_before", cum_before).select(
        id_col,
        group_col,
        "shard",
        "n_tokens",
        F.expr(f"cum_before div {capacity}").alias("pack_id"),
        (F.col("cum_before") % capacity).alias("pack_offset"),
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 40
) -> DataFrame:
    """Adjacent-symbol pair frequencies — the counting core of one BPE
    tokenizer-training iteration (Sennrich et al. 2016): the pair with
    the highest corpus count is the next merge. Symbols here are single
    characters (iteration 0); iterating merges is a driver loop over this
    same counting shape.

    The scale trick is the two-stage count: the corpus collapses to its
    VOCABULARY first (word -> freq, one word-count shuffle with map-side
    combine), and pair explosion runs over vocab rows weighted by freq —
    after stage 1 the cost is corpus-size-INDEPENDENT (|vocab| * avg word
    length), which is what makes BPE training feasible at 100 TB.

    Returns the ``top_n`` pairs as (pair, pair_count, rank), exact BIGINT
    counts, (count DESC, pair) tie-break.
    """
    from bigdata_capstone_spark.operators.relational import fan_out

    words = fan_out(df).select(F.explode(tokens_col(text_col)).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
    )
    from bigdata_capstone_spark.operators.relational import (
        bounded_row_number,
    )

    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    # TakeOrdered pre-selection (per-partition heaps, no global sort), then
    # a LAZY bounded row_number over the <= top_n survivors — no
    # single-partition WindowExec, and (r10) no eager prefix-sum
    # checkpoint barrier in a query whose ranked slice is 40 rows.
    top = agg.orderBy(F.desc("pair_count"), F.col("pair")).limit(top_n)
    return (
        bounded_row_number(top, [("pair_count", False), ("pair", True)], "rank")
        # bounded by limit(top_n) above, so the int cast cannot overflow
        .withColumn("rank", F.col("rank").cast("int"))
        .select("pair", "pair_count", "rank")
    )


#: Unit separator — wraps every BPE symbol (``\x1fsym\x1f``) so merge
#: application is a plain string ``replace``: the pattern
#: ``\x1fa\x1f\x1fb\x1f`` can only match a FULL adjacent symbol pair
#: (never a symbol suffix), and SQL replace's leftmost-non-overlapping
#: scan IS greedy left-to-right BPE merge order in both engines.
BPE_SEP = "\x1f"


def bpe_merge_iterations(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """k full BPE tokenizer-training iterations (Sennrich et al. 2016):
    count adjacent-symbol pairs over the freq-weighted VOCABULARY, apply
    the best merge (count DESC, pair tie-break), recount — the driver
    loop ``bpe_pair_counts`` documents, actually iterated. Returns one
    row per iteration: (it, merge_pair "a b", pair_count).

    Engine-portable representation: each word's symbol sequence is a
    single string with every symbol wrapped in ``BPE_SEP``; applying a
    merge is ``replace(s, '\\x1fa\\x1f\\x1fb\\x1f', '\\x1fab\\x1f')`` —
    leftmost-non-overlapping replace-all, which equals greedy
    left-to-right BPE merging (verified against a pure-Python reference
    in tests). Everything is JVM expressions; the per-iteration driver
    step only assembles the plan (the 1-row best-pair frame is a
    broadcast, never a collect).

    Scale shape: as in ``bpe_pair_counts``, the corpus collapses to its
    vocabulary ONCE; each iteration re-counts over |vocab| rows
    (corpus-size-independent) and caches the merged vocab so iteration
    i+1 reads i's result, not the whole lineage.
    """
    merges, _ = _bpe_train(df, text_col, k)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select(
        "it",
        F.expr(
            "trim(BOTH '\x1f' FROM replace(pair, '\x1f\x1f', ' '))"
        ).alias("merge_pair"),
        F.col("pair_count").cast("long").alias("pair_count"),
    )


def _bpe_train(
    df: DataFrame, text_col: str, k: int
) -> tuple[list[DataFrame], DataFrame]:
    """Shared BPE training loop: returns (per-iteration best-pair frames,
    final merged vocabulary (freq, s) in the wrapped-symbol encoding)."""
    s1, s2 = BPE_SEP, BPE_SEP * 2
    from bigdata_capstone_spark.operators.relational import fan_out

    words = fan_out(df).select(F.explode(tokens_col(text_col)).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # ``w`` rides along so encode-side callers (bpe_encode_stats) can map
    # each corpus word to its merged symbol sequence without re-training
    cur = vocab.select(
        "w",
        "freq",
        F.regexp_replace("w", "(.)", f"{s1}$1{s1}").alias("s"),
    ).cache()
    merges = []
    for it in range(1, k + 1):
        parts = cur.select(
            "freq",
            F.split(
                F.expr("substring(s, 2, length(s) - 2)"), s2
            ).alias("p"),
        ).filter(F.size("p") >= 2)
        pairs = parts.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("p") - 1),
                    lambda j: F.concat(
                        F.lit(s1),
                        F.element_at(F.col("p"), j),
                        F.lit(s2),
                        F.element_at(F.col("p"), j + 1),
                        F.lit(s1),
                    ),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.col("pair"))
            .limit(1)
        )
        merges.append(
            best.select(
                F.lit(it).alias("it"), "pair", "pair_count"
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(best.select("pair")))
            .select(
                "w",
                "freq",
                F.expr(
                    "replace(s, pair, replace(pair, '\x1f\x1f', ''))"
                ).alias("s"),
            )
            .cache()
        )
    return merges, cur


def bpe_compression_stats(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Corpus compression achieved by the first ``k`` learned BPE merges —
    the metric a tokenizer-training run is actually optimizing: total
    symbols per corpus word before (= characters) and after applying the
    merges, freq-weighted over the vocabulary. One row:
    (n_vocab, total_words, total_chars, total_symbols,
    round(total_symbols/total_chars, 6) AS compression_r).

    Symbol counts come off the wrapped encoding arithmetically: a word
    with n symbols wrapped as ``\\x1fsym\\x1f...`` has
    ``n = (length(s) - n_chars) / 2`` where n_chars is the sum of symbol
    lengths — both exact integers, so the stats are engine-replayable.
    """
    _, cur = _bpe_train(df, text_col, k)
    n_chars = F.length(F.regexp_replace("s", BPE_SEP, ""))
    # 2*symbols = wrapped length - chars; keep every sum in exact BIGINT
    # and halve once at the end (the sum of even numbers stays even)
    syms2 = F.length("s") - n_chars
    agg = cur.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("freq").cast("long").alias("total_words"),
        F.sum(F.col("freq") * n_chars).cast("long").alias("total_chars"),
        F.sum(F.col("freq") * syms2).cast("long").alias("__syms2"),
    )
    return agg.select(
        "n_vocab",
        "total_words",
        "total_chars",
        F.expr("__syms2 div 2").alias("total_symbols"),
        F.round(
            F.expr("__syms2 div 2") / F.col("total_chars").cast("double"), 6
        ).alias("compression_r"),
    )


def _token_inventory(cur: DataFrame, top_n: int) -> DataFrame:
    """Symbol inventory of a merged vocabulary (``_bpe_train``'s ``cur``):
    (token_id, token, token_count), ids dense by (count DESC, token).

    The inventory after k merges is bounded by |initial charset| + k
    (each merge adds at most one new symbol), so ``top_n`` is a safety
    cap, not a sampler — callers pass top_n ≥ charset + k and get the
    complete inventory. TakeOrdered pre-selection bounds the id window
    (zipf_rank_frequency pattern: no unpartitioned WindowExec over an
    unbounded frame)."""
    from bigdata_capstone_spark.operators.relational import (
        partitioned_row_number,
    )

    syms = cur.select(
        "freq",
        F.explode(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), BPE_SEP * 2)
        ).alias("token"),
    )
    agg = syms.groupBy("token").agg(
        F.sum("freq").cast("long").alias("token_count")
    )
    top = agg.orderBy(F.desc("token_count"), F.col("token")).limit(top_n)
    from bigdata_capstone_spark.operators.relational import (
        bounded_row_number,
    )

    return (
        bounded_row_number(
            top, [("token_count", False), ("token", True)], "token_id"
        )
        # bounded by limit(top_n), so the int cast cannot overflow
        .withColumn("token_id", F.col("token_id").cast("int"))
        .select("token_id", "token", "token_count")
    )


def bpe_token_vocab(
    df: DataFrame, text_col: str = "text", k: int = 3, top_n: int = 512
) -> DataFrame:
    """The tokenizer ARTIFACT after ``k`` BPE training iterations: the
    final symbol inventory as (token_id, token, token_count) with dense
    ids in (count DESC, token) order — what a training pipeline ships to
    the model code as the vocabulary file. Freq-weighted counts come off
    the merged vocabulary, so the whole chain (train → inventory → ids)
    replays in the DuckDB oracle."""
    _, cur = _bpe_train(df, text_col, k)
    return _token_inventory(cur, top_n)


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    top_n: int = 512,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """ENCODE the corpus with the learned tokenizer — the apply step that
    closes the BPE story (train → vocabulary → encode): every document's
    words are mapped to their merged symbol sequences and then to dense
    token ids. Per doc: (doc_id, n_words, n_chars, n_tokens,
    tokens_per_word_r, token_id_sum, max_token_id) — the id-sum is a
    checksum over the doc's FULL token-id sequence, so the oracle
    value-checks the actual encoding, not just counts.

    Scale shape: per-WORD id statistics (token count, id sum, max id)
    are pre-aggregated on the corpus-size-independent VOCABULARY (the id
    map — ≤ charset + k rows — broadcasts into that explode), so the
    corpus itself explodes to words exactly once, joins the per-word
    stats on the word key (shuffle hash join — at 100 TB both sides
    hash-partition on ``w``, and the vocab side stays small as the
    corpus grows), and re-aggregates per doc. Two shuffles total beyond
    training; no Python anywhere.
    """
    from bigdata_capstone_spark.operators.relational import fan_out

    _, cur = _bpe_train(df, text_col, k)
    ids = _token_inventory(cur, top_n)
    word_stats = (
        cur.select(
            "w",
            F.explode(
                F.split(F.expr("substring(s, 2, length(s) - 2)"), BPE_SEP * 2)
            ).alias("token"),
        )
        .join(F.broadcast(ids.select("token", "token_id")), on="token")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("w_tokens"),
            F.sum("token_id").cast("long").alias("w_id_sum"),
            F.max("token_id").cast("int").alias("w_max_id"),
        )
    )
    doc_words = fan_out(df).select(
        F.col(doc_id_col), F.explode(tokens_col(text_col)).alias("w")
    )
    return (
        doc_words.join(word_stats, on="w")
        .groupBy(doc_id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("w_tokens").cast("long").alias("n_tokens"),
            F.sum("w_id_sum").cast("long").alias("token_id_sum"),
            F.max("w_max_id").cast("int").alias("max_token_id"),
        )
        .select(
            doc_id_col,
            "n_words",
            "n_chars",
            "n_tokens",
            F.round(
                F.col("n_tokens") / F.col("n_words").cast("double"), 6
            ).alias("tokens_per_word_r"),
            "token_id_sum",
            "max_token_id",
        )
    )


def zipf_rank_frequency(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
    fit_n: int = 100,
) -> DataFrame:
    """Zipf rank-frequency fingerprint of a corpus: the ``top_n`` tokens
    with (rank, freq, log10 coords) plus the fitted log-log slope over
    the top ``fit_n`` ranks — the standard corpus-health check (natural
    text sits near slope -1; boilerplate-heavy or synthetic corpora
    deviate sharply).

    Determinism: the least-squares slope is computed over MICRO-UNIT
    integer logs (round(log10(x)*1e6)) with exact BIGINT sums —
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) — so the regression is
    order-independent and engine-exact; only the final division is
    rounded. Scale shape: one word-count shuffle; the top ``fit_n`` slice
    is an actual ``orderBy().limit()`` (plans as TakeOrderedAndProject —
    per-partition heaps, never a full-vocabulary sort), ranks come from a
    distributed row_number over the bounded survivors, and the 1-row
    slope frame broadcasts back onto them.
    """
    from bigdata_capstone_spark.operators.relational import (
        bounded_row_number,
        fan_out,
    )

    words = fan_out(df).select(F.explode(tokens_col(text_col)).alias("token"))
    vocab = words.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = vocab.orderBy(F.desc("freq"), F.col("token")).limit(fit_n)
    ranked = (
        bounded_row_number(top, [("freq", False), ("token", True)], "rank")
        # bounded by limit(fit_n) above, so the int cast cannot overflow
        .withColumn("rank", F.col("rank").cast("int"))
        .withColumn(
            "lr", F.round(F.log10(F.col("rank").cast("double")) * 1e6).cast("long")
        )
        .withColumn(
            "lf", F.round(F.log10(F.col("freq").cast("double")) * 1e6).cast("long")
        )
        .cache()
    )
    fit = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lr").alias("sx"),
        F.sum("lf").alias("sy"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
        F.sum(F.col("lr") * F.col("lr")).alias("sxx"),
    ).select(
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope_r")
    )
    return (
        ranked.filter(F.col("rank") <= top_n)
        .crossJoin(F.broadcast(fit))
        .select(
            "rank",
            "token",
            "freq",
            F.round(F.col("lr") / 1e6, 6).alias("log10_rank_r"),
            F.round(F.col("lf") / 1e6, 6).alias("log10_freq_r"),
            "zipf_slope_r",
        )
    )


def bpe_decode_roundtrip(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Detokenize(tokenize(w)) == w for every vocabulary word — the
    losslessness invariant a tokenizer must hold before anything
    downstream trusts its ids. BPE merges only ever CONCATENATE
    adjacent symbols, so stripping the symbol separators from the
    merged encoding must reproduce the original word exactly; emitting
    the check per vocabulary row makes any violation point at the
    offending word rather than a corpus-level boolean.

    Returns (w, freq, n_tokens, roundtrip_ok), one row per vocabulary
    word. Scale shape: the check runs at the VOCABULARY grain (the
    corpus collapsed to distinct words during training) — corpus size
    only affects the one training pass this shares with the other BPE
    ops; the round-trip itself is a pure map over vocabulary rows."""
    _, cur = _bpe_train(df, text_col, k)
    return cur.select(
        "w",
        F.col("freq").cast("long").alias("freq"),
        F.size(
            F.split(
                F.expr("substring(s, 2, length(s) - 2)"), BPE_SEP * 2
            )
        ).cast("int").alias("n_tokens"),
        (F.regexp_replace("s", BPE_SEP, "") == F.col("w")).alias(
            "roundtrip_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece's other family, deterministic
# variant): substring-frequency vocabulary + Viterbi max-likelihood
# segmentation as an ITERATIVE DataFrame dynamic program.
# ---------------------------------------------------------------------------

def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wcnt) corpus token frequencies — the vocabulary-sized frame
    every tokenizer stage works on (the corpus collapses here first, the
    same economy as the BPE trainer)."""
    return (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )


def unigram_piece_vocab(
    docs: DataFrame,
    max_piece_len: int = 4,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-tokenizer vocabulary: every single character (so any word
    stays segmentable) plus the ``top_k`` most frequent multi-character
    substrings of length <= ``max_piece_len`` (count DESC, piece ASC
    tie-break), each scored with its micro-unit log10 unigram
    probability over the selected inventory — the deterministic
    EM-free stand-in for SentencePiece's unigram training (same
    vocabulary shape, no iterative pruning), replayable in any engine.

    Returns (piece, cnt, score_micro BIGINT). Scale shape: the corpus
    collapses to (word, wcnt) first; substring enumeration explodes the
    DISTINCT-WORD frame only (|vocab| x len x max_piece_len rows, never
    corpus-sized); the top-k is a bounded TakeOrdered."""
    words = word_frequencies(docs, text_col)
    subs = (
        words.select(
            "word",
            "wcnt",
            F.explode(
                F.sequence(F.lit(1), F.length("word"))
            ).alias("start"),
        )
        .select(
            "word",
            "wcnt",
            "start",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len),
                        F.length("word") - F.col("start") + 1,
                    ),
                )
            ).alias("plen"),
        )
        .select(
            F.substring(F.col("word"), F.col("start"), F.col("plen")).alias(
                "piece"
            ),
            "wcnt",
        )
    )
    counts = subs.groupBy("piece").agg(F.sum("wcnt").alias("cnt"))
    chars = counts.filter(F.length("piece") == 1)
    multi = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), "piece")
        .limit(top_k)
    )
    vocab = chars.unionByName(multi)
    total = vocab.agg(F.sum("cnt").alias("__t"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.round(F.log10(F.col("cnt") / F.col("__t")) * 1_000_000, 0)
        .cast("long")
        .alias("score_micro"),
    )


def viterbi_segment_words(
    words: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = 4,
    max_word_len: int = 8,
) -> DataFrame:
    """Max-likelihood segmentation of each word under the unigram piece
    vocabulary — Viterbi as a SINGLE-PASS bounded dynamic program: one
    explode enumerates every (start, piece-length) slot of every word
    (<= ``max_word_len * max_piece_len`` rows per word), one broadcast
    join against the vocabulary scores the slots that are real pieces,
    one groupBy collects each word's scored slots into a bounded map,
    and one fold expression runs the whole DP left to right — position
    j takes the argmax over the <= ``max_piece_len`` candidate
    extensions with the deterministic tie-break (total score DESC,
    piece length DESC; the piece at a fixed (position, length) is the
    unique substring, so no further tie-break can fire). The chosen
    path is therefore identical to the former iterative
    per-position-join formulation (r10 optimization: that loop paid
    ``max_word_len`` sequential checkpoint barriers — ~50 driver
    round-trips — to segment a vocabulary-sized frame; this is one
    shuffle and zero barriers, and the DP itself is a per-row
    expression over a <= ``max_word_len`` element array).

    Returns (word, pieces STRING space-joined, n_pieces INT,
    score_micro BIGINT). Words longer than ``max_word_len`` are not
    segmented (absent from the output — raise the cap for real
    corpora; each extra position widens the per-row fold, never adds a
    pass).

    Scale shape: segmentation runs on DISTINCT words, the vocabulary
    broadcast is inventory-bounded, and the per-word state (the edge
    map + DP array) is O(max_word_len * max_piece_len) — corpus size
    only changes the row count of the one hash aggregation."""
    K = max_piece_len + 1  # (start, plen) -> start*K + plen key packing
    v = vocab.select(
        "piece", F.length("piece").alias("plen"), "score_micro"
    )
    w = words.select("word", F.length("word").alias("wl")).filter(
        (F.col("wl") >= 1) & (F.col("wl") <= max_word_len)
    )
    slots = (
        w.select(
            "word",
            "wl",
            F.explode(F.sequence(F.lit(0), F.col("wl") - 1)).alias("i"),
        )
        .select(
            "word",
            "wl",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.col("wl") - F.col("i")),
                )
            ).alias("plen"),
        )
        .select(
            "word",
            "wl",
            "i",
            "plen",
            F.col("word").substr(F.col("i") + 1, F.col("plen")).alias(
                "piece"
            ),
        )
    )
    edges = slots.join(F.broadcast(v), on=["piece", "plen"]).select(
        "word",
        "wl",
        (F.col("i") * K + F.col("plen")).alias("__ek"),
        "score_micro",
    )
    em = edges.groupBy("word", "wl").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__ek", "score_micro"))
        ).alias("__em")
    )

    init = F.struct(
        F.lit(0).cast("long").alias("score"),
        F.lit("").alias("path"),
        F.lit(0).alias("np"),
    )
    word_c, em_c = F.col("word"), F.col("__em")

    def _step(acc, j):
        # argmax over piece lengths, iterated ASC with >= acceptance so
        # a longer piece wins score ties — identical to ordering by
        # (score DESC, plen DESC) and taking row 1
        best = F.when(F.lit(False), init)  # typed NULL struct
        for plen in range(1, max_piece_len + 1):
            # the index is CLAMPED to >= 1 (r11, ADVICE): relying on And
            # short-circuit alone meant a conjunct reorder could evaluate
            # element_at with index <= 0 — 0 throws, negative silently
            # reads from the END of the DP array. The clamp makes every
            # evaluation in-bounds; when j < plen the (wrong) element it
            # reads is discarded because the j >= plen conjunct below is
            # false under ANY evaluation order. Cheaper than a per-ref
            # F.when guard (the prev expression is referenced 4× in the
            # fold and Catalyst does not CSE — a when-wrapper measurably
            # grew the plan and the fold).
            prev = F.element_at(
                acc, F.greatest(F.lit(1), j - F.lit(plen) + 1)
            )
            esc = F.element_at(em_c, (j - F.lit(plen)) * K + F.lit(plen))
            cand = F.when(
                (j >= F.lit(plen)) & esc.isNotNull() & prev.isNotNull(),
                F.struct(
                    (prev["score"] + esc).alias("score"),
                    F.concat(
                        prev["path"],
                        F.when(prev["path"] == "", F.lit("")).otherwise(
                            F.lit(" ")
                        ),
                        word_c.substr(j - F.lit(plen) + 1, F.lit(plen)),
                    ).alias("path"),
                    (prev["np"] + 1).alias("np"),
                ),
            )
            best = F.when(
                cand.isNotNull()
                & (best.isNull() | (cand["score"] >= best["score"])),
                cand,
            ).otherwise(best)
        return F.concat(acc, F.array(best))

    dp = F.aggregate(
        F.sequence(F.lit(1), F.col("wl")), F.array(init), _step
    )
    final = F.element_at(dp, F.col("wl") + 1)
    return (
        em.select("word", final.alias("__f"))
        .filter(F.col("__f").isNotNull())
        .select(
            "word",
            F.col("__f")["path"].alias("pieces"),
            F.col("__f")["np"].cast("int").alias("n_pieces"),
            F.col("__f")["score"].alias("score_micro"),
        )
    )


# Unicode script classes (r9): per-script character counting for
# script-based language routing — the dictionary langid heuristic
# (LANG_STOPWORDS) only separates LATIN languages; a multilingual crawl
# first routes by SCRIPT (Cyrillic → ru/uk/.., Han → zh/ja, ...), then
# applies per-script models. Java regex spells Unicode script classes
# \p{IsXxx}; RE2 (DuckDB) spells them \p{Xxx} — same Unicode Script
# property underneath, so counts agree. Each entry is
# (name, java_class_body, re2_class_body) where the body goes inside
# [...] / [^...].
SCRIPT_CLASSES: tuple[tuple[str, str, str], ...] = (
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("greek", r"\p{IsGreek}", r"\p{Greek}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("kana", r"\p{IsHiragana}\p{IsKatakana}", r"\p{Hiragana}\p{Katakana}"),
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
)


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Unicode SCRIPT profile: character count per script
    class plus the dominant script (max count; ties break on script
    name ASC; all-zero → 'none') — the routing signal a multilingual
    pipeline applies before any per-language model. Counts are
    regexp_replace strips (one narrow map pass per class, no shuffle);
    the dominant pick is an array_sort over a 6-element struct array,
    fully engine-portable (DuckDB list_sort orders structs by field
    order, same as Spark).

    Scale shape: pure map over the text column — pipelines into the
    scan; at 100 TB this rides the same pass as quality scoring."""
    counts = {
        name: F.length(
            F.regexp_replace(F.col(text_col), f"[^{java_cls}]", "")
        ).cast("long")
        for name, java_cls, _re2 in SCRIPT_CLASSES
    }
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-counts[name]).alias("c"), F.lit(name).alias("s")
                )
                for name, _j, _r in SCRIPT_CLASSES
            ]
        )
    )
    best = F.element_at(ranked, 1)
    dominant = F.when(best["c"] < 0, best["s"]).otherwise(F.lit("none"))
    return df.select(
        id_col,
        *[counts[name].alias(f"n_{name}") for name, _j, _r in SCRIPT_CLASSES],
        dominant.alias("dominant_script"),
    )


def script_profile_sql(source: str) -> str:
    """DuckDB twin of :func:`script_profile` over CTE/table ``source``
    with (doc_id, text)."""
    count_exprs = ",\n             ".join(
        f"length(regexp_replace(text, '[^{re2}]', '', 'g'))::BIGINT"
        f" AS n_{name}"
        for name, _j, re2 in SCRIPT_CLASSES
    )
    structs = ", ".join(
        f"{{'c': -n_{name}, 's': '{name}'}}" for name, _j, _r in SCRIPT_CLASSES
    )
    return f"""
    WITH counts AS (
      SELECT doc_id,
             {count_exprs}
      FROM {source}
    ),
    picked AS (
      SELECT *, list_sort([{structs}])[1] AS best FROM counts
    )
    SELECT doc_id, {", ".join(f"n_{n}" for n, _j, _r in SCRIPT_CLASSES)},
           CASE WHEN best.c < 0 THEN best.s ELSE 'none' END
             AS dominant_script
    FROM picked
    """


def bpe_coverage_stats(
    df: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = 3,
    top_n: int = 512,
) -> DataFrame:
    """Tokenizer COVERAGE report (r9 verdict Missing #3): per-language
    OOV and unknown-symbol rates when the BPE tokenizer trained on
    ``train`` (default: ``df`` itself) encodes ``df`` — the fertility
    entry's sibling every production tokenizer pipeline reports before
    shipping a vocabulary. Two miss classes, counted separately:

    - **OOV words** — corpus words absent from the training
      vocabulary. Encoding falls back to their CHARACTERS (the
      character-level analog of byte-fallback), each then looked up in
      the symbol inventory like any other symbol.
    - **Unknown symbols** — symbols (of known words' merged
      segmentations, or of OOV words' character fallbacks) missing
      from the ``top_n`` id inventory: the rows a real tokenizer maps
      to <unk> or byte-fallback ids. A small ``top_n`` truncates the
      inventory and surfaces these even on the training slice.

    Accounting invariant (pinned in tests): every symbol is either
    mapped or unknown — n_symbols = mapped + unk, nothing silently
    drops. Returns (lang, n_words, n_oov_words, oov_word_rate_r,
    n_symbols, n_unk_symbols, unk_rate_r), micro-unit rounded rates.

    Scale shape: the model tables (merged vocab, id inventory) are
    vocabulary-bounded and broadcast; the corpus explodes to words
    once and joins on the word key; the character-fallback explode
    touches only OOV occurrences. Output is |langs| rows."""
    from bigdata_capstone_spark.operators.relational import fan_out

    _, cur = _bpe_train(train if train is not None else df, text_col, k)
    ids = _token_inventory(cur, top_n).select(
        "token", F.lit(1).alias("__known")
    )
    known = (
        cur.select(
            "w",
            F.explode(
                F.split(
                    F.expr("substring(s, 2, length(s) - 2)"), BPE_SEP * 2
                )
            ).alias("token"),
        )
        .join(F.broadcast(ids), on="token", how="left")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("w_syms"),
            F.sum(
                F.when(F.col("__known").isNull(), 1).otherwise(0)
            ).cast("long").alias("w_unk"),
        )
    )
    words = fan_out(df).select(
        F.col(lang_col).alias("lang"),
        F.explode(tokens_col(text_col)).alias("w"),
    )
    jw = words.join(known, on="w", how="left")
    fb = (
        jw.filter(F.col("w_syms").isNull())
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.col("w").substr(i, F.lit(1)),
                )
            ).alias("token"),
        )
        .join(F.broadcast(ids), on="token", how="left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fb"),
            F.sum(
                F.when(F.col("__known").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_fb_unk"),
        )
    )
    base = jw.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.when(F.col("w_syms").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov_words"),
        F.sum(F.coalesce(F.col("w_syms"), F.lit(0)))
        .cast("long")
        .alias("nk"),
        F.sum(F.coalesce(F.col("w_unk"), F.lit(0)))
        .cast("long")
        .alias("nku"),
    )
    rate = lambda a, b: (  # noqa: E731
        F.round(a * 1_000_000 / b, 0).cast("long") / F.lit(1_000_000.0)
    )
    return (
        base.join(fb, on="lang", how="left")
        .select(
            "lang",
            "n_words",
            "n_oov_words",
            rate(F.col("n_oov_words"), F.col("n_words")).alias(
                "oov_word_rate_r"
            ),
            (F.col("nk") + F.coalesce(F.col("n_fb"), F.lit(0)))
            .cast("long")
            .alias("n_symbols"),
            (F.col("nku") + F.coalesce(F.col("n_fb_unk"), F.lit(0)))
            .cast("long")
            .alias("n_unk_symbols"),
        )
        .withColumn(
            "unk_rate_r", rate(F.col("n_unk_symbols"), F.col("n_symbols"))
        )
    )
